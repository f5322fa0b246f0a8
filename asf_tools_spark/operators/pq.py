"""Product quantization (PQ) for embedding similarity search (Jégou et al.
2011, public literature): split each d-dim vector into ``m`` subvectors,
vector-quantize each subspace against a 2^nbits codebook, store codes as
``array<tinyint>`` (``smallint`` for nbits 8..15) — d·4 bytes -> m bytes
per vector (e.g. 64-dim float ->
8 bytes at m=8), the memory/shuffle lever that makes billion-vector ANN fit
a cluster. Query-time scoring is ADC (asymmetric distance computation): a
per-query lookup table of subspace distances, summed by code index —
no decode, no float vectors touched at scan time.

Division of labor (the FAISS shape, re-expressed for Spark):
- TRAIN on a deterministic one-pass sample, locally in numpy on the driver
  (codebooks are tiny driver state, like IVF centroids / the reference's
  scalar decisions);
- ENCODE distributed: one Arrow-batched pandas UDF, one BLAS distance
  matmul per subspace per batch;
- SCORE JVM-side: the query LUTs ride a broadcast join and the ADC sum is
  zip_with + element_at + aggregate — whole-stage codegen over the code
  column, zero Python in the corpus scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..core.io import local_frame


def _code_types(ksub: int) -> tuple[str, "np.dtype"]:
    """Spark/numpy storage for code indices: tinyint holds 0..127 only —
    ksub=256 (nbits=8, the FAISS default width) would silently WRAP under
    int8 (200 -> -56) and negative codes make element_at index from the
    array end. Widen to smallint at ksub > 128."""
    if ksub <= 128:
        return "array<tinyint>", np.int8
    if ksub <= 32768:
        return "array<smallint>", np.int16
    raise ValueError(f"ksub={ksub} codewords per subspace is not supported")


def _local_kmeans(X: np.ndarray, k: int, n_iters: int, seed_order: np.ndarray) -> np.ndarray:
    """Deterministic local Lloyd: init = first k distinct rows in sample
    order (the sample itself is hash-ordered), then plain iterations.
    Empty clusters keep their previous centroid."""
    _, first_idx = np.unique(X[seed_order], axis=0, return_index=True)
    init_rows = seed_order[np.sort(first_idx)[:k]]
    cents = X[init_rows].astype(np.float64).copy()
    if len(cents) < k:  # fewer distinct points than codewords
        cents = np.vstack([cents, np.repeat(cents[-1:], k - len(cents), axis=0)])
    for _ in range(n_iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            pts = X[a == j]
            if len(pts):
                cents[j] = pts.mean(axis=0)
    return cents


def pq_train(
    emb: DataFrame, m: int = 4, nbits: int = 4, key: str = "vec_id",
    vec_col: str = "embedding", seed: int = 0, sample_size: int = 2048,
    n_iters: int = 5,
) -> np.ndarray:
    """Train (m, 2^nbits, d/m) codebooks on a seeded-xxhash64 top-N sample
    — ONE corpus pass (TakeOrdered, no sort shuffle), then local per-subspace
    k-means. Sampling for codebook training is the standard PQ recipe; the
    codebook is O(m·2^nbits·dsub) driver state."""
    rows = (
        emb.orderBy(F.xxhash64(F.col(key), F.lit(seed)), F.col(key))
        .limit(sample_size).select(vec_col).collect()
    )
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub, ksub = d // m, 1 << nbits
    order = np.arange(len(X))
    return np.stack([
        _local_kmeans(X[:, j * dsub:(j + 1) * dsub], ksub, n_iters, order)
        for j in range(m)
    ])


def pq_encode(
    emb: DataFrame, codebooks: np.ndarray, key: str = "vec_id",
    vec_col: str = "embedding", out_col: str = "pq_code",
) -> DataFrame:
    """Adds ``pq_code``: array<tinyint> of length m — each subvector's
    nearest codeword by L2 (ties to the lowest code, numpy argmin). One
    narrow Arrow-batched pandas UDF; per batch, one ||x-c||^2 BLAS expansion
    per subspace. No shuffle."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape
    cb_sq = (cb ** 2).sum(axis=2)  # (m, ksub)
    sql_t, np_t = _code_types(ksub)

    @F.pandas_udf(sql_t)
    def encode(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((len(X), m), dtype=np_t)
        for j in range(m):
            sub = X[:, j * dsub:(j + 1) * dsub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant in argmin
            d2 = cb_sq[j][None, :] - 2.0 * (sub @ cb[j].T)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return emb.withColumn(out_col, encode(F.col(vec_col)))


def pq_train_residual(
    emb: DataFrame, centroids: np.ndarray, m: int = 4, nbits: int = 4,
    key: str = "vec_id", vec_col: str = "embedding", seed: int = 0,
    sample_size: int = 2048, n_iters: int = 5, assigned: DataFrame | None = None,
) -> np.ndarray:
    """IVFPQ codebooks: trained on RESIDUALS (x - nearest coarse centroid)
    of a one-pass seeded sample — residual energy is what PQ must encode
    once IVF has removed the coarse structure (the FAISS IVFPQ recipe).

    ``assigned``: pass an (ideally cached) ivf_assign(emb, centroids)
    frame to reuse one coarse assignment across train + encode instead of
    recomputing it per call — identical rows, so the sample is unchanged."""
    from .similarity import ivf_assign

    if assigned is None:
        assigned = ivf_assign(emb, centroids, key, vec_col)
    rows = (
        assigned
        .orderBy(F.xxhash64(F.col(key), F.lit(seed)), F.col(key))
        .limit(sample_size).select(vec_col, "list_id").collect()
    )
    cents = np.asarray(centroids, dtype=np.float64)
    X = np.array(
        [np.asarray(list(r[0]), dtype=np.float64) - cents[r[1]] for r in rows]
    )
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub, ksub = d // m, 1 << nbits
    order = np.arange(len(X))
    return np.stack([
        _local_kmeans(X[:, j * dsub:(j + 1) * dsub], ksub, n_iters, order)
        for j in range(m)
    ])


def ivfpq_encode(
    emb: DataFrame, centroids: np.ndarray, codebooks: np.ndarray,
    key: str = "vec_id", vec_col: str = "embedding", out_col: str = "pq_code",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(corpus columns, list_id, pq_code): IVF coarse assignment + PQ codes
    of the residual. One ivf_assign (narrow) + one Arrow-batched UDF; the
    coarse centroid matrix rides the closure (tiny). Partitioning the
    output by list_id co-locates each inverted list for the probe join.
    ``assigned``: reuse a precomputed ivf_assign(emb, centroids) frame
    (shared with pq_train_residual) instead of recomputing it."""
    from .similarity import ivf_assign

    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape
    cb_sq = (cb ** 2).sum(axis=2)
    sql_t, np_t = _code_types(ksub)

    if assigned is None:
        assigned = ivf_assign(emb, cents, key, vec_col)

    @F.pandas_udf(sql_t)
    def encode(vecs: pd.Series, lists: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64) - cents[lists.to_numpy()]
        codes = np.empty((len(X), m), dtype=np_t)
        for j in range(m):
            sub = X[:, j * dsub:(j + 1) * dsub]
            d2 = cb_sq[j][None, :] - 2.0 * (sub @ cb[j].T)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return assigned.withColumn(out_col, encode(F.col(vec_col), F.col("list_id")))


def ivfpq_topk(
    codes: DataFrame, queries: DataFrame, centroids: np.ndarray,
    codebooks: np.ndarray, key: str = "vec_id", vec_col: str = "embedding",
    code_col: str = "pq_code", k: int = 5, nprobe: int = 2,
) -> DataFrame:
    """IVFPQ ANN: each query probes its ``nprobe`` nearest inverted lists
    and scores ONLY those lists' codes by residual-ADC — the join is
    (query, probed list) x list-partitioned codes on list_id, never the
    whole corpus; scoring stays JVM-side (zip_with + element_at +
    aggregate). The per-(query, list) LUT is built in numpy against that
    list's residual (queries are small and collected, like IVF centroids).
    """
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape
    n_lists = len(cents)
    q_rows = queries.select(F.col(key).alias("q_id"), F.col(vec_col)).collect()
    qmat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    sims = qn @ cn.T
    probe_rows = []
    for qi, r in enumerate(q_rows):
        order = np.argsort(-sims[qi], kind="stable")[: min(nprobe, n_lists)]
        for lid in order:
            resid = qmat[qi] - cents[lid]
            lut = [
                ((cb[j] - resid[j * dsub:(j + 1) * dsub][None, :]) ** 2)
                .sum(axis=1).tolist()
                for j in range(m)
            ]
            probe_rows.append((r[0], int(lid), lut))
    spark = codes.sparkSession
    probes = F.broadcast(
        local_frame(spark, probe_rows, "q_id long, list_id int, lut array<array<double>>")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col(code_col), F.col("lut"),
            lambda c, row: F.element_at(row, c.cast("int") + 1),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id").asc())
    return (
        codes.select(F.col(key).alias("c_id"), "list_id", code_col)
        .join(probes, "list_id")
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("adc_dist", adc)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", F.round("adc_dist", 6).alias("adc_dist"), "rank")
    )


def save_ivfpq_index(codes: DataFrame, centroids: np.ndarray,
                     codebooks: np.ndarray, path: str) -> None:
    """Persist an IVFPQ index: codes parquet PARTITIONED BY list_id (a
    probe for list L reads only list_id=L directories — partition pruning
    is the disk-side twin of the probe join's list restriction) + the tiny
    centroid/codebook driver state as JSON. meta.json goes through the
    Hadoop FileSystem like the codes do, so s3://, hdfs://, and local
    paths all work — a local pathlib write would split-brain the index on
    any non-local path."""
    import json

    from ..sources.maintenance import _fs_and_path

    codes.write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/codes")
    meta = {
        "centroids": np.asarray(centroids, dtype=float).tolist(),
        "codebooks": np.asarray(codebooks, dtype=float).tolist(),
    }
    fs, hpath = _fs_and_path(codes.sparkSession, f"{path}/meta.json")
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(meta).encode()))
    finally:
        out.close()


def load_ivfpq_index(spark, path: str) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    import json

    from ..sources.maintenance import _fs_and_path

    # read through Spark (any configured FS scheme); py4j can't fill a
    # Python bytearray through FSDataInputStream.readFully (pass-by-value)
    meta = json.loads(spark.read.text(f"{path}/meta.json", wholetext=True).first()[0])
    codes = spark.read.parquet(f"{path}/codes")
    return codes, np.array(meta["centroids"]), np.array(meta["codebooks"])


def pq_topk(
    codes: DataFrame, queries: DataFrame, codebooks: np.ndarray,
    key: str = "vec_id", vec_col: str = "embedding", code_col: str = "pq_code",
    k: int = 5,
) -> DataFrame:
    """ADC top-k: for each (small, collected) query build the (m, ksub) LUT
    of squared subspace distances in numpy, ship it as a column of the
    broadcast query frame, and score every corpus code JVM-side as
    sum_j lut[j][code_j] (zip_with + element_at + aggregate — whole-stage
    codegen; the float vectors never enter the scan). Ascending distance,
    ties to the lowest corpus key."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape
    q_rows = queries.select(F.col(key).alias("q_id"), F.col(vec_col)).collect()
    spark = codes.sparkSession
    lut_rows = []
    for r in q_rows:
        qv = np.asarray(list(r[1]), dtype=np.float64)
        lut = [
            ((cb[j] - qv[j * dsub:(j + 1) * dsub][None, :]) ** 2).sum(axis=1).tolist()
            for j in range(m)
        ]
        lut_rows.append((r[0], lut))
    q = F.broadcast(
        local_frame(spark, lut_rows, "q_id long, lut array<array<double>>")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col(code_col), F.col("lut"),
            lambda c, row: F.element_at(row, c.cast("int") + 1),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id").asc())
    return (
        codes.select(F.col(key).alias("c_id"), code_col)
        .crossJoin(q)
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("adc_dist", adc)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", F.round("adc_dist", 6).alias("adc_dist"), "rank")
    )


def rerank_exact(
    candidates: DataFrame, emb: DataFrame, queries: DataFrame,
    key: str = "vec_id", vec_col: str = "embedding", k: int = 5,
    metric: str = "l2",
) -> DataFrame:
    """Exact rerank of an ANN shortlist — the standard two-stage recipe
    (FAISS refine / IndexRefineFlat): the compressed index (PQ/IVFPQ ADC)
    proposes a k' > k shortlist cheaply, then only those |q| x k' rows pay
    a full-precision distance. ADC quantization error then affects RECALL
    of the shortlist, never the final ordering.

    ``metric``: "l2" (default — matches what PQ's ADC approximates, so the
    rerank purely removes quantization error) or "cosine" (angle rerank of
    an L2 shortlist: a deliberate metric switch, shortlist recall then
    depends on how correlated the two metrics are on your data).

    ``candidates``: (q_id, c_id, ...) from pq_topk/ivfpq_topk (run those
    with k = k' oversampled, e.g. 4x the final k). The corpus join touches
    only shortlist keys (broadcast — |q| x k' is small by construction);
    queries are broadcast like every query-side frame here."""
    from .similarity import dot_cols, norm_col

    q = F.broadcast(queries.select(
        F.col(key).alias("q_id"), F.col(vec_col).alias("q_vec")
    ))
    cand_vecs = F.broadcast(candidates.select("q_id", "c_id")).join(
        emb.select(F.col(key).alias("c_id"), F.col(vec_col).alias("c_vec")), "c_id"
    )
    joined = cand_vecs.join(q, "q_id")
    if metric == "l2":
        d2 = F.aggregate(
            F.zip_with(
                F.col("q_vec"), F.col("c_vec"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        w = Window.partitionBy("q_id").orderBy(F.col("score").asc(), F.col("c_id").asc())
        scored = joined.withColumn("score", d2)
    elif metric == "cosine":
        cos = dot_cols("q_vec", "c_vec") / (norm_col("q_vec") * norm_col("c_vec"))
        w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id").asc())
        scored = joined.where(
            (norm_col("q_vec") > 0.0) & (norm_col("c_vec") > 0.0)
        ).withColumn("score", cos)
    else:
        raise ValueError(f"metric={metric!r} not in ('l2', 'cosine')")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", F.round("score", 6).alias("score"), "rank")
    )
