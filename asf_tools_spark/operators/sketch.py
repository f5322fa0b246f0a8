"""Sketch-based distinct counting: HyperLogLog per group + lossless sketch
union — the only shape that counts distincts over 100 TB without shuffling
every key. Uses Spark's built-in Datasketches HLL expressions
(hll_sketch_agg / hll_union_agg / hll_sketch_estimate): partial sketches
combine map-side, the merge moves O(groups x sketch bytes), and a rollup
("all sources") is a sketch union, NOT a second scan.

Estimates are rows-only for the oracle (DuckDB's approx_count_distinct is
a different algorithm); the error bound is pytest-pinned instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .. import oracle as _oracle
from ..core.io import local_frame


def distinct_sketch(
    df: DataFrame, group_col: str, value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HLL distinct estimate + an 'ALL' rollup row produced by
    unioning the per-group sketches (no second pass over the data)."""
    per_group = df.groupBy(group_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("_sk"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    grouped = per_group.select(
        F.col(group_col).cast("string").alias("grp"),
        F.round(F.hll_sketch_estimate("_sk")).cast("long").alias("n_distinct_est"),
        "n_rows",
    )
    rollup = per_group.agg(
        F.hll_union_agg("_sk").alias("_u"), F.sum("n_rows").cast("long").alias("n_rows")
    ).select(
        F.lit("ALL").alias("grp"),
        F.round(F.hll_sketch_estimate("_u")).cast("long").alias("n_distinct_est"),
        "n_rows",
    )
    return grouped.unionByName(rollup)


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = 32,
    salt: str = "kmv-",
) -> DataFrame:
    """Per-group KMV (k-minimum-values) distinct estimate (Bar-Yossef
    2002): hash every value into [0, 2^32), keep the k smallest DISTINCT
    hashes per group, estimate n_distinct = (k-1) * 2^32 / h_k.

    Unlike the HLL path above this is fully DETERMINISTIC given the hash —
    the estimate itself cross-checks bit-for-bit against a SQL oracle
    (the md5 parity idiom, oracle.hash8_sql). Groups with fewer than k
    distinct hashes report their exact count (the standard small-set
    convention).

    Shape: one distinct hash-aggregate on (group, hash) — partial combine
    collapses duplicate hashes map-side — then a per-group min-k window
    (shuffle keyed by group; min-k-of-union = min-k-of-partial-min-ks, so
    an RDD aggregateByKey bounded-heap partial is the drop-in if a group's
    distinct count itself is extreme) and one final 1-row-per-group agg.

    Output: (grp, k_used, kth_hash, est_distinct).
    """
    hv = F.expr(_oracle.hash8_sql(value_col, _oracle.SPARK, salt=salt))
    pairs = df.select(
        F.col(group_col).cast("string").alias("grp"), hv.alias("hv")
    ).distinct()
    w = Window.partitionBy("grp").orderBy(F.col("hv").asc())
    topk = pairs.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
    return topk.groupBy("grp").agg(
        F.count("*").cast("long").alias("k_used"),
        F.max("hv").alias("kth_hash"),
        F.round(
            F.when(F.count("*") < k, F.count("*").cast("double")).otherwise(
                F.lit(float(k - 1)) * F.lit(4294967296.0) / F.max("hv")
            ),
            6,
        ).alias("est_distinct"),
    )


def _cm_bucket(value_col: str, row: int, width: int, salt: str) -> F.Column:
    """Row-``row`` Count-Min bucket for a value: md5-family hash mod width
    (the oracle-parity idiom — the identical expression renders in DuckDB)."""
    hv = F.expr(_oracle.hash8_sql(value_col, _oracle.SPARK, salt=f"{salt}{row}-"))
    return (hv % F.lit(width)).cast("int")


def countmin_build(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 256,
    salt: str = "cm",
) -> DataFrame:
    """Build a depth x width Count-Min sketch (Cormode & Muthukrishnan
    2005) over one occurrence-row-per-value input as a TINY table
    (row, bucket, c) — at most depth*width cells regardless of input size.

    Shape: one Generate emitting the depth probes per occurrence, then a
    single hash aggregate. The aggregate partial-combines map-side into at
    most depth*width cells PER TASK, so the shuffle moves O(tasks * d * w)
    rows no matter how many occurrences — this is the whole point of the
    sketch at 10^12 rows, and it is also exactly how two sketches merge
    (cell-wise sum), so per-partition/per-day sketches union for free.
    """
    probes = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("row"),
                _cm_bucket(value_col, i, width, salt).alias("bucket"),
            )
            for i in range(depth)
        ])
    )
    cells = df.select(probes.alias("p")).select("p.row", "p.bucket")
    return cells.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def countmin_estimate(
    sketch: DataFrame, items: DataFrame, value_col: str,
    depth: int = 4, width: int = 256, salt: str = "cm",
) -> DataFrame:
    """Point-estimate counts for ``items`` from a Count-Min sketch:
    est = min over rows of cell(row, bucket_row(item)) — an upper bound on
    the true count (never an undercount; collisions only inflate).

    Shape: Generate the depth probes per item, broadcast the (tiny) sketch
    into the join, one per-item min aggregate. All other ``items`` columns
    are carried through. Missing cells count as 0 (item never seen).
    """
    probes = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("row"),
                _cm_bucket(value_col, i, width, salt).alias("bucket"),
            )
            for i in range(depth)
        ])
    )
    carry = [c for c in items.columns]
    probed = items.select(*carry, probes.alias("p")).select(
        *carry, "p.row", "p.bucket"
    )
    joined = probed.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(*carry).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est_n")
    )


def histogram_quantiles(
    df: DataFrame, group_col: str, value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    n_bins: int = 64, lo: float = 0.0, hi: float = 2048.0,
) -> DataFrame:
    """Per-group quantile ESTIMATES from a fixed-width histogram — the
    single-pass mergeable quantile path for 10^12 rows (per-partition bin
    counts partial-combine map-side; two histograms merge by cell-wise
    sum, unlike exact percentile which needs the full value multiset).

    Estimate: linear interpolation inside the first bin whose cumulative
    count reaches q * total (values below/above [lo, hi) clamp to the edge
    bins, the standard convention). Deterministic given the bounds, so the
    ESTIMATE itself is oracle-checkable — the accuracy/width trade is the
    caller's via n_bins.

    Output: (grp, q, est) — one row per group x quantile.
    """
    bw = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    bin_ = F.greatest(
        F.lit(0),
        F.least(F.lit(n_bins - 1), F.floor((v - F.lit(lo)) / F.lit(bw)).cast("int")),
    )
    counts = (
        df.select(F.col(group_col).cast("string").alias("grp"), bin_.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("grp").orderBy(F.col("bin").asc())
    cum = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("grp"))
    )
    qdf = F.broadcast(
        local_frame(cum.sparkSession, [(float(q),) for q in qs], "q double")
    )
    hit = cum.crossJoin(qdf).where(
        (F.col("cum") >= F.col("q") * F.col("total"))
        & ((F.col("cum") - F.col("cnt")) < F.col("q") * F.col("total"))
    )
    est = (
        F.lit(lo)
        + F.col("bin") * F.lit(bw)
        + F.lit(bw)
        * (F.col("q") * F.col("total") - (F.col("cum") - F.col("cnt")))
        / F.col("cnt")
    )
    return hit.select("grp", "q", F.round(est, 6).alias("est"))
