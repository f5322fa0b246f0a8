"""Deduplication operators for web-scale training-data pipelines.

All hashing is the engine's shared ``hash8`` family and stays JVM-side —
no Python workers anywhere in this module. Two hash families (see
:func:`default_hash_family`): md5 (oracle parity with DuckDB) and xxhash64
(the scale path — the JVM md5 provider serializes at ~7M hashes/s).

- exact dedup: md5 fingerprint groupBy (hash-groupBy; salting unnecessary —
  fingerprints are uniform)
- MinHash + LSH: word shingles -> k min-hashes -> banded bucket join
- SimHash: per-word hash sign-sums over b bits; Hamming pairs via
  pigeonhole (max_distance+1)-block joins
- n-gram Jaccard: exact verification on LSH candidate pairs
- near_dup_clusters: verified pairs (+ identical-signature rep edges) ->
  connected components (labeling.merge_labels) -> keep-list
- embedding near-dup: banded multi-table hyperplane LSH -> exact cosine
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .labeling import merge_labels


def default_hash_family() -> str:
    """Hash family for signature hashing, from ``SPARK_GRAFT_HASH_FAMILY``.

    - ``md5`` (default): oracle-parity mode — byte-identical to the DuckDB
      oracle's hash8_sql; used by the sf0.01 correctness battery.
    - ``xxhash64``: the 100 TB scale path — the JVM's md5 provider is
      effectively serialized (~7M hashes/s total regardless of cores), while
      xxhash64 is lock-free and ~10x faster. Same distributional role,
      different values (never crosses the oracle). bench.py sets this.
    """
    return os.environ.get("SPARK_GRAFT_HASH_FAMILY", "md5")


def hash8_col(c: Column, salt: str = "", family: str | None = None) -> Column:
    """BIGINT in [0, 2^32): first 8 md5 hex digits (oracle.hash8_sql twin),
    or the xxhash64 equivalent in scale mode (see default_hash_family)."""
    if (family or default_hash_family()) == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(salt), c), F.lit(1 << 32))
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 8), 16, 10).cast("long")


def normalize_text(c: Column) -> Column:
    """Canonical text normalization before fingerprinting: lowercase,
    collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


def exact_dedup(df: DataFrame, key: str, text_col: str = "text") -> DataFrame:
    """(fingerprint, keep_key, n_dups): keep the smallest key per identical
    normalized text — the hash-groupBy exact pass."""
    return (
        df.withColumn("fp", F.md5(normalize_text(F.col(text_col))))
        .groupBy("fp")
        .agg(F.min(key).alias("keep_" + key), F.count(F.lit(1)).alias("n_dups"))
    )


def word_shingles(
    df: DataFrame, key: str, text_col: str = "text", wide: bool = False,
) -> DataFrame:
    """(key, shingle): distinct lowercase word tokens per document.

    ``wide`` fans the input out before the explode (core/parallel.py) —
    worth it only when the downstream aggregate is heavy (the 64-bit
    simhash's 64 conditional sums): for light consumers the extra
    exchange re-executes per broadcast subtree and A/B-measured a net
    loss (battery rows minhash/jaccard/containment ~0.3-0.5s worse)."""
    if wide:
        from ..core.parallel import fan_out

        df = fan_out(df)
    return (
        df
        .select(key, F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("shingle"))
        .where(F.length("shingle") > 0)
        .distinct()
    )


def minhash_signatures(
    df: DataFrame, key: str, text_col: str = "text", n_hashes: int = 8,
    family: str | None = None, shingles: DataFrame | None = None,
) -> DataFrame:
    """(key, sig_0..sig_{n-1}): min over shingles of hash_i(shingle).

    One explode + one hash-aggregate; each hash_i is an independently salted
    md5 — the permutation family. Map-side combine keeps the shuffle at
    O(docs x n_hashes), independent of document length.

    ``shingles``: an already-computed word_shingles(df) frame (callers that
    also verify with exact Jaccard materialize it once and share it).
    """
    sh = word_shingles(df, key, text_col) if shingles is None else shingles
    aggs = [
        F.min(hash8_col(F.col("shingle"), f"mh{i}-", family=family)).alias(f"sig_{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(key).agg(*aggs)


def band_rows(sigs: DataFrame, key: str, bands: int, rows_per_band: int) -> DataFrame:
    """(key, band_id, band_val) LSH band rows — the ONE banding encoding
    (concat of the band's signature values), shared by the batch candidate
    join and the streaming band store so they can never disagree."""
    cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        cols.append(F.struct(F.lit(b).alias("band_id"), F.concat_ws("|", *parts).alias("band_val")))
    return sigs.select(key, F.explode(F.array(*cols)).alias("bv")).select(
        key, F.col("bv.band_id").alias("band_id"), F.col("bv.band_val").alias("band_val")
    )


def identical_signature_edges(sigs: DataFrame, key: str) -> DataFrame:
    """(key_a=rep, key_b=member) edges linking every document to the min-key
    representative of its identical-signature group — LINEAR in group size.
    lsh_candidate_pairs collapses these groups before the bucket join (the
    right call: pairing them is quadratic waste), so any consumer building
    CLUSTERS from candidate pairs must add these edges back or collapsed
    members silently survive dedup as singletons."""
    sig_cols = [c for c in sigs.columns if c.startswith("sig_")]
    reps = sigs.groupBy(*sig_cols).agg(F.min(key).alias("_rep"))
    return (
        sigs.join(reps, sig_cols)
        .where(F.col(key) != F.col("_rep"))
        .select(F.col("_rep").alias("key_a"), F.col(key).alias("key_b"))
    )


def collapse_identical_signatures(sigs: DataFrame, key: str) -> DataFrame:
    """Exact-duplicate collapse before near-dup search: documents with
    identical full MinHash signatures form one group represented by the min
    key (web corpora are dominated by exact dups; pairing them would be
    quadratic waste). Returns one row per distinct signature with
    ``n_members``."""
    sig_cols = [c for c in sigs.columns if c.startswith("sig_")]
    return sigs.groupBy(*sig_cols).agg(
        F.min(key).alias(key), F.count(F.lit(1)).alias("n_members")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, key: str, bands: int = 4, rows_per_band: int = 2,
    collapse_identical: bool = True,
) -> DataFrame:
    """(key_a, key_b) candidate pairs sharing at least one LSH band bucket.

    band value = concat of its rows' signatures; bucket join is an
    equi-self-join on (band_id, band_val) — the banding turns near-dup
    search from O(n^2) into per-bucket joins. Identical-signature documents
    are collapsed to one representative first (see
    :func:`collapse_identical_signatures`).
    """
    if collapse_identical:
        sigs = collapse_identical_signatures(sigs, key)
    banded = band_rows(sigs, key, bands, rows_per_band)
    a = banded.select(F.col(key).alias("key_a"), "band_id", "band_val")
    b = banded.select(F.col(key).alias("key_b"), "band_id", "band_val")
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )


def jaccard_on_pairs(pairs: DataFrame, shingles: DataFrame, key: str) -> DataFrame:
    """Exact Jaccard for candidate pairs: |A ∩ B| via a shingle equi-join,
    |A ∪ B| = |A| + |B| - |A ∩ B|."""
    sizes = shingles.groupBy(key).agg(F.count(F.lit(1)).alias("sz"))
    sa = shingles.select(F.col(key).alias("key_a"), "shingle")
    sb = shingles.select(F.col(key).alias("key_b"), "shingle")
    inter = (
        pairs.join(sa, "key_a").join(sb, ["key_b", "shingle"])
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(key, "key_a").withColumnRenamed("sz", "sz_a"), "key_a")
        .join(sizes.withColumnRenamed(key, "key_b").withColumnRenamed("sz", "sz_b"), "key_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .select("key_a", "key_b", "jaccard")
    )


def containment_on_pairs(pairs: DataFrame, shingles: DataFrame, key: str) -> DataFrame:
    """Exact one-sided containment for candidate pairs:
    cont_a = |A ∩ B| / |A|, cont_b = |A ∩ B| / |B| — the quote/subset
    detector symmetric Jaccard misses (a short doc fully quoted inside a
    long one has tiny Jaccard but cont_short = 1.0; Broder 1997's
    containment). Identical join shape to jaccard_on_pairs: one shingle
    equi-join for the intersection, two size joins."""
    sizes = shingles.groupBy(key).agg(F.count(F.lit(1)).alias("sz"))
    sa = shingles.select(F.col(key).alias("key_a"), "shingle")
    sb = shingles.select(F.col(key).alias("key_b"), "shingle")
    inter = (
        pairs.join(sa, "key_a").join(sb, ["key_b", "shingle"])
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(key, "key_a").withColumnRenamed("sz", "sz_a"), "key_a")
        .join(sizes.withColumnRenamed(key, "key_b").withColumnRenamed("sz", "sz_b"), "key_b")
        .select(
            "key_a", "key_b",
            F.round(F.col("inter") / F.col("sz_a"), 6).alias("cont_a"),
            F.round(F.col("inter") / F.col("sz_b"), 6).alias("cont_b"),
        )
    )


def near_dup_clusters(
    docs: DataFrame, pairs: DataFrame, key: str,
    key_a: str = "key_a", key_b: str = "key_b",
) -> DataFrame:
    """Transitive near-dup clusters + keep-list — the step that turns
    verified pairs into an actual dedup decision.

    Connected components over the pair graph; docs in no pair are their
    own singleton cluster. Output: (key, cluster_id, keep) where
    cluster_id = min key in the component (same type as ``key``) and keep
    marks the representative.

    The pair graph goes through labeling.merge_labels, the merge raster
    labeling uses: a driver union-find while the distinct pairs number at
    most ``labeling.DRIVER_MAX_EDGES``, the distributed merge above it.
    The guard bounds EDGES (the verified near-dup pairs — tiny relative to
    the corpus), never the doc count: singletons are labeled by the
    broadcast join, not collected.
    """
    labeled = docs.select(F.col(key).alias("_k"), F.col(key).alias("label"))
    edges = pairs.select(F.col(key_a).alias("label"), F.col(key_b).alias("nbr_label"))
    return merge_labels(labeled, edges).select(
        F.col("_k").alias(key),
        F.col("label").alias("cluster_id"),
        (F.col("_k") == F.col("label")).alias("keep"),
    )


def simhash(df: DataFrame, key: str, text_col: str = "text", bits: int = 16) -> DataFrame:
    """(key, simhash): b-bit sign-sum fingerprint over word hashes.

    bit j of hash(word) contributes +1/-1; simhash bit j = (sum > 0).
    Single explode + one aggregate with b conditional sums (JVM-side).

    bits <= 32 draws word bits from the shared 32-bit ``hash8`` family
    (md5 oracle parity); bits up to 64 — the 100 TB scale width, where
    16-bit blocking degenerates into huge buckets — draws from the full
    64-bit ``xxhash64`` (no DuckDB twin, so 64-bit queries are
    rows-only/pytest-verified). Bit 63 is the sign bit of the packed
    signed long.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits={bits} must be in [1, 64]")
    if bits <= 32:
        h = hash8_col(F.col("shingle"), "simhash-")
    else:
        h = F.xxhash64(F.lit("simhash-"), F.col("shingle"))
    sh = word_shingles(df, key, text_col, wide=bits > 32).withColumn("h", h)
    # one F.expr per aggregate / one for the packing instead of ~10 py4j
    # round-trips per bit: at bits=64 the Column-algebra form spent more
    # DRIVER time building the plan than the cluster spent running it
    # (measured 1.5 s build vs 1.7 s exec per bench invocation; same
    # parsed expressions, so the physical plan is unchanged)
    sums = [
        F.expr(f"SUM(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END)").alias(f"s{j}")
        for j in range(bits)
    ]
    agg = sh.groupBy(key).agg(*sums)
    terms = [
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j if j < 63 else -(1 << 63)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    ]
    out = F.expr("CAST(0 AS BIGINT) | " + " | ".join(terms))  # j=63: sign bit
    return agg.select(key, out.alias("simhash"))


def hamming_near_pairs(sim: DataFrame, key: str, bits: int = 16, max_distance: int = 2) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, via bit_count on XOR.

    Blocking: split the fingerprint into ``max_distance + 1`` contiguous bit
    blocks and equi-join on (block_id, block_value). Pigeonhole: at most
    ``max_distance`` differing bits spread over ``max_distance + 1`` blocks
    leave at least one block identical, so recall is exact — two blocks only
    guarantee distance <= 1 (a pair with one differing bit in each half
    matches neither half).

    ``bits=64`` is the scale width: 16-bit fingerprints at max_distance=2
    put 5-6 bits per block (<= 64 distinct buckets — degenerate, quadratic
    buckets at corpus scale), while 64-bit blocks carry 21-22 bits each
    (~2M bucket values), keeping the candidate join sub-quadratic."""
    n_blocks = max_distance + 1
    if n_blocks > bits:
        # every block must carry >= 1 bit; a zero-length block has mask 0,
        # collides everything, and silently degenerates to a cross join
        raise ValueError(f"max_distance={max_distance} requires max_distance + 1 <= bits={bits}")
    base, rem = divmod(bits, n_blocks)
    block_exprs, start = [], 0
    for i in range(n_blocks):
        ln = base + (1 if i < rem else 0)
        if ln >= 64:  # single 64-bit block (max_distance=0): the raw value
            val = F.col("simhash")
        else:
            val = F.shiftright("simhash", start).bitwiseAND(F.lit((1 << ln) - 1))
        block_exprs.append(F.struct(
            F.lit(i).alias("blk_id"),
            val.alias("blk_val"),
        ))
        start += ln
    blocked = sim.select(
        key, "simhash", F.explode(F.array(*block_exprs)).alias("b")
    ).select(key, "simhash", F.col("b.blk_id").alias("blk_id"), F.col("b.blk_val").alias("blk_val"))
    a = blocked.select(F.col(key).alias("key_a"), F.col("simhash").alias("sh_a"), "blk_id", "blk_val")
    b = blocked.select(F.col(key).alias("key_b"), F.col("simhash").alias("sh_b"), "blk_id", "blk_val")
    pairs = a.join(b, ["blk_id", "blk_val"]).where(F.col("key_a") < F.col("key_b")).drop("blk_id", "blk_val")
    return (
        pairs.distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_distance)
        .select("key_a", "key_b", "hamming")
    )


def embedding_near_dup(
    emb: DataFrame, key: str, vec_col: str = "embedding",
    n_planes: int = 8, seed: int = 42, dim: int | None = None,
    cosine_threshold: float = 0.9, n_tables: int = 2,
) -> DataFrame:
    """Near-dup pairs by embedding cosine: banded multi-table random-
    hyperplane LSH, then exact cosine within buckets.

    ``n_tables`` independent hash tables of ``n_planes`` sign bits each:
    candidates collide in ANY table (recall knob), while per-table bucket
    count stays 2^n_planes (collision-size knob). A single table caps at
    2^n_planes buckets, whose per-bucket self-joins go quadratic at corpus
    scale — raise n_planes to shrink buckets and n_tables to restore
    recall; the join volume is Σ_tables Σ_buckets |bucket|², never |corpus|².

    Planes are seed-deterministic numpy shipped as literal arrays; all dot
    products are `F.zip_with`+`F.aggregate` — JVM-side, no Python.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim))

    def dot_with(plane: np.ndarray) -> Column:
        lit = F.lit([float(x) for x in plane])  # one py4j call per plane
        return F.aggregate(
            F.zip_with(F.col(vec_col), lit, lambda a, b: a.cast("double") * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    tables = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for i in range(n_planes):
            bucket = bucket.bitwiseOR(
                F.when(dot_with(planes[t, i]) > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
            )
        tables.append(F.struct(F.lit(t).alias("t"), bucket.alias("b")))
    from ..core.parallel import fan_out

    bucketed = fan_out(emb).select(
        key, vec_col, F.explode(F.array(*tables)).alias("tb")
    ).select(key, vec_col, F.col("tb.t").alias("t"), F.col("tb.b").alias("bucket"))

    a = bucketed.select(F.col(key).alias("key_a"), F.col(vec_col).alias("va"), "t", "bucket")
    b = bucketed.select(F.col(key).alias("key_b"), F.col(vec_col).alias("vb"), "t", "bucket")
    # dedup multi-table collisions on the KEYS only — va/vb are determined
    # by the keys, and .distinct() would shuffle the full embedding arrays
    pairs = (
        a.join(b, ["t", "bucket"]).where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "va", "vb").dropDuplicates(["key_a", "key_b"])
    )

    def dot(x: str, y: str) -> Column:
        return F.aggregate(
            F.zip_with(F.col(x), F.col(y), lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v,
        )

    def norm(x: str) -> Column:
        return F.sqrt(F.aggregate(
            F.transform(F.col(x), lambda p: p.cast("double") * p.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v,
        ))

    return (
        pairs.withColumn("cosine", dot("va", "vb") / (norm("va") * norm("vb")))
        .where(F.col("cosine") >= cosine_threshold)
        .select("key_a", "key_b", "cosine")
    )


def sorted_neighborhood_pairs(
    df: DataFrame, key: str, text_col: str = "text",
    window: int = 3, block_chars: int = 2, jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernandez & Stolfo 1995) —
    the sort-based alternative to LSH banding: sort documents by a
    canonical sort key, compare each row only to its next ``window``
    neighbors, verify with token-set Jaccard. Complements MinHash/LSH: no
    hashing recall loss for near-identical prefixes, and the candidate
    volume is exactly n * window by construction (never quadratic).

    Distributed shape: partition by a ``block_chars``-char prefix BLOCK of
    the sort key, sort only within blocks (the standard blocked SNM — a
    range partition + local sort at cluster scale, no global single-task
    window). Neighbors that straddle a block boundary are missed, the
    documented SNM trade; multi-pass with a second sort key is the
    standard mitigation. Pair generation is a window ``lead`` — one
    shuffle keyed by block; Jaccard rides array_intersect on the
    already-distinct token sets (no second explode/join pass).

    Output: (key_a, key_b, jaccard) for candidates >= threshold.
    """
    from pyspark.sql.window import Window as _W

    norm = F.coalesce(normalize_text(F.col(text_col)), F.lit(""))
    base = df.select(
        F.col(key).alias("key_a"),
        norm.alias("skey"),
        F.array_distinct(
            F.filter(F.split(norm, " "), lambda t: F.length(t) > 0)
        ).alias("toks_a"),
    ).withColumn("block", F.substring("skey", 1, block_chars))
    w = _W.partitionBy("block").orderBy(F.col("skey").asc(), F.col("key_a").asc())
    # window functions are illegal inside a generator expression — stage
    # each lead as a named column first, then explode the struct array
    led = base
    for i in range(1, window + 1):
        led = led.withColumn(f"_kb{i}", F.lead("key_a", i).over(w)).withColumn(
            f"_tb{i}", F.lead("toks_a", i).over(w)
        )
    leads = F.array(*[
        F.struct(
            F.col(f"_kb{i}").alias("key_b"), F.col(f"_tb{i}").alias("toks_b")
        )
        for i in range(1, window + 1)
    ])
    pairs = (
        led.withColumn("nb", F.explode(leads))
        .where(F.col("nb.key_b").isNotNull())
        .select("key_a", "toks_a", F.col("nb.key_b").alias("key_b"),
                F.col("nb.toks_b").alias("toks_b"))
    )
    isz = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    usz = (F.size("toks_a") + F.size("toks_b")).cast("double") - isz
    jac = F.when(usz > 0, isz / usz).otherwise(F.lit(1.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select(
            F.least("key_a", "key_b").alias("key_a"),
            F.greatest("key_a", "key_b").alias("key_b"),
            "jaccard",
        )
    )


def ngram_shingle_sets(
    df: DataFrame, key: str, text_col: str = "text", n: int = 3,
) -> DataFrame:
    """(key, toks: array<string>, n_toks): the DISTINCT word n-gram
    shingle set per document, as one array row. Shingles are built by a
    per-row array transform (zip of the token array against its own
    shifted self) — no positions explode/self-join.

    The token array rides the Generate fence (explode of a 1-element
    array): element_at inside the transform lambda would otherwise
    re-substitute and re-evaluate the whole normalize+split+filter chain
    PER ELEMENT PER n — ~3n regex normalizations per document (measured
    14.8s -> 1.4s for 5000 sf0.1 docs)."""
    from ..core.parallel import fan_out

    norm = F.coalesce(normalize_text(F.col(text_col)), F.lit(""))
    ws_expr = F.filter(F.split(norm, " "), lambda t: F.length(t) > 0)
    staged = fan_out(df).select(F.col(key), F.explode(F.array(ws_expr)).alias("_ws"))
    ws = F.col("_ws")
    grams = F.array_distinct(
        F.transform(
            F.slice(ws, 1, F.greatest(F.size(ws) - (n - 1), F.lit(0))),
            lambda _, i: F.concat_ws(
                " ", *[F.element_at(ws, i + j + 1) for j in range(n)]
            ),
        )
    )
    return staged.select(
        F.col(key), grams.alias("toks"), F.size(grams).alias("n_toks")
    )


def setsim_join(
    df: DataFrame, key: str, text_col: str = "text",
    threshold: float = 0.5, shingle_n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Chaudhuri 2006
    / PPJoin, Xiao 2008) — the third candidate-generation paradigm next to
    LSH banding and sorted neighborhood, and unlike LSH it has NO recall
    loss: every pair with Jaccard >= threshold is found.

    Filters, in order of cheapness:
    - length filter: |A| >= ceil(t * |B|) (joined as a range predicate on
      the carried sizes — a pair whose sizes differ too much cannot reach
      t even with full containment);
    - prefix filter: order every set by GLOBAL shingle frequency
      (rarest first, ties lexicographic); a qualifying pair must share a
      shingle within each side's first n - ceil(t*n) + 1 elements. Rare
      shingles go first, so prefix postings are the SMALL end of the Zipf
      skew — the exact opposite of the "the"-posting hot spot;
    - positional (ppjoin) filter: for the FIRST shared token of any
      qualifying pair, every earlier token on each side is absent from
      the other, so i <= 1 + min(na-pa, nb-pb); require that bound to
      reach alpha = ceil(t/(1+t) * (na+nb)), the minimum intersection any
      Jaccard >= t pair must have. Rows for later shared tokens may be
      (correctly) dropped — the first-token row always survives;
    - exact verify: array_intersect Jaccard on the full sets.

    Shape: shingle-df aggregate (vocab-sized), sort per doc (per-row array
    sort, no shuffle), prefix explode -> equi-join on shingle, then ONE
    join back per side to the full sets by key. `ranked` feeds three
    branches of one job, so it is eagerly materialized (localCheckpoint)
    — on a cluster this is one narrow cached stage, and without it the
    shingle+df subtree re-executes per branch. At 10^12 docs the prefix
    postings table is the only fan-out and it is bounded by prefix length,
    not document length.

    Output: (key_a, key_b, jaccard) — all pairs >= threshold.
    """
    t = float(threshold)
    sets = ngram_shingle_sets(df, key, text_col, n=shingle_n).where(
        F.col("n_toks") > 0
    )
    flat = sets.select(F.col(key), F.explode("toks").alias("sh"))
    dfreq = flat.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df_sh"))
    ranked = (
        flat.join(dfreq, "sh")
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df_sh", "sh"))),
                lambda s: s["sh"],
            ).alias("toks")
        )
        .withColumn("n_toks", F.size("toks"))
    ).localCheckpoint(eager=True)
    pref_len = F.col("n_toks") - F.ceil(F.lit(t) * F.col("n_toks")).cast("int") + 1
    prefix = ranked.select(
        F.col(key), "n_toks",
        F.posexplode(F.slice("toks", 1, pref_len)).alias("p0", "sh"),
    )
    # distinct column names per side: a self-join on a shared-lineage 'sh'
    # column logs Spark's trivially-true-predicate warning and leans on
    # dataset-id disambiguation — explicit aliases make the equi-join key
    # unambiguous
    a = prefix.select(
        F.col(key).alias("key_a"), F.col("n_toks").alias("na"),
        (F.col("p0") + 1).alias("pa"), F.col("sh").alias("sh_a"),
    )
    b = prefix.select(
        F.col(key).alias("key_b"), F.col("n_toks").alias("nb"),
        (F.col("p0") + 1).alias("pb"), F.col("sh").alias("sh_b"),
    )
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")))
    cand = (
        a.join(
            b,
            (F.col("sh_a") == F.col("sh_b"))
            & (F.col("key_a") < F.col("key_b"))
            # length filter: t <= jac <= min(na,nb)/max(na,nb)
            & (F.col("na") * F.lit(1.0) >= F.lit(t) * F.col("nb"))
            & (F.col("nb") * F.lit(1.0) >= F.lit(t) * F.col("na"))
            # ppjoin positional upper bound vs the alpha overlap floor
            & (F.lit(1) + F.least(F.col("na") - F.col("pa"),
                                  F.col("nb") - F.col("pb")) >= alpha),
        )
        .select("key_a", "key_b")
        .dropDuplicates(["key_a", "key_b"])
    )
    sa = ranked.select(F.col(key).alias("key_a"), F.col("toks").alias("ta"))
    sb = ranked.select(F.col(key).alias("key_b"), F.col("toks").alias("tb"))
    verified = cand.join(sa, "key_a").join(sb, "key_b")
    isz = F.size(F.array_intersect("ta", "tb")).cast("double")
    usz = (F.size("ta") + F.size("tb")).cast("double") - isz
    jac = isz / usz
    return (
        verified.where(jac >= F.lit(float(threshold)))
        .select("key_a", "key_b", F.round(jac, 6).alias("jaccard"))
    )
