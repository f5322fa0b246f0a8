"""Wave-2 query registry: dedup / text-analysis / similarity operators with
DuckDB oracles. Same contract as queries.py (DataFrame API on Spark, ANSI
SQL on DuckDB, shared md5-hash idiom, rounded float outputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import oracle
from .core.io import local_frame
from .operators import dedup, similarity, text


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    from .core.io import register_views

    register_views(spark, sf_dir, *names)


N_MINHASH = 8
BANDS, ROWS_PER_BAND = 2, 4  # stricter bands: testdata vocab is tiny (31 words)
SIMHASH_BITS = 16
RECALL_SAMPLE = 400  # deterministic doc_id slice bounding the O(n^2) truth join
# DuckDB 1.0's generate_series takes constants only, so position-enumerating
# oracles use a fixed range + WHERE. Docs above this word count would make an
# oracle silently drop tail n-grams -> tests/test_oracle_types.py pins the
# testdata max word count under this cap so a fixture regen fails LOUDLY.
ORACLE_MAX_WORDS = 2000
# phrase_search needle: the corpus's most frequent word trigram at sf0.01
# (8 hits in 5 docs — exercises n_matches > 1); absent at sf0.001 (0 rows
# from entry-smoke is fine, the correctness gate runs at sf0.01)
PHRASE = "slow hash batch"


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    return dedup.minhash_signatures(spark.table("documents"), "doc_id", n_hashes=N_MINHASH)


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(spark.table("documents"), "doc_id", n_hashes=N_MINHASH)
    return dedup.lsh_candidate_pairs(sigs, "doc_id", BANDS, ROWS_PER_BAND)


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", n_hashes=N_MINHASH)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", BANDS, ROWS_PER_BAND)
    sh = dedup.word_shingles(docs, "doc_id")
    out = dedup.jaccard_on_pairs(pairs, sh, "doc_id")
    return out.select("key_a", "key_b", F.round("jaccard", 6).alias("jaccard"))


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided shingle containment on LSH candidate pairs (Broder 1997)
    — the quote/subset detector symmetric Jaccard misses (a short doc
    fully quoted in a long one: tiny Jaccard, cont_short = 1). Same
    intersection equi-join shape as jaccard_pairs; oracle replays the
    identical algebra."""
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", n_hashes=N_MINHASH)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", BANDS, ROWS_PER_BAND)
    sh = dedup.word_shingles(docs, "doc_id")
    return dedup.containment_on_pairs(pairs, sh, "doc_id")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup DECISION: MinHash -> LSH candidates ->
    exact-Jaccard verify (>= 0.8) -> transitive clusters (connected
    components, labeling.merge_labels) -> keep-list. Every document gets (cluster_id, keep).

    Identical-signature groups are added back as rep->member edges:
    lsh_candidate_pairs deliberately collapses them before the bucket join,
    so without these edges a collapsed member would survive as a singleton
    with keep=true."""
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    # shingles feed signatures + the 3-way Jaccard verify; sigs feed
    # banding + identical-signature edges — one materialization each
    sh = dedup.word_shingles(docs, "doc_id").localCheckpoint(eager=True)
    sigs = dedup.minhash_signatures(
        docs, "doc_id", n_hashes=N_MINHASH, shingles=sh
    ).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", BANDS, ROWS_PER_BAND)
    verified = dedup.jaccard_on_pairs(pairs, sh, "doc_id").where(
        F.round("jaccard", 6) >= 0.8
    ).select("key_a", "key_b")
    ident = dedup.identical_signature_edges(sigs, "doc_id")
    edges = verified.unionByName(ident).distinct()
    return dedup.near_dup_clusters(docs.select("doc_id"), edges, "doc_id")


def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH candidate recall vs EXHAUSTIVE truth: true pairs = all
    doc pairs with exact Jaccard >= 0.5 (O(n^2) shingle join — the oracle
    recomputes it identically, so the recall NUMBER itself is cross-engine
    verified); found = banded LSH candidates among them.

    The truth join is bounded to the deterministic slice
    doc_id < RECALL_SAMPLE (like winnow_fingerprint's doc_id < 120): the
    recall estimate stays cross-engine-verified but the quadratic term is
    constant in sf instead of the bench's scale-killer (137s at sf0.1 in r2)."""
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").where(F.col("doc_id") < RECALL_SAMPLE)
    sh = dedup.word_shingles(docs, "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col("doc_id").alias("key_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("key_b"), "shingle")
    inter = (
        sa.join(sb, "shingle").where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b").agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "key_a", "sz": "sz_a"}), "key_a")
        .join(sizes.withColumnsRenamed({"doc_id": "key_b", "sz": "sz_b"}), "key_b")
        .where(F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")) >= 0.5)
        .select("key_a", "key_b")
    )
    sigs = dedup.minhash_signatures(docs, "doc_id", n_hashes=N_MINHASH)
    # collapse OFF: recall is against raw pairs, incl. identical-signature ones
    cand = dedup.lsh_candidate_pairs(sigs, "doc_id", BANDS, ROWS_PER_BAND,
                                     collapse_identical=False)
    found = truth.join(cand, ["key_a", "key_b"], "left_semi")
    return truth.agg(F.count(F.lit(1)).alias("n_true")).crossJoin(
        found.agg(F.count(F.lit(1)).alias("n_found"))
    ).select(
        "n_true", "n_found",
        F.round(F.col("n_found") / F.col("n_true"), 6).alias("recall"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    return dedup.simhash(spark.table("documents"), "doc_id", bits=SIMHASH_BITS)


def q_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= 2 via the
    max_distance+1-block pigeonhole blocking. The oracle is the EXHAUSTIVE
    O(n²) scan — so this row passing proves the blocking loses no pair."""
    _register(spark, sf_dir, "documents")
    sim = dedup.simhash(spark.table("documents"), "doc_id", bits=SIMHASH_BITS)
    return dedup.hamming_near_pairs(sim, "doc_id", bits=SIMHASH_BITS, max_distance=2)


_SIMHASH64_ORACLE_SF = "/root/testdata/sf0.01/documents.parquet"


def _simhash64_pairs_oracle() -> str | None:
    """Independent pure-Python replay of the whole 64-bit simhash pipeline
    (normalize -> distinct tokens -> xxhash64 sign-sums -> brute-force
    Hamming <= 3 on ALL pairs), emitted as a VALUES oracle. Fresh every
    oracle build — no stored goldens; the only shared code with the Spark
    path is core/xxh.py, itself pinned bit-for-bit against F.xxhash64 by
    tests/test_xxh.py. Returns None (row stays rows-only) if the driver
    fixture is absent."""
    import os
    import re as _re

    if not os.path.exists(_SIMHASH64_ORACLE_SF):
        return None
    import numpy as np
    import pyarrow.parquet as pq

    from .core.xxh import xxhash64_strings

    tbl = pq.read_table(_SIMHASH64_ORACLE_SF, columns=["doc_id", "text"])
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    cache: dict[str, int] = {}
    shifts = np.arange(64, dtype=np.uint64)
    sims = np.zeros(len(ids), dtype=np.uint64)
    keep = np.ones(len(ids), dtype=bool)
    for i, tx in enumerate(texts):
        toks = {
            t
            for t in _re.sub(r"\s+", " ", (tx or "").lower(), flags=_re.ASCII)
            .strip().split(" ")
            if t
        }
        if not toks:
            # mirror the Spark path exactly: word_shingles drops empty
            # tokens, so a token-less doc gets NO simhash row at all (a
            # zero fingerprint here would fabricate pairs the engine
            # cannot emit)
            keep[i] = False
            continue
        hs = np.array(
            [
                cache.setdefault(t, xxhash64_strings("simhash-", t) & ((1 << 64) - 1))
                for t in toks
            ],
            dtype=np.uint64,
        )
        ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
        # bit j set iff (+1 per one) - (-1 per zero) > 0 <=> 2*ones > n
        bits = (2 * ones > len(hs)).astype(np.uint64)
        sims[i] = np.bitwise_or.reduce(bits << shifts)
    ids, sims = np.asarray(ids)[keep], sims[keep]
    x = sims[:, None] ^ sims[None, :]
    try:
        ham = np.bitwise_count(x)
    except AttributeError:  # numpy < 2.0
        ham = np.vectorize(lambda v: bin(int(v)).count("1"))(x)
    ia, ib = np.where(np.triu(ham <= 3, k=1))
    idv = ids
    rows = sorted(
        (min(int(idv[a]), int(idv[b])), max(int(idv[a]), int(idv[b])), int(ham[a, b]))
        for a, b in zip(ia, ib)
    )
    if not rows:
        return ("SELECT CAST(NULL AS BIGINT) AS key_a, CAST(NULL AS BIGINT) AS key_b,"
                " CAST(NULL AS INT) AS hamming WHERE FALSE")
    values = ", ".join(f"({a}, {b}, {d})" for a, b, d in rows)
    return f"""
        SELECT CAST(key_a AS BIGINT) AS key_a, CAST(key_b AS BIGINT) AS key_b,
               CAST(hamming AS INT) AS hamming
        FROM (VALUES {values}) AS t(key_a, key_b, hamming)
    """


def q_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs — the 100 TB scale width (VERDICT r2
    item 6): at 16 bits the pigeonhole blocks carry 5-6 bits (<= 64 bucket
    values — quadratic buckets at corpus scale), at 64 bits each of the 4
    blocks carries 16 bits (~65k values), keeping the candidate join
    sub-quadratic. Word bits come from the full 64-bit xxhash64 (no DuckDB
    builtin twin) — since r5 the oracle is an INDEPENDENT pure-Python
    replay (core/xxh.py bytes lane, pinned bit-for-bit vs F.xxhash64)
    that recomputes every simhash and brute-forces ALL pairs, emitted as
    VALUES at oracle-build time: a two-implementation check that is also
    an exactness proof of the pigeonhole blocking (the oracle enumerates
    pairs the blocked join must not miss). Pinned to the driver's sf0.01
    fixture like the BPE goldens; 64-bit recall/bucket tests remain in
    tests/test_simhash64.py."""
    _register(spark, sf_dir, "documents")
    sim = dedup.simhash(spark.table("documents"), "doc_id", bits=64)
    return dedup.hamming_near_pairs(sim, "doc_id", bits=64, max_distance=3)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN top-k (rows-only: codebooks are sample-trained
    k-means driver state, like ivf_topk's centroids): 64-dim float
    embeddings -> m=8 sub-codes of 4 bits (8 bytes/vector, 32x smaller),
    scored by ADC lookup sums entirely JVM-side. Recall vs brute force is
    pytest-pinned (tests/test_pq.py)."""
    from .operators import pq

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    cb = pq.pq_train(emb, m=8, nbits=4, sample_size=256, seed=0)
    codes = pq.pq_encode(emb, cb)
    queries = emb.where(F.col("vec_id") < 3)
    return pq.pq_topk(codes, queries, cb, k=5)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ ANN (rows-only: centroids + residual codebooks are driver
    state): k-means coarse lists + ONE persisted coarse assignment reused
    for residual training AND encoding (cached across the ANN rows; see
    _ivf_assigned) -> residual PQ codes (8 bytes/vector) -> nprobe-list
    ADC scoring. The probe join touches only the probed inverted lists;
    recall + probe-restriction are pytest-pinned (tests/test_pq.py)."""
    from .operators import pq

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    cents, assigned = _ivf_assigned(spark, sf_dir)
    cb = pq.pq_train_residual(
        emb, cents, m=8, nbits=4, sample_size=256, seed=0, assigned=assigned
    )
    codes = pq.ivfpq_encode(emb, cents, cb, assigned=assigned)
    queries = emb.where(F.col("vec_id") < 3)
    return pq.ivfpq_topk(codes, queries, cents, cb, k=5, nprobe=2)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the deterministic doc_id % 50 == 0 slice
    plays the benchmark; any corpus doc sharing >= 2 distinct word 6-grams
    with it is flagged. The benchmark n-gram set broadcasts — the corpus
    never self-joins."""
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return text.contamination_report(docs, bench, "doc_id", n=6, min_hits=2)


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL merge-table BPE token counts (Sennrich 2016; not the regex
    approximation): merges trained on a seeded corpus sample (driver
    state, like PQ codebooks), counts via one Arrow-batched UDF with a
    per-batch word memo. The merge loop is not SQL-expressible, so the
    oracle is a precomputed golden VALUES table for the deterministic
    doc_id < 40 slice at sf0.01, generated by an INDEPENDENT Spark-free
    replay (scripts/make_bpe_golden.py: pyarrow read + pure-Python XXH64
    sample selection + local train/segment loop — no Arrow UDF, no memo);
    segmentation itself is hand-verified in tests/test_bpe.py."""
    from .operators import bpe

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    merges = bpe.bpe_train(docs, n_merges=128, sample_size=512, seed=0)
    return (
        docs.where(F.col("doc_id") < 40)
        .select("doc_id", bpe.bpe_token_count_real(merges, "text").alias("n_bpe"))
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022 ExactSubstr, re-shaped
    as n-gram postings + positional coverage — linear, no candidate
    pairs): every duplicated >=8-token span is removed except its globally
    first (doc_id, pos) copy. The oracle replays the full n-gram-position
    pipeline in SQL, so the REWRITTEN TEXT is compared byte-for-byte."""
    from .operators.substring import substring_dedup

    _register(spark, sf_dir, "documents")
    return substring_dedup(spark.table("documents"), "doc_id", n=8)


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pipeline verification: the full curate_corpus chain
    (quality screen -> PII scrub -> line dedup -> exact dedup -> LSH
    near-dup clusters -> stratified sampling) runs on Spark and the ORACLE
    replays every stage in one DuckDB WITH RECURSIVE — the funnel counts
    must agree stage by stage. This is the one row that verifies the
    stages COMPOSE correctly, not just that each passes alone."""
    from .plans.corpus_pipeline import CorpusPipelineConfig, curate_corpus

    _register(spark, sf_dir, "documents")
    res = curate_corpus(
        spark.table("documents"),
        CorpusPipelineConfig(sample_rates=SAMPLE_RATES, default_rate=SAMPLE_DEFAULT),
    )
    # one final action materializes the corpus and fires the tail observes
    # (near_dedup, sampled); funnel() then reads all six stage metrics
    res["corpus"].write.format("noop").mode("overwrite").save()
    funnel = res["funnel"]()
    res["release"]()  # counts are collected; don't hold stage caches for
    # the remaining 70+ battery queries of this session
    return local_frame(spark, funnel, "stage string, n_docs long")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release diff: old = documents; new = deterministic in-plan edit
    (doc_id % 17 == 0 removed, % 10 == 0 text rewritten, 25 synthetic docs
    added) — both engines build the identical 'new' snapshot, then one
    full-outer fingerprint join classifies every key."""
    from .operators.diff import snapshot_diff

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    new = (
        docs.where(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 10 == 0,
                   F.concat(F.lit("rewritten "), F.col("text"))).otherwise(F.col("text")),
        )
        .unionByName(
            spark.range(25).select(
                (F.col("id") + 1_000_000).alias("doc_id"),
                F.concat(F.lit("brand new page "), F.col("id").cast("string")).alias("text"),
            ),
            allowMissingColumns=True,
        )
    )
    return snapshot_diff(docs, new, "doc_id")


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: verified near-dup pairs (LSH candidates +
    exact Jaccard >= 0.5) whose two docs land in DIFFERENT hash-assigned
    splits — the pairs that leak evaluation data into training. Output:
    ordered (split_a, split_b) pair counts incl. the diagonal."""
    from .operators import sampling

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    # shingles feed signatures + the 3-way Jaccard verify; sigs feed
    # banding + identical-signature edges — one materialization each
    sh = dedup.word_shingles(docs, "doc_id").localCheckpoint(eager=True)
    sigs = dedup.minhash_signatures(
        docs, "doc_id", n_hashes=N_MINHASH, shingles=sh
    ).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", BANDS, ROWS_PER_BAND)
    verified = dedup.jaccard_on_pairs(pairs, sh, "doc_id").where(
        F.round("jaccard", 6) >= 0.5
    ).select("key_a", "key_b")
    # identical-signature (exact-duplicate) pairs are collapsed out of the
    # candidate join by design — without adding them back the WORST leaks
    # (verbatim copies across splits) would be invisible to the audit
    verified = verified.unionByName(
        dedup.identical_signature_edges(sigs, "doc_id")
    ).distinct()
    splits = sampling.split_assign(docs.select("doc_id"), "doc_id").select(
        "doc_id", "split"
    )
    labeled = (
        verified.join(splits.withColumnsRenamed({"doc_id": "key_a", "split": "sa"}), "key_a")
        .join(splits.withColumnsRenamed({"doc_id": "key_b", "split": "sb"}), "key_b")
    )
    return labeled.groupBy(
        F.least("sa", "sb").alias("split_a"), F.greatest("sa", "sb").alias("split_b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
        .cast("long").alias("n_leaks"),
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents hash-bucketed into 8 independent packing
    streams, greedily binned to a 256-token budget by running BPE-token
    prefix sums — deterministic, one shuffle, fully oracled (SQL window
    twin)."""
    from .operators import sampling

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").withColumn(
        "n_tok", text.bpe_token_count_col(F.col("text")).cast("long")
    ).select("doc_id", "n_tok")
    out = sampling.pack_sequences(docs, "doc_id", "n_tok", budget=256, n_buckets=8)
    return out.select(
        "doc_id", "n_tok", F.col("bucket").cast("long").alias("bucket"),
        "bin_id", F.col("bin_pos").cast("long").alias("bin_pos")
    )


def q_corpus_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget report: docs + BPE-ish token totals per (source, lang)
    with ROLLUP subtotals — all grouping levels in one pass (Catalyst
    Expand + single aggregate, not three scans). NULL grouping keys are
    rendered as 'TOTAL' identically on both engines."""
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").withColumn(
        "n_tok", text.bpe_token_count_col(F.col("text")).cast("long")
    )
    out = docs.rollup("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    return out.select(
        F.coalesce("source", F.lit("TOTAL")).alias("source"),
        F.coalesce("lang", F.lit("TOTAL")).alias("lang"),
        "n_docs", "n_tokens",
    )


def q_corpus_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget ROLLUP on REAL merge-table BPE counts (VERDICT r3
    missing-item #5: the regex approximation is fine as a signal, wrong
    when budgets bill by true tokens). Same merges as bpe_tokens (seeded
    sample training, deterministic); the rollup itself is one Expand +
    aggregate pass. Oracle = precomputed golden VALUES at sf0.01 from the
    INDEPENDENT Spark-free replay (scripts/make_bpe_golden.py --budget:
    pure-Python sample selection + segment loop + dict rollup — merge
    loops are not SQL-expressible)."""
    from .operators import bpe

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    merges = bpe.bpe_train(docs, n_merges=128, sample_size=512, seed=0)
    counted = docs.withColumn(
        "n_tok", bpe.bpe_token_count_real(merges, "text")
    )
    out = counted.rollup("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    return out.select(
        F.coalesce("source", F.lit("TOTAL")).alias("source"),
        F.coalesce("lang", F.lit("TOTAL")).alias("lang"),
        "n_docs", "n_tokens",
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HLL distinct-token estimate + an ALL rollup by sketch
    UNION (no second scan) — the 100 TB distinct-counting shape. Rows-only:
    DuckDB's approx_count_distinct is a different estimator; the <= 2%
    error bound vs exact is pytest-pinned (tests/test_pipeline_ops.py)."""
    from .operators.sketch import distinct_sketch

    _register(spark, sf_dir, "documents")
    toks = spark.table("documents").select(
        "source", F.explode(F.split(dedup.normalize_text(F.col("text")), " ")).alias("w")
    )
    return distinct_sketch(toks, "source", "w")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every 'click' event matched to the user's most recent
    'view' at-or-before it (NULL when none). One union + window pass —
    single shuffle on user_id; oracled against DuckDB's native ASOF LEFT
    JOIN, so the tie/semantics contract is cross-engine verified."""
    from .operators.asof import asof_join

    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    out = asof_join(clicks, views, on="ts", by="user_id")
    delta = F.unix_micros(F.col("ts").cast("timestamp_ltz")) - F.unix_micros(
        F.col("r_ts").cast("timestamp_ltz")
    )
    # unmatched lefts -> -1 sentinels: the driver's row sort can't order
    # NULL-vs-int tuples, and LEFT semantics stay visible
    return out.select(
        "event_id", "user_id",
        F.coalesce("r_event_id", F.lit(-1)).cast("long").alias("r_event_id"),
        F.coalesce(delta, F.lit(-1)).cast("long").alias("delta_us"),
    )


def q_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join: per click, how many of the same user's views fall
    in the preceding 5 minutes (zero-count clicks kept). The bucketed band
    join replaces the BNLJ a raw inequality join would plan."""
    from .operators.range_join import time_range_join

    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    pairs = time_range_join(clicks, views, on="ts", by="user_id", window_us=300_000_000)
    counts = pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_views"))
    return clicks.join(counts, "event_id", "left").select(
        "event_id", "user_id",
        F.coalesce("n_views", F.lit(0)).cast("long").alias("n_views"),
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (distinct-word fraction, top-word /
    top-bigram mass) — the boilerplate/spam screens of a web-corpus
    pipeline, fully oracled."""
    _register(spark, sf_dir, "documents")
    return text.repetition_signals(spark.table("documents"), "doc_id")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with deterministic planted PII: every doc_id % 7 == 0
    document gains one email + one 11-digit number inside the plan (both
    engines plant identically), then emails/long digit runs are replaced
    with typed placeholders. Output = removal counts + md5 of the scrubbed
    text, so the oracle verifies the exact scrubbed bytes."""
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com ref 98765432101"),
            ),
        ).otherwise(F.col("text")),
    )
    out = text.pii_scrub(planted)
    return out.select(
        "doc_id", "n_emails", "n_longnums", F.md5("scrubbed").alias("scrub_fp")
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line dedup over deterministic 8-word chunk 'lines'
    (documents are single-line synthetic text, so both engines chunk the
    normalized word array into 8-word lines inside the plan; the tiny
    vocabulary guarantees real cross-document line collisions). Lines in
    more than 2 distinct documents are dropped as boilerplate; output
    verifies counts plus the md5 of the reassembled text."""
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    # stage the token array behind the Generate fence: `ws` referenced
    # inside the transform lambda re-evaluates normalize+split per chunk
    # (guide §1.2 per-task work; same fix as ngram_shingle_sets), and the
    # narrow chunking chain fans out off the single-file scan
    ws_expr = F.split(dedup.normalize_text(F.col("text")), " ")
    staged = docs.select("doc_id", F.explode(F.array(ws_expr)).alias("_ws"))
    ws = F.col("_ws")
    n_chunks = F.ceil(F.size(ws) / F.lit(8.0)).cast("int")
    chunked = staged.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
                lambda i: F.array_join(F.slice(ws, (i - 1) * 8 + 1, 8), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = text.line_dedup(chunked, "doc_id", max_docs=2)
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("kept_text").alias("kept_fp")
    )


SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
SAMPLE_DEFAULT = 0.8


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixture sampling + train/val/test split: every
    doc gets a hash-derived keep decision at its source's rate and a split
    assignment — stable across retries/partitioning (no rand())."""
    from .operators import sampling

    _register(spark, sf_dir, "documents")
    out = sampling.split_assign(
        sampling.stratified_sample(
            spark.table("documents"), "doc_id", "source", SAMPLE_RATES, SAMPLE_DEFAULT
        ),
        "doc_id",
    )
    return out.select("doc_id", "source", "kept", "split")


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 trigram census (deterministic count-then-ngram
    ordering), executed as TakeOrderedAndProject — no full sort shuffle."""
    _register(spark, sf_dir, "documents")
    out = text.top_ngrams(spark.table("documents"), n=3, k=25)
    from pyspark.sql.window import Window

    return out.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), F.col("ngram").asc())),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    out = text.language_scores(spark.table("documents"))
    cols = ["doc_id"] + [F.round(f"score_{k}", 6).alias(f"score_{k}") for k in text.LANG_MARKERS]
    return out.select(*cols, "lang_guess")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    out = text.quality_features(spark.table("documents"))
    return out.select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio", "stopword_ratio", "quality_score"
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer token budget per document (letter runs, digit
    runs, single marks) next to the whitespace count — the corpus-budget
    pair every training pipeline reports."""
    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    return d.select(
        "doc_id",
        text.token_count_col(F.col("text")).cast("long").alias("ws_tokens"),
        text.bpe_token_count_col(F.col("text")).cast("long").alias("bpe_tokens"),
    )


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (rolling k-gram hash, window-min) fingerprint set per doc —
    matches of length >= k+window-1 share a fingerprint by construction."""
    _register(spark, sf_dir, "documents")
    # restrict to the first 120 docs: the oracle explodes every character
    # position, and the full sf0.01 table is the same plan at 4x rows
    d = spark.table("documents").where(F.col("doc_id") < 120)
    return text.winnow_fingerprints(d, "doc_id", k=8, window=4)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    out = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    return out.select("q_id", "c_id", F.round("cosine", 6).alias("cosine"), "rank")


_COV_DIMS = 8


def q_embedding_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance block (first 8 dims, upper triangle) — the
    whitening/PCA-prep statistic of an embedding column: one constant
    fan-out explode of (i, j, xi*xj) triples + ONE partial/final hash
    aggregate; covariance by the explicit E[xy] - E[x]E[y] algebra
    (identical closed form both engines — NOT the engines' covar_pop
    implementations, whose update orders differ). At 10^12 rows this is
    a pure map + 36-group aggregate: no shuffle of the vectors, the
    exchange carries one partial triple per (partition, i, j). Pure-sum
    arithmetic -> cross-engine drift is reassociation-only, rounded 9dp
    (values are ~1e-4; the 6dp transcendental rule would erase signal)."""
    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    x = [
        F.element_at("embedding", i + 1).cast("double").alias(f"_x{i}")
        for i in range(_COV_DIMS)
    ]
    st = emb.select(*x)
    triples = st.select(F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("i"), F.lit(j).alias("j"),
            F.col(f"_x{i}").alias("xi"), F.col(f"_x{j}").alias("xj"),
        )
        for i in range(_COV_DIMS) for j in range(i, _COV_DIMS)
    ])).alias("p")).select("p.i", "p.j", "p.xi", "p.xj")
    n = F.count(F.lit(1)).cast("double")
    cov = (F.sum(F.col("xi") * F.col("xj")) - F.sum("xi") * F.sum("xj") / n) / n
    return (
        triples.groupBy("i", "j")
        .agg(F.round(cov, 9).alias("cov"), F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k on int8-quantized embeddings (array<tinyint>, the 4-8x
    memory lever): quantization + integer dot products are exact across
    engines, so this path gets a full oracle."""
    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    qemb = similarity.quantize_embeddings(emb).select(
        "vec_id", F.col("q_vec").alias("embedding"))
    queries = qemb.where(F.col("vec_id") < 3)
    out = similarity.cosine_topk_bruteforce(qemb, queries, k=5)
    return out.select("q_id", "c_id", F.round("cosine", 6).alias("cosine"), "rank")


_IVF_CACHE: dict[tuple, tuple] = {}


def _ivf_assigned(spark: SparkSession, sf_dir: str, k: int = 8,
                  n_iters: int = 2, seed: int = 0):
    """(centroids, persisted assigned-frame) shared by the IVF/IVFPQ
    registry rows — built ONCE per (session, sf_dir, params) per process
    (VERDICT r3 item: the two queries each re-ran the full k-means fit AND
    the coarse assignment, the battery's slowest rows). The fit uses the
    one-pass sampled farthest-point init (init_exact_max_k=0, plus the
    small-corpus driver-local Lloyd guard); the production build-once path
    is jobs/ann_index_job.py + save/load_ivfpq_index, which persists
    centroids with the list-partitioned codes."""
    # applicationId, not id(spark): a stopped session's id() can be reused
    # by CPython for a new session, which would hand out a cached frame
    # bound to a dead SparkContext
    ck = (spark.sparkContext.applicationId, sf_dir, k, n_iters, seed)
    if ck not in _IVF_CACHE:
        emb = spark.table("embeddings")
        cents = similarity.kmeans_fit(
            emb, k=k, n_iters=n_iters, seed=seed, init_exact_max_k=0,
        )
        assigned = similarity.ivf_assign(emb, cents, "vec_id").persist()
        # eager materialization: the first consumer reads `assigned` from
        # several branches of one job, and a LAZY persist makes each
        # branch re-run the upstream chain against the cold cache (the
        # repo's measured 5x lazy-cache race)
        assigned.write.format("noop").mode("overwrite").save()
        _IVF_CACHE[ck] = (cents, assigned)
    return _IVF_CACHE[ck]


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (rows-only: centroids are k-means driver state, not
    expressible in the oracle): sampled-farthest-point-init k-means coarse
    centroids + ONE persisted coarse assignment, both cached across the
    ANN rows (see _ivf_assigned); queries probe their own list; exact
    cosine rank within the probed candidates. The scale path partitions
    the corpus by list_id."""
    from pyspark.sql.window import Window

    _register(spark, sf_dir, "embeddings")
    cents, assigned = _ivf_assigned(spark, sf_dir)
    queries = assigned.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"),
        F.col("list_id").alias("q_list"),
    )
    cand = F.broadcast(queries).join(
        assigned.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), "list_id"),
        F.col("q_list") == F.col("list_id"),
    ).where(F.col("q_id") != F.col("c_id"))
    cos = similarity.dot_cols("q_vec", "c_vec") / (
        similarity.norm_col("q_vec") * similarity.norm_col("c_vec")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        cand.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_id", "c_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


_EMB_ORACLE_SF = "/root/testdata/sf0.01/embeddings.parquet"


def _embedding_near_dup_oracle() -> str | None:
    """Independent numpy replay of the banded hyperplane-LSH pipeline
    (seeded planes -> sign buckets per table -> union of in-bucket pairs
    -> exact cosine -> top-50), emitted as VALUES fresh each oracle build.
    The replay re-derives everything from the seed with numpy matrix ops —
    no repo operator code — so the match pins plane literals, the
    fold-order dot products, multi-table dedup AND the rank window. The
    one accepted hazard: a plane dot within ~1e-13 of 0 could sign-flip
    between numpy's pairwise and Spark's sequential summation (measured
    margins are orders of magnitude wider). Pinned to the driver's sf0.01
    fixture; returns None (rows-only) when the fixture is absent."""
    import os

    if not os.path.exists(_EMB_ORACLE_SF):
        return None
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(_EMB_ORACLE_SF, columns=["vec_id", "embedding"])
    ids = np.asarray(tbl.column("vec_id").to_pylist())
    vecs = np.stack(tbl.column("embedding").to_pylist()).astype(np.float64)
    planes = np.random.default_rng(42).normal(size=(2, 8, vecs.shape[1]))
    pair_idx: set[tuple[int, int]] = set()
    for t in range(planes.shape[0]):
        bits = ((vecs @ planes[t].T) > 0) @ (1 << np.arange(8))
        buckets: dict[int, list[int]] = {}
        for i, b in enumerate(bits):
            buckets.setdefault(int(b), []).append(i)
        for members in buckets.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    a, b2 = members[x], members[y]
                    if ids[a] > ids[b2]:
                        a, b2 = b2, a
                    pair_idx.add((a, b2))
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    scored = sorted(
        (
            (-float(vecs[a] @ vecs[b] / (norms[a] * norms[b])),
             int(ids[a]), int(ids[b]))
            for a, b in pair_idx
        )
    )[:50]
    values = ", ".join(
        f"({ka}, {kb}, {round(-negc, 6)!r}, {rk + 1})"
        for rk, (negc, ka, kb) in enumerate(scored)
    )
    return f"""
        SELECT CAST(key_a AS BIGINT) AS key_a, CAST(key_b AS BIGINT) AS key_b,
               CAST(cosine AS DOUBLE) AS cosine, CAST(rk AS INT) AS rk
        FROM (VALUES {values}) AS t(key_a, key_b, cosine, rk)
    """


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup. The testdata embeddings are random unit
    vectors with no true near-dups, so report the 50 most-similar bucketed
    pairs instead of thresholding. Oracled since r5 by an independent
    numpy replay of the full pipeline (see _embedding_near_dup_oracle)."""
    from pyspark.sql.window import Window

    _register(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_dup(spark.table("embeddings"), "vec_id", cosine_threshold=-1.0)
    w = Window.orderBy(F.col("cosine").desc(), F.col("key_a").asc(), F.col("key_b").asc())
    return (
        out.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 50)
        .select("key_a", "key_b", F.round("cosine", 6).alias("cosine"), "rk")
    )


# ---------------------------------------------------------------------------

def _norm_sql(col: str) -> str:
    return f"TRIM(regexp_replace(LOWER({col}), '\\s+', ' ', 'g'))"


def _ppr_unrolled_sql(iters: int) -> str:
    """Personalized-pagerank power iterations unrolled (same mechanics as
    :func:`_pagerank_unrolled_sql`; restart mass goes to the ``seeds``
    CTE (node, mass) instead of uniformly). Expects CTEs ``nodes``,
    ``edges``, ``deg`` and ``seeds``."""
    pr = ("SELECT n.node, COALESCE(sd.mass, CAST(0.0 AS DOUBLE)) AS rank "
          "FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node")
    for _ in range(iters):
        pr = f"""
          SELECT n.node,
                 0.15 * COALESCE(sd.mass, 0.0) + 0.85 * COALESCE(s.s, 0.0) AS rank
          FROM nodes n
          LEFT JOIN seeds sd ON sd.node = n.node
          LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / d.deg) AS s
            FROM ({pr}) p
            JOIN edges e ON e.src = p.node
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s ON s.node = n.node
        """
    return pr


def _pagerank_unrolled_sql(iters: int) -> str:
    """Power-iteration pagerank as ``iters`` unrolled nested subqueries
    (aggregation is illegal in a recursive CTE term). Expects CTEs named
    ``nodes`` (node), ``edges`` (src, dst) and ``deg`` (src, deg)."""
    pr = "SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes"
    for _ in range(iters):
        pr = f"""
          SELECT n.node, 0.15 + 0.85 * COALESCE(s.s, 0.0) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / d.deg) AS s
            FROM ({pr}) p
            JOIN edges e ON e.src = p.node
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s ON s.node = n.node
        """
    return pr


def _shingles_sql(src: str = "documents") -> str:
    return f"""(
      SELECT DISTINCT doc_id, w AS shingle FROM (
        SELECT doc_id, unnest(string_split({_norm_sql("text")}, ' ')) AS w FROM {src}
      ) t WHERE LENGTH(w) > 0
    )"""


def _hash8(expr: str, salt: str) -> str:
    return oracle.hash8_sql(expr, oracle.DUCKDB, salt=salt)


def _minhash_sql(src: str = "documents") -> str:
    aggs = ", ".join(
        f"MIN({_hash8('shingle', f'mh{i}-')}) AS sig_{i}" for i in range(N_MINHASH)
    )
    return f"(SELECT doc_id, {aggs} FROM {_shingles_sql(src)} s GROUP BY doc_id)"


def _lsh_pairs_sql(src: str = "documents") -> str:
    sig_cols = ", ".join(f"sig_{i}" for i in range(N_MINHASH))
    bands = []
    for b in range(BANDS):
        parts = " || '|' || ".join(
            f"CAST(sig_{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        bands.append(f"SELECT doc_id, {b} AS band_id, {parts} AS band_val FROM reps")
    banded = " UNION ALL ".join(bands)
    return f"""
        WITH sigs AS (SELECT * FROM {_minhash_sql(src)} m),
        reps AS (
          SELECT {sig_cols}, MIN(doc_id) AS doc_id FROM sigs GROUP BY {sig_cols}
        ),
        banded AS ({banded})
        SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    """


def _occ_sql(text_expr: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return f"(LENGTH({text_expr}) - LENGTH(REPLACE({text_expr}, '{n}', ''))) / {len(needle)}"


def quality_score_subquery(src: str = "documents") -> str:
    """(doc_id, qs) — ROUND(quality_score, 6) per doc; the same algebra
    as the `quality_score` oracle (shared consumer: `domain_quality`)."""
    en = " + ".join(_occ_sql("spaced", m) for m in text.LANG_MARKERS["en"])
    punct = " + ".join(_occ_sql("norm", p) for p in [".", ",", "!", "?"])
    return f"""(
        WITH qbase AS (
          SELECT doc_id, text, {_norm_sql("text")} AS norm FROM {src}
        ),
        qfeat AS (
          SELECT doc_id, LENGTH(text) AS n_chars,
                 CASE WHEN LENGTH(norm) = 0 THEN 0
                      ELSE LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1 END AS n_tokens,
                 norm, ' ' || norm || ' ' AS spaced
          FROM qbase
        )
        SELECT doc_id,
               ROUND((LEAST(n_tokens / CAST(20.0 AS DOUBLE), 1.0)
                      + LEAST(CASE WHEN n_tokens > 0 THEN ({en}) * 1.0 / n_tokens ELSE 0.0 END * 5.0, 1.0)
                      + CASE WHEN (CASE WHEN n_chars > 0 THEN ({punct}) * 1.0 / n_chars ELSE 0.0 END) <= 0.1 THEN 1.0
                             ELSE 1.0 - LEAST(CASE WHEN n_chars > 0 THEN ({punct}) * 1.0 / n_chars ELSE 0.0 END, 1.0) END
                     ) / 3.0, 6) AS qs
        FROM qfeat
    )"""


def _jaccard_sql(src: str = "documents") -> str:
    return f"""
        WITH pairs AS ({_lsh_pairs_sql(src)}),
        sh AS (SELECT * FROM {_shingles_sql(src)} s),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT p.key_a, p.key_b, COUNT(*) AS i
          FROM pairs p
          JOIN sh a ON a.doc_id = p.key_a
          JOIN sh b ON b.doc_id = p.key_b AND b.shingle = a.shingle
          GROUP BY p.key_a, p.key_b
        )
        SELECT i.key_a, i.key_b,
               ROUND(i.i * 1.0 / (sa.sz + sb.sz - i.i), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.key_a
        JOIN sizes sb ON sb.doc_id = i.key_b
    """


def _containment_sql(src: str = "documents") -> str:
    return f"""
        WITH pairs AS ({_lsh_pairs_sql(src)}),
        sh AS (SELECT * FROM {_shingles_sql(src)} s),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT p.key_a, p.key_b, COUNT(*) AS i
          FROM pairs p
          JOIN sh a ON a.doc_id = p.key_a
          JOIN sh b ON b.doc_id = p.key_b AND b.shingle = a.shingle
          GROUP BY p.key_a, p.key_b
        )
        SELECT i.key_a, i.key_b,
               ROUND(i.i * 1.0 / sa.sz, 6) AS cont_a,
               ROUND(i.i * 1.0 / sb.sz, 6) AS cont_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.key_a
        JOIN sizes sb ON sb.doc_id = i.key_b
    """


def _oracle_sqls() -> dict[str, str]:
    sqls: dict[str, str] = {}
    sqls["minhash_signatures"] = f"SELECT * FROM {_minhash_sql()} m"
    sqls["containment_pairs"] = _containment_sql()
    sqls["lsh_pairs"] = _lsh_pairs_sql()
    sqls["jaccard_pairs"] = _jaccard_sql()
    nb = []
    for b in range(BANDS):
        parts = " || '|' || ".join(
            f"CAST(sig_{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        nb.append(f"SELECT doc_id, {b} AS band_id, {parts} AS band_val FROM sigs")
    banded_nc = " UNION ALL ".join(nb)
    sqls["lsh_recall_report"] = f"""
        WITH sigs AS (SELECT * FROM {_minhash_sql()} m WHERE m.doc_id < {RECALL_SAMPLE}),
        banded AS ({banded_nc}),
        cand AS (
          SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
          FROM banded a JOIN banded b
            ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        ),
        sh AS (SELECT * FROM {_shingles_sql()} s WHERE s.doc_id < {RECALL_SAMPLE}),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS key_a, b.doc_id AS key_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
          SELECT i.key_a, i.key_b FROM inter i
          JOIN sizes sa ON sa.doc_id = i.key_a
          JOIN sizes sb ON sb.doc_id = i.key_b
          WHERE i.i * 1.0 / (sa.sz + sb.sz - i.i) >= 0.5
        ),
        found AS (
          SELECT t.* FROM truth t
          WHERE EXISTS (SELECT 1 FROM cand c WHERE c.key_a = t.key_a AND c.key_b = t.key_b)
        )
        SELECT (SELECT COUNT(*) FROM truth) AS n_true,
               (SELECT COUNT(*) FROM found) AS n_found,
               ROUND((SELECT COUNT(*) FROM found) * 1.0
                     / (SELECT COUNT(*) FROM truth), 6) AS recall
    """
    sig_cols = ", ".join(f"sig_{i}" for i in range(N_MINHASH))
    sig_eq = " AND ".join(f"s.sig_{i} = r.sig_{i}" for i in range(N_MINHASH))
    sqls["dedup_clusters"] = f"""
        WITH RECURSIVE verified AS (
          SELECT key_a, key_b FROM ({_jaccard_sql()}) j WHERE jaccard >= 0.8
        ),
        sigs AS (SELECT * FROM {_minhash_sql()} m),
        reps AS (SELECT {sig_cols}, MIN(doc_id) AS rep FROM sigs GROUP BY {sig_cols}),
        ident AS (
          SELECT r.rep AS key_a, s.doc_id AS key_b
          FROM sigs s JOIN reps r ON {sig_eq}
          WHERE s.doc_id <> r.rep
        ),
        allp AS (
          SELECT key_a, key_b FROM verified UNION SELECT key_a, key_b FROM ident
        ),
        e AS (
          SELECT key_a AS a, key_b AS b FROM allp
          UNION
          SELECT key_b AS a, key_a AS b FROM allp
        ),
        reach(d, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.d, e.b FROM reach JOIN e ON e.a = reach.r
        )
        SELECT d AS doc_id, MIN(r) AS cluster_id, d = MIN(r) AS keep
        FROM reach GROUP BY d
    """
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    bits = " | ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    simhash_sql = f"""
        WITH h AS (
          SELECT doc_id, {_hash8("shingle", "simhash-")} AS h FROM {_shingles_sql()} s
        ),
        sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sums
    """
    sqls["simhash"] = simhash_sql
    # EXHAUSTIVE O(n^2) oracle vs Spark's pigeonhole-blocked pairs: passing
    # proves the blocking misses nothing at max_distance=2
    sqls["hamming_pairs"] = f"""
        WITH sh AS ({simhash_sql})
        SELECT a.doc_id AS key_a, b.doc_id AS key_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """
    spaced = f"' ' || {_norm_sql('text')} || ' '"
    score_cols = []
    for lang, markers in text.LANG_MARKERS.items():
        occ = " + ".join(_occ_sql("t", m) for m in markers)
        score_cols.append(f"CAST({occ} AS DOUBLE) AS score_{lang}")
    langs = list(text.LANG_MARKERS)
    # mirror the Spark fold on RAW scores: strictly-greater beats the best
    # so far, first-listed language wins ties, 'und' when all zero
    best_expr = "0.0"
    guess_expr = "'und'"
    for lang in langs:
        guess_expr = f"CASE WHEN score_{lang} > {best_expr} THEN '{lang}' ELSE {guess_expr} END"
        best_expr = f"CASE WHEN score_{lang} > {best_expr} THEN score_{lang} ELSE {best_expr} END"
    sqls["lang_id"] = f"""
        WITH scored AS (
          SELECT doc_id, {", ".join(score_cols)}
          FROM (SELECT doc_id, {spaced} AS t FROM documents) d
        )
        SELECT doc_id, {", ".join(f"ROUND(score_{k}, 6) AS score_{k}" for k in langs)},
               {guess_expr} AS lang_guess
        FROM scored
    """
    en = " + ".join(_occ_sql("spaced", m) for m in text.LANG_MARKERS["en"])
    punct = " + ".join(_occ_sql("norm", p) for p in [".", ",", "!", "?"])
    sqls["quality_score"] = f"""
        WITH base AS (
          SELECT doc_id, text, {_norm_sql("text")} AS norm FROM documents
        ),
        feat AS (
          SELECT doc_id, LENGTH(text) AS n_chars,
                 CASE WHEN LENGTH(norm) = 0 THEN 0
                      ELSE LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1 END AS n_tokens,
                 norm, ' ' || norm || ' ' AS spaced
          FROM base
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(CASE WHEN n_tokens > 0 THEN (LENGTH(norm) - n_tokens + 1) * 1.0 / n_tokens ELSE 0.0 END, 6) AS mean_token_len,
               ROUND(CASE WHEN n_chars > 0 THEN ({punct}) * 1.0 / n_chars ELSE 0.0 END, 6) AS punct_ratio,
               ROUND(CASE WHEN n_tokens > 0 THEN ({en}) * 1.0 / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
               ROUND((LEAST(n_tokens / CAST(20.0 AS DOUBLE), 1.0)
                      + LEAST(CASE WHEN n_tokens > 0 THEN ({en}) * 1.0 / n_tokens ELSE 0.0 END * 5.0, 1.0)
                      + CASE WHEN (CASE WHEN n_chars > 0 THEN ({punct}) * 1.0 / n_chars ELSE 0.0 END) <= 0.1 THEN 1.0
                             ELSE 1.0 - LEAST(CASE WHEN n_chars > 0 THEN ({punct}) * 1.0 / n_chars ELSE 0.0 END, 1.0) END
                     ) / 3.0, 6) AS quality_score
        FROM feat
    """
    sqls["bpe_token_count"] = f"""
        WITH n AS (SELECT doc_id, {_norm_sql("text")} AS t FROM documents)
        SELECT doc_id,
               CASE WHEN LENGTH(t) = 0 THEN 0
                    ELSE LENGTH(t) - LENGTH(REPLACE(t, ' ', '')) + 1 END AS ws_tokens,
               CAST(LEN(regexp_extract_all(t, '{text.BPE_TOKEN_RE}')) AS BIGINT) AS bpe_tokens
        FROM n
    """
    sqls["winnow_fingerprint"] = f"""
        WITH n AS (
          SELECT doc_id, {_norm_sql("text")} AS t FROM documents WHERE doc_id < 120
        ),
        pos AS (
          -- DuckDB 1.0 generate_series takes constants only: 4096 safely
          -- exceeds every document's normalized length (max 577 across the
          -- testdata sfs); the WHERE below trims per-document
          SELECT p FROM generate_series(1, 4096) s(p)
        ),
        grams AS (
          SELECT doc_id, p AS pos,
                 {_hash8("substr(t, p, 8)", "wn-")} AS h,
                 LENGTH(t) - 8 + 1 AS ng
          FROM n CROSS JOIN pos
          WHERE p <= LENGTH(t) - 8 + 1
        ),
        wins AS (
          SELECT doc_id, pos, ng,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
          FROM grams
        )
        SELECT DISTINCT doc_id, wmin AS fp FROM wins WHERE pos <= ng - 4 + 1
    """
    sqls["ann_topk_int8"] = """
        WITH base AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS mx
          FROM embeddings
        ),
        qv AS (
          SELECT vec_id,
                 list_transform(e, x -> ROUND(x / (CASE WHEN mx > 0 THEN mx ELSE 1.0 END) * 127.0)) AS q
          FROM base
        ),
        qs AS (SELECT vec_id AS q_id, q AS qq FROM qv WHERE vec_id < 3),
        cs AS (SELECT vec_id AS c_id, q AS cq FROM qv),
        scored AS (
          SELECT q.q_id, c.c_id,
                 list_dot_product(q.qq, c.cq)
                   / (SQRT(list_dot_product(q.qq, q.qq)) * SQRT(list_dot_product(c.cq, c.cq)))
                   AS cosine
          FROM qs q CROSS JOIN cs c
          WHERE q.q_id <> c.c_id
            AND list_dot_product(q.qq, q.qq) > 0 AND list_dot_product(c.cq, c.cq) > 0
        ),
        ranked AS (
          SELECT q_id, c_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, c_id, ROUND(cosine, 6) AS cosine, rank FROM ranked WHERE rank <= 5
    """
    sqls["ann_cosine_topk"] = """
        WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
        scored AS (
          SELECT q.q_id, c.c_id,
                 list_dot_product(q.qv, c.cv)
                   / (SQRT(list_dot_product(q.qv, q.qv)) * SQRT(list_dot_product(c.cv, c.cv)))
                   AS cosine
          FROM q CROSS JOIN c
          WHERE q.q_id <> c.c_id
            AND list_dot_product(q.qv, q.qv) > 0 AND list_dot_product(c.cv, c.cv) > 0
        ),
        ranked AS (
          SELECT q_id, c_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, c_id, ROUND(cosine, 6) AS cosine, rank FROM ranked WHERE rank <= 5
    """
    _sh64 = _simhash64_pairs_oracle()
    if _sh64 is not None:
        sqls["simhash64_pairs"] = _sh64
    _end = _embedding_near_dup_oracle()
    if _end is not None:
        sqls["embedding_near_dup"] = _end
    # oracle-only shape: a constant 36-way UNION ALL of one-scan projections
    # (DuckDB has no row-referencing VALUES); the Spark side is one explode
    _cov_dims = 8
    _cov_branches = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, CAST(embedding[{i + 1}] AS DOUBLE) AS xi,"
        f" CAST(embedding[{j + 1}] AS DOUBLE) AS xj FROM embeddings"
        for i in range(_cov_dims) for j in range(i, _cov_dims)
    )
    sqls["embedding_cov"] = f"""
        WITH triples AS ({_cov_branches})
        SELECT i, j,
               ROUND((SUM(xi * xj) - SUM(xi) * SUM(xj) / COUNT(*)) / COUNT(*), 9)
                 AS cov,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM triples GROUP BY i, j
    """
    sqls["repetition_signals"] = f"""
        WITH norm AS (SELECT doc_id, {_norm_sql("text")} AS t FROM documents),
        base AS (
          SELECT doc_id, string_split(t, ' ') AS ws, len(string_split(t, ' ')) AS n
          FROM norm WHERE len(string_split(t, ' ')) > 0
        ),
        tok AS (SELECT doc_id, n, unnest(ws) AS t FROM base),
        tw AS (
          SELECT doc_id, n, MAX(c) AS m FROM (
            SELECT doc_id, n, t, COUNT(*) AS c FROM tok GROUP BY doc_id, n, t
          ) GROUP BY doc_id, n
        ),
        -- generate_series needs constant bounds in DuckDB 1.0: fixed range + WHERE
        bg AS (
          SELECT b.doc_id, b.n, b.ws[g.i] || ' ' || b.ws[g.i + 1] AS t
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.n - 1
        ),
        tb AS (
          SELECT doc_id, n, MAX(c) AS m FROM (
            SELECT doc_id, n, t, COUNT(*) AS c FROM bg GROUP BY doc_id, n, t
          ) GROUP BY doc_id, n
        )
        SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words,
               ROUND(len(list_distinct(b.ws)) * 1.0 / b.n, 6) AS distinct_frac,
               ROUND(tw.m * 1.0 / b.n, 6) AS top_word_frac,
               ROUND(COALESCE(tb.m * 1.0 / (b.n - 1), 0.0), 6) AS top_bigram_frac
        FROM base b
        JOIN tw ON tw.doc_id = b.doc_id
        LEFT JOIN tb ON tb.doc_id = b.doc_id
    """
    email_re, num_re = text.EMAIL_RE.replace("\\\\", "\\"), text.LONGNUM_RE
    sqls["pii_scrub"] = f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                           || '@example.com ref 98765432101'
                      ELSE text END AS t
          FROM documents
        ),
        s1 AS (
          SELECT doc_id,
                 len(regexp_extract_all(t, '{email_re}')) AS n_emails,
                 regexp_replace(t, '{email_re}', '<EMAIL>', 'g') AS t1
          FROM planted
        ),
        s2 AS (
          SELECT doc_id, n_emails,
                 len(regexp_extract_all(t1, '{num_re}')) AS n_longnums,
                 regexp_replace(t1, '{num_re}', '<NUM>', 'g') AS t2
          FROM s1
        )
        SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
               CAST(n_longnums AS BIGINT) AS n_longnums, md5(t2) AS scrub_fp
        FROM s2
    """
    sqls["line_dedup"] = f"""
        WITH norm AS (SELECT doc_id, {_norm_sql("text")} AS t FROM documents),
        base AS (
          SELECT doc_id, string_split(t, ' ') AS ws, len(string_split(t, ' ')) AS n
          FROM norm
        ),
        -- constant-bound range + WHERE (DuckDB 1.0 generate_series limitation)
        lines AS (
          SELECT doc_id, g.i - 1 AS pos,
                 array_to_string(list_slice(ws, (g.i - 1) * 8 + 1, (g.i - 1) * 8 + 8), ' ') AS line
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= GREATEST(CAST(ceil(b.n / 8.0) AS INT), 1)
        ),
        hot AS (
          SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) > 2
        ),
        flagged AS (
          SELECT l.doc_id, l.pos, l.line, (h.line IS NOT NULL) AS hot
          FROM lines l LEFT JOIN hot h ON h.line = l.line
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN NOT hot THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               md5(COALESCE(
                 string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT hot), ''
               )) AS kept_fp
        FROM flagged GROUP BY doc_id
    """
    sqls["decontaminate"] = f"""
        WITH norm AS (SELECT doc_id, {_norm_sql("text")} AS t FROM documents),
        base AS (
          SELECT doc_id, string_split(t, ' ') AS ws, len(string_split(t, ' ')) AS n
          FROM norm
        ),
        grams AS (
          SELECT doc_id, array_to_string(list_slice(ws, g.i, g.i + 5), ' ') AS ngram
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.n - 5
        ),
        bench AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 50 = 0),
        docg AS (SELECT DISTINCT doc_id, ngram FROM grams),
        hits AS (
          SELECT doc_id, COUNT(*) AS h FROM docg JOIN bench USING (ngram)
          GROUP BY doc_id
        )
        SELECT d.doc_id, CAST(COALESCE(h, 0) AS BIGINT) AS n_hits,
               COALESCE(h, 0) >= 2 AS contaminated
        FROM (SELECT doc_id FROM documents) d LEFT JOIN hits USING (doc_id)
    """
    sqls["corpus_budget"] = f"""
        WITH n AS (
          SELECT source, lang,
                 CAST(LEN(regexp_extract_all({_norm_sql("text")}, '{text.BPE_TOKEN_RE}')) AS BIGINT) AS n_tok
          FROM documents
        )
        SELECT COALESCE(source, 'TOTAL') AS source, COALESCE(lang, 'TOTAL') AS lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM n GROUP BY ROLLUP (source, lang)
    """
    sqls["asof_join"] = """
        SELECT l.event_id, l.user_id,
               CAST(COALESCE(r.event_id, -1) AS BIGINT) AS r_event_id,
               CAST(COALESCE(epoch_us(l.ts) - epoch_us(r.ts), -1) AS BIGINT) AS delta_us
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        ASOF LEFT JOIN
             -- mirror the operator's deterministic tie-break: among right
             -- rows sharing (user_id, ts), the max payload (ts, event_id)
             -- struct wins, i.e. max event_id here
             (SELECT event_id, user_id, ts FROM (
                SELECT event_id, user_id, ts,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'view') WHERE rn = 1) r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """
    sqls["range_join_counts"] = """
        SELECT l.event_id, l.user_id,
               CAST(COUNT(r.event_id) AS BIGINT) AS n_views
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') r
          ON l.user_id = r.user_id
         AND epoch_us(r.ts) >= epoch_us(l.ts) - 300000000
         AND epoch_us(r.ts) <= epoch_us(l.ts)
        GROUP BY l.event_id, l.user_id
    """
    sqls["top_ngrams"] = f"""
        WITH norm AS (SELECT {_norm_sql("text")} AS t FROM documents),
        base AS (
          SELECT string_split(t, ' ') AS ws, len(string_split(t, ' ')) AS n FROM norm
        ),
        grams AS (
          SELECT array_to_string(list_slice(ws, g.i, g.i + 2), ' ') AS ngram
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.n - 2
        ),
        counted AS (SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt FROM grams GROUP BY ngram)
        SELECT ngram, cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, ngram ASC) AS INT) AS rank
        FROM counted ORDER BY cnt DESC, ngram ASC LIMIT 25
    """
    h_smp = oracle.hash8_sql("doc_id", oracle.DUCKDB, salt="smp-")
    h_spl = oracle.hash8_sql("doc_id", oracle.DUCKDB, salt="spl-")
    rate_case = " ".join(
        f"WHEN source = '{s}' THEN {oracle.dbl(r)}" for s, r in SAMPLE_RATES.items()
    )
    sqls["corpus_sample"] = f"""
        WITH u AS (
          SELECT doc_id, source,
                 (({h_smp}) % 1000000) / {oracle.dbl(1000000.0)} AS u_keep,
                 (({h_spl}) % 1000000) / {oracle.dbl(1000000.0)} AS u_split
          FROM documents
        )
        SELECT doc_id, source,
               u_keep < (CASE {rate_case} ELSE {oracle.dbl(0.8)} END) AS kept,
               CASE WHEN u_split < {oracle.dbl(0.9)} THEN 'train'
                    WHEN u_split < {oracle.dbl(0.95)} THEN 'val'
                    ELSE 'test' END AS split
        FROM u
    """
    # END-TO-END pipeline funnel: every curate_corpus stage replayed in SQL.
    # Emitters are parameterized by src so the near-dup stage runs over the
    # pipeline's survivors, exactly like Spark. Thresholds mirror
    # CorpusPipelineConfig defaults + the corpus_sample rates.
    f_en = " + ".join(_occ_sql("spaced", m) for m in text.LANG_MARKERS["en"])
    f_punct = " + ".join(_occ_sql("norm", p) for p in [".", ",", "!", "?"])
    f_email, f_num = text.EMAIL_RE.replace("\\\\", "\\"), text.LONGNUM_RE
    f_rate = " ".join(
        f"WHEN source = '{k}' THEN {oracle.dbl(v)}" for k, v in SAMPLE_RATES.items()
    )
    f_smp = oracle.hash8_sql("doc_id", oracle.DUCKDB, salt="smp-")
    sig_cols_f = ", ".join(f"sig_{i}" for i in range(N_MINHASH))
    sig_eq_f = " AND ".join(f"s.sig_{i} = r.sig_{i}" for i in range(N_MINHASH))
    h_spl2 = oracle.hash8_sql("doc_id", oracle.DUCKDB, salt="spl-")
    lk_sig_cols = ", ".join(f"sig_{i}" for i in range(N_MINHASH))
    lk_sig_eq = " AND ".join(f"s.sig_{i} = r.sig_{i}" for i in range(N_MINHASH))
    sqls["split_leakage"] = f"""
        WITH jac AS (
          SELECT key_a, key_b FROM ({_jaccard_sql()}) j WHERE jaccard >= {oracle.dbl(0.5)}
        ),
        lsigs AS (SELECT * FROM {_minhash_sql()} m),
        lreps AS (SELECT {lk_sig_cols}, MIN(doc_id) AS rep FROM lsigs GROUP BY {lk_sig_cols}),
        lident AS (
          SELECT r.rep AS key_a, s.doc_id AS key_b
          FROM lsigs s JOIN lreps r ON {lk_sig_eq}
          WHERE s.doc_id <> r.rep
        ),
        verified AS (
          SELECT key_a, key_b FROM jac UNION SELECT key_a, key_b FROM lident
        ),
        splits AS (
          SELECT doc_id,
                 CASE WHEN (({h_spl2}) % 1000000) / {oracle.dbl(1000000.0)} < {oracle.dbl(0.9)} THEN 'train'
                      WHEN (({h_spl2}) % 1000000) / {oracle.dbl(1000000.0)} < {oracle.dbl(0.95)} THEN 'val'
                      ELSE 'test' END AS split
          FROM documents
        )
        SELECT LEAST(a.split, b.split) AS split_a,
               GREATEST(a.split, b.split) AS split_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks
        FROM verified v
        JOIN splits a ON a.doc_id = v.key_a
        JOIN splits b ON b.doc_id = v.key_b
        GROUP BY 1, 2
    """
    h_pack = oracle.hash8_sql("doc_id", oracle.DUCKDB, salt="pack-")
    h_packo = oracle.hash8_sql("doc_id", oracle.DUCKDB, salt="pack-o")
    sqls["sequence_packing"] = f"""
        WITH toks AS (
          SELECT doc_id,
                 CAST(LEN(regexp_extract_all({_norm_sql("text")}, '{text.BPE_TOKEN_RE}')) AS BIGINT) AS n_tok,
                 ({h_pack}) % 8 AS bucket, ({h_packo}) AS ho
          FROM documents
        )
        SELECT doc_id, n_tok, CAST(bucket AS BIGINT) AS bucket,
               CAST(bin_id AS BIGINT) AS bin_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY bucket, bin_id ORDER BY ho, doc_id
               ) AS BIGINT) AS bin_pos
        FROM (
          SELECT doc_id, n_tok, bucket, ho,
                 FLOOR(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY bucket ORDER BY ho, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) / 256) AS bin_id
          FROM toks
        ) binned
    """
    sqls["snapshot_diff"] = f"""
        WITH old AS (
          SELECT doc_id, md5({_norm_sql("text")}) AS fa FROM documents
        ),
        new AS (
          SELECT doc_id,
                 md5({_norm_sql("CASE WHEN doc_id % 10 = 0 THEN 'rewritten ' || text ELSE text END")}) AS fb
          FROM documents WHERE doc_id % 17 <> 0
          UNION ALL
          SELECT 1000000 + g.i AS doc_id,
                 md5({_norm_sql("'brand new page ' || CAST(g.i AS VARCHAR)")}) AS fb
          FROM (SELECT unnest(range(0, 25)) AS i) g
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.fa = n.fb THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
    """
    # true-BPE budget rollup golden (sf0.01; generated by the INDEPENDENT
    # Spark-free replay: scripts/make_bpe_golden.py --budget). VALUES-cast
    # rule applies.
    _bpe_budget_vals = """
        ('TOTAL', 'TOTAL', 500, 27165), ('src0', 'TOTAL', 25, 1435),
        ('src0', 'de', 7, 402), ('src0', 'en', 8, 394), ('src0', 'es', 3,
        206), ('src0', 'fr', 5, 352), ('src0', 'zh', 2, 81), ('src1',
        'TOTAL', 25, 1540), ('src1', 'de', 4, 149), ('src1', 'en', 13, 886),
        ('src1', 'es', 2, 107), ('src1', 'fr', 4, 302), ('src1', 'zh', 2,
        96), ('src10', 'TOTAL', 25, 1303), ('src10', 'de', 1, 27), ('src10',
        'en', 12, 661), ('src10', 'es', 5, 190), ('src10', 'fr', 2, 142),
        ('src10', 'zh', 5, 283), ('src11', 'TOTAL', 25, 1522), ('src11',
        'de', 6, 345), ('src11', 'en', 10, 578), ('src11', 'es', 1, 94),
        ('src11', 'fr', 4, 257), ('src11', 'zh', 4, 248), ('src12', 'TOTAL',
        25, 1272), ('src12', 'de', 2, 100), ('src12', 'en', 13, 677),
        ('src12', 'es', 2, 91), ('src12', 'fr', 1, 43), ('src12', 'zh', 7,
        361), ('src13', 'TOTAL', 25, 1553), ('src13', 'de', 1, 79),
        ('src13', 'en', 8, 503), ('src13', 'es', 6, 281), ('src13', 'fr', 6,
        397), ('src13', 'zh', 4, 293), ('src14', 'TOTAL', 25, 1318),
        ('src14', 'en', 13, 852), ('src14', 'es', 4, 136), ('src14', 'fr',
        4, 133), ('src14', 'zh', 4, 197), ('src15', 'TOTAL', 25, 1298),
        ('src15', 'de', 4, 194), ('src15', 'en', 10, 453), ('src15', 'es',
        3, 182), ('src15', 'fr', 6, 340), ('src15', 'zh', 2, 129), ('src16',
        'TOTAL', 25, 1351), ('src16', 'de', 1, 66), ('src16', 'en', 11,
        436), ('src16', 'es', 5, 344), ('src16', 'fr', 5, 305), ('src16',
        'zh', 3, 200), ('src17', 'TOTAL', 25, 1373), ('src17', 'de', 3,
        156), ('src17', 'en', 9, 486), ('src17', 'es', 7, 333), ('src17',
        'fr', 1, 53), ('src17', 'zh', 5, 345), ('src18', 'TOTAL', 25, 1364),
        ('src18', 'de', 4, 214), ('src18', 'en', 16, 804), ('src18', 'es',
        3, 251), ('src18', 'fr', 2, 95), ('src19', 'TOTAL', 25, 1147),
        ('src19', 'de', 4, 196), ('src19', 'en', 13, 511), ('src19', 'es',
        4, 206), ('src19', 'fr', 1, 51), ('src19', 'zh', 3, 183), ('src2',
        'TOTAL', 25, 1407), ('src2', 'de', 3, 151), ('src2', 'en', 8, 505),
        ('src2', 'es', 4, 236), ('src2', 'fr', 6, 348), ('src2', 'zh', 4,
        167), ('src3', 'TOTAL', 25, 1384), ('src3', 'de', 4, 178), ('src3',
        'en', 12, 738), ('src3', 'es', 4, 193), ('src3', 'fr', 2, 155),
        ('src3', 'zh', 3, 120), ('src4', 'TOTAL', 25, 1294), ('src4', 'de',
        7, 360), ('src4', 'en', 7, 383), ('src4', 'es', 3, 124), ('src4',
        'fr', 5, 244), ('src4', 'zh', 3, 183), ('src5', 'TOTAL', 25, 1329),
        ('src5', 'de', 5, 255), ('src5', 'en', 11, 534), ('src5', 'es', 2,
        150), ('src5', 'fr', 2, 128), ('src5', 'zh', 5, 262), ('src6',
        'TOTAL', 25, 1266), ('src6', 'de', 2, 74), ('src6', 'en', 14, 720),
        ('src6', 'es', 4, 225), ('src6', 'zh', 5, 247), ('src7', 'TOTAL',
        25, 1507), ('src7', 'de', 4, 263), ('src7', 'en', 14, 865), ('src7',
        'es', 2, 104), ('src7', 'fr', 2, 155), ('src7', 'zh', 3, 120),
        ('src8', 'TOTAL', 25, 1136), ('src8', 'de', 4, 166), ('src8', 'en',
        6, 243), ('src8', 'es', 5, 278), ('src8', 'fr', 4, 125), ('src8',
        'zh', 6, 324), ('src9', 'TOTAL', 25, 1366), ('src9', 'de', 4, 174),
        ('src9', 'en', 10, 528), ('src9', 'es', 4, 227), ('src9', 'fr', 2,
        133), ('src9', 'zh', 5, 304)
    """
    sqls["corpus_budget_bpe"] = f"""
        SELECT source, lang,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens
        FROM (VALUES {_bpe_budget_vals}) AS t(source, lang, n_docs, n_tokens)
    """
    # real BPE token counts: the merge loop is not SQL-expressible, so the
    # oracle is a precomputed golden for the deterministic doc_id < 40
    # slice at sf0.01 (the driver's oracle scale), generated by the
    # INDEPENDENT Spark-free replay in scripts/make_bpe_golden.py (pyarrow
    # + pure-Python XXH64 sampler + plain segment loop — NOT the Spark
    # query itself, so a segmenter/UDF bug cannot bake into its own
    # oracle); regenerate if testdata changes. CASTs per the
    # VALUES-parse-as-INTEGER rule.
    _bpe_golden = [
        (0, 32), (1, 72), (2, 45), (3, 27), (4, 45), (5, 56), (6, 15),
        (7, 72), (8, 84), (9, 74), (10, 39), (11, 58), (12, 65), (13, 60),
        (14, 87), (15, 41), (16, 16), (17, 77), (18, 75), (19, 11),
        (20, 68), (21, 37), (22, 81), (23, 30), (24, 97), (25, 94),
        (26, 12), (27, 64), (28, 60), (29, 34), (30, 31), (31, 43),
        (32, 93), (33, 46), (34, 29), (35, 85), (36, 22), (37, 69),
        (38, 36), (39, 23),
    ]
    _bpe_vals = ", ".join(f"({d}, {n})" for d, n in _bpe_golden)
    sqls["bpe_tokens"] = f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_bpe AS BIGINT) AS n_bpe
        FROM (VALUES {_bpe_vals}) AS t(doc_id, n_bpe)
    """
    # substring dedup: the full n-gram-position pipeline replayed in SQL —
    # same dup test (corpus-wide count >= 2), same canonical rule (min
    # (doc_id, pos) via row_number), same (n-1)-preceding coverage windows,
    # same ordered reassembly. Spark hashes gram keys (xxhash64) for 8-byte
    # shuffles; output depends only on membership + argmin, so the raw-gram
    # oracle matches exactly.
    _SS_N = 8
    sqls["substring_dedup"] = f"""
        WITH base AS (
          SELECT doc_id,
                 string_split(COALESCE({_norm_sql("text")}, '') , ' ') AS ws,
                 len(string_split(COALESCE({_norm_sql("text")}, ''), ' ')) AS nw
          FROM documents
        ),
        toks AS (
          SELECT b.doc_id, g.i AS q, b.ws[g.i] AS w
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.nw
        ),
        grams AS (
          SELECT b.doc_id, g.i AS p,
                 array_to_string(list_slice(b.ws, g.i, g.i + {_SS_N - 1}), ' ') AS gram
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.nw - {_SS_N - 1}
        ),
        occ AS (
          SELECT doc_id, p,
                 COUNT(*) OVER (PARTITION BY gram) AS cnt,
                 ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rn
          FROM grams
        ),
        flags AS (
          SELECT doc_id, p, 1 AS dup_start,
                 CASE WHEN rn = 1 THEN 1 ELSE 0 END AS canon_start
          FROM occ WHERE cnt >= 2
        ),
        cov AS (
          SELECT t.doc_id, t.q, t.w,
                 MAX(COALESCE(f.dup_start, 0)) OVER w AS cd,
                 MAX(COALESCE(f.canon_start, 0)) OVER w AS cc
          FROM toks t LEFT JOIN flags f ON f.doc_id = t.doc_id AND f.p = t.q
          WINDOW w AS (PARTITION BY t.doc_id ORDER BY t.q
                       ROWS BETWEEN {_SS_N - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN cd = 1 AND cc = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               COALESCE(string_agg(w, ' ' ORDER BY q)
                          FILTER (WHERE NOT (cd = 1 AND cc = 0)), '') AS dedup_text
        FROM cov GROUP BY doc_id
    """
    sqls["corpus_funnel"] = f"""
        WITH RECURSIVE
        feat AS (
          SELECT doc_id, LENGTH(text) AS n_chars, norm, ' ' || norm || ' ' AS spaced,
                 CASE WHEN LENGTH(norm) = 0 THEN 0
                      ELSE LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1 END AS n_tokens
          FROM (SELECT doc_id, text, {_norm_sql("text")} AS norm FROM documents) b
        ),
        q AS (
          SELECT doc_id,
                 ROUND((LEAST(n_tokens / CAST(20.0 AS DOUBLE), 1.0)
                        + LEAST(CASE WHEN n_tokens > 0 THEN ({f_en}) * 1.0 / n_tokens ELSE 0.0 END * 5.0, 1.0)
                        + CASE WHEN (CASE WHEN n_chars > 0 THEN ({f_punct}) * 1.0 / n_chars ELSE 0.0 END) <= 0.1 THEN 1.0
                               ELSE 1.0 - LEAST(CASE WHEN n_chars > 0 THEN ({f_punct}) * 1.0 / n_chars ELSE 0.0 END, 1.0) END
                       ) / 3.0, 6) AS qs
          FROM feat
        ),
        rbase AS (
          SELECT doc_id, string_split({_norm_sql("text")}, ' ') AS ws,
                 len(string_split({_norm_sql("text")}, ' ')) AS n
          FROM documents WHERE len(string_split({_norm_sql("text")}, ' ')) > 0
        ),
        rbg AS (
          SELECT b.doc_id, b.n, b.ws[g.i] || ' ' || b.ws[g.i + 1] AS t
          FROM rbase b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.n - 1
        ),
        rtb AS (
          SELECT doc_id, n, MAX(c) AS m FROM (
            SELECT doc_id, n, t, COUNT(*) AS c FROM rbg GROUP BY doc_id, n, t
          ) GROUP BY doc_id, n
        ),
        rep AS (
          SELECT b.doc_id,
                 ROUND(len(list_distinct(b.ws)) * 1.0 / b.n, 6) AS dfrac,
                 ROUND(COALESCE(tb.m * 1.0 / (b.n - 1), 0.0), 6) AS tbf
          FROM rbase b LEFT JOIN rtb tb ON tb.doc_id = b.doc_id
        ),
        screened AS MATERIALIZED (
          SELECT d.doc_id, d.text, d.source FROM documents d
          JOIN q ON q.doc_id = d.doc_id AND q.qs >= {oracle.dbl(0.5)}
          JOIN rep r ON r.doc_id = d.doc_id
                    AND r.dfrac >= {oracle.dbl(0.3)} AND r.tbf <= {oracle.dbl(0.5)}
        ),
        scrubbed AS MATERIALIZED (
          SELECT doc_id, source,
                 regexp_replace(regexp_replace(text, '{f_email}', '<EMAIL>', 'g'),
                                '{f_num}', '<NUM>', 'g') AS text
          FROM screened
        ),
        linefreq AS (
          SELECT text, COUNT(DISTINCT doc_id) AS lf FROM scrubbed GROUP BY text
        ),
        deboiler AS MATERIALIZED (
          SELECT s.doc_id, s.text, s.source FROM scrubbed s
          JOIN linefreq l ON l.text = s.text WHERE l.lf <= 5
        ),
        exact_keep AS (
          SELECT MIN(doc_id) AS doc_id FROM deboiler GROUP BY md5({_norm_sql("text")})
        ),
        exacted AS MATERIALIZED (
          SELECT d.doc_id, d.text, d.source FROM deboiler d
          JOIN exact_keep e ON e.doc_id = d.doc_id
        ),
        verified AS MATERIALIZED (
          SELECT key_a, key_b FROM ({_jaccard_sql("exacted")}) j
          WHERE jaccard >= {oracle.dbl(0.8)}
        ),
        nsigs AS (SELECT * FROM {_minhash_sql("exacted")} m),
        nreps AS (SELECT {sig_cols_f}, MIN(doc_id) AS rep FROM nsigs GROUP BY {sig_cols_f}),
        nident AS (
          SELECT r.rep AS key_a, s.doc_id AS key_b
          FROM nsigs s JOIN nreps r ON {sig_eq_f}
          WHERE s.doc_id <> r.rep
        ),
        allp AS (
          SELECT key_a, key_b FROM verified UNION SELECT key_a, key_b FROM nident
        ),
        ne AS (
          SELECT key_a AS a, key_b AS b FROM allp
          UNION SELECT key_b AS a, key_a AS b FROM allp
        ),
        reach(d, r) AS (
          SELECT doc_id, doc_id FROM exacted
          UNION
          SELECT reach.d, ne.b FROM reach JOIN ne ON ne.a = reach.r
        ),
        clusters AS (
          SELECT d AS doc_id FROM reach GROUP BY d HAVING d = MIN(r)
        ),
        neared AS MATERIALIZED (
          SELECT x.doc_id, x.source FROM exacted x
          JOIN clusters c ON c.doc_id = x.doc_id
        ),
        sampled AS MATERIALIZED (
          SELECT doc_id FROM neared
          WHERE (({f_smp}) % 1000000) / {oracle.dbl(1000000.0)}
                < (CASE {f_rate} ELSE {oracle.dbl(SAMPLE_DEFAULT)} END)
        )
        SELECT 'input' AS stage, CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
        UNION ALL SELECT 'quality_screen', CAST((SELECT COUNT(*) FROM screened) AS BIGINT)
        UNION ALL SELECT 'line_dedup', CAST((SELECT COUNT(*) FROM deboiler) AS BIGINT)
        UNION ALL SELECT 'exact_dedup', CAST((SELECT COUNT(*) FROM exacted) AS BIGINT)
        UNION ALL SELECT 'near_dedup', CAST((SELECT COUNT(*) FROM neared) AS BIGINT)
        UNION ALL SELECT 'sampled', CAST((SELECT COUNT(*) FROM sampled) AS BIGINT)
    """
    # frozen-classifier scores: the model (hash indices + weights) is not
    # SQL-expressible in DuckDB (no murmur3), so the oracle is a golden
    # generated by the INDEPENDENT Spark-free replay in
    # scripts/make_classifier_golden.py (NOT the Spark query itself).
    # VALUES-cast rule applies.
    _clf_vals = """
        (0, 0.999985), (1, 0.999532), (2, 0.999959), (3, 0.99998), (4,
        0.999871), (5, 0.999931), (6, 0.999994), (7, 0.999516), (8,
        0.999643), (9, 0.999784), (10, 0.999926), (11, 0.999832), (12,
        0.999924), (13, 0.999907), (14, 0.999854), (15, 0.99995), (16,
        0.999993), (17, 0.998877), (18, 0.997822), (19, 0.999991), (20,
        0.999407), (21, 0.999935), (22, 0.999736), (23, 0.99994), (24,
        0.025413), (25, 0.998423), (26, 0.999994), (27, 0.999889), (28,
        0.999927), (29, 0.999954), (30, 0.999931), (31, 0.999932), (32,
        0.999858), (33, 0.999882), (34, 0.999988), (35, 0.99887), (36,
        0.999984), (37, 0.999883), (38, 0.999986), (39, 0.999943), (40,
        0.999459), (41, 0.997871), (42, 0.999904), (43, 0.99998), (44,
        0.999962), (45, 0.999839), (46, 0.998589), (47, 0.999982), (48,
        0.999938), (49, 0.999981), (50, 0.999871), (51, 0.999699), (52,
        0.999988), (53, 0.999978), (54, 0.999766), (55, 0.99998), (56,
        0.999372), (57, 0.998991), (58, 0.999329), (59, 0.999978), (60,
        0.996641), (61, 0.999857), (62, 0.999914), (63, 0.993733), (64,
        0.999987), (65, 0.999983), (66, 0.99839), (67, 0.999848), (68,
        0.999986), (69, 0.999669), (70, 0.999403), (71, 0.999953), (72,
        0.999912), (73, 0.999536), (74, 0.999994), (75, 0.999937), (76,
        0.999785), (77, 0.999803), (78, 0.999967), (79, 0.999988), (80,
        0.999914), (81, 0.99995), (82, 0.999979), (83, 0.999989), (84,
        0.99939), (85, 0.99998), (86, 0.999991), (87, 0.999988), (88,
        0.999719), (89, 0.999984), (90, 0.999969), (91, 0.999291), (92,
        0.999983), (93, 0.999839), (94, 0.999991), (95, 0.999885), (96,
        0.999702), (97, 0.999595), (98, 0.999464), (99, 0.999928), (100,
        0.999925), (101, 0.999975), (102, 0.041232), (103, 0.999501),
        (104, 0.999991), (105, 0.999248), (106, 0.999993), (107,
        0.999959), (108, 0.99999), (109, 0.999889), (110, 0.999994),
        (111, 0.99986), (112, 0.999857), (113, 0.996739), (114,
        0.999976), (115, 0.999989), (116, 0.999993), (117, 0.99997),
        (118, 0.999562), (119, 0.999989), (120, 0.999931), (121,
        0.999988), (122, 0.999986), (123, 0.99998), (124, 0.999903),
        (125, 0.999979), (126, 0.995429), (127, 0.999663), (128,
        0.998345), (129, 0.999436), (130, 0.99997), (131, 0.99984),
        (132, 0.999077), (133, 0.038475), (134, 0.999988), (135,
        0.043947), (136, 0.999942), (137, 0.999979), (138, 0.999682),
        (139, 0.999938), (140, 0.999971), (141, 0.999849), (142,
        0.989698), (143, 0.999455), (144, 0.999952), (145, 0.998634),
        (146, 0.999989), (147, 0.999743), (148, 0.999881), (149,
        0.999982), (150, 0.999943), (151, 0.993873), (152, 0.999919),
        (153, 0.999831), (154, 0.998948), (155, 0.999819), (156,
        0.999993), (157, 0.999992), (158, 0.999984), (159, 0.99993),
        (160, 0.999905), (161, 0.999164), (162, 0.999812), (163,
        0.999988), (164, 0.999969), (165, 0.999985), (166, 0.999819),
        (167, 0.995431), (168, 0.996061), (169, 0.99993), (170,
        0.999984), (171, 0.999798), (172, 0.999991), (173, 0.99962),
        (174, 0.999943), (175, 0.99985), (176, 0.999), (177, 0.999939),
        (178, 0.999919), (179, 0.985676), (180, 0.99996), (181,
        0.999978), (182, 0.999172), (183, 0.999991), (184, 0.999944),
        (185, 0.999857), (186, 0.998733), (187, 0.988086), (188,
        0.999977), (189, 0.999987), (190, 0.999689), (191, 0.999991),
        (192, 0.999934), (193, 0.999983), (194, 0.99991), (195,
        0.999941), (196, 0.999856), (197, 0.997451), (198, 0.999911),
        (199, 0.999748), (200, 0.999968), (201, 0.999674), (202,
        0.999935), (203, 0.999992), (204, 0.999994), (205, 0.999898),
        (206, 0.999704), (207, 0.999905), (208, 0.999991), (209,
        0.999873), (210, 0.992478), (211, 0.999895), (212, 0.999928),
        (213, 0.998919), (214, 0.999971), (215, 0.028685), (216,
        0.9999), (217, 0.999852), (218, 0.99904), (219, 0.99999), (220,
        0.026253), (221, 0.999874), (222, 0.999931), (223, 0.998464),
        (224, 0.999413), (225, 0.999856), (226, 0.999985), (227,
        0.998439), (228, 0.998044), (229, 0.99916), (230, 0.999779),
        (231, 0.999988), (232, 0.999787), (233, 0.99991), (234,
        0.999806), (235, 0.999948), (236, 0.999994), (237, 0.999437),
        (238, 0.999784), (239, 0.999937), (240, 0.999603), (241,
        0.999006), (242, 0.999914), (243, 0.999898), (244, 0.999979),
        (245, 0.999643), (246, 0.99934), (247, 0.999512), (248,
        0.992603), (249, 0.988451), (250, 0.999896), (251, 0.999404),
        (252, 0.999974), (253, 0.999939), (254, 0.999994), (255,
        0.999941), (256, 0.999993), (257, 0.999987), (258, 0.999816),
        (259, 0.999965), (260, 0.999986), (261, 0.999942), (262,
        0.999831), (263, 0.999429), (264, 0.999963), (265, 0.999388),
        (266, 0.999931), (267, 0.999839), (268, 0.998776), (269,
        0.999891), (270, 0.999641), (271, 0.999985), (272, 0.997899),
        (273, 0.999981), (274, 0.997957), (275, 0.999991), (276,
        0.99974), (277, 0.999983), (278, 0.999704), (279, 0.999943),
        (280, 0.999523), (281, 0.999909), (282, 0.999981), (283,
        0.99931), (284, 0.999377), (285, 0.999361), (286, 0.999979),
        (287, 0.999968), (288, 0.999983), (289, 0.999989), (290,
        0.999464), (291, 0.999796), (292, 0.999835), (293, 0.999329),
        (294, 0.994087), (295, 0.999967), (296, 0.999202), (297,
        0.998435), (298, 0.99999), (299, 0.997433), (300, 0.999939),
        (301, 0.999361), (302, 0.999182), (303, 0.999589), (304,
        0.99972), (305, 0.999974), (306, 0.999496), (307, 0.999846),
        (308, 0.999991), (309, 0.999878), (310, 0.999983), (311,
        0.996301), (312, 0.996916), (313, 0.99995), (314, 0.999407),
        (315, 0.999743), (316, 0.999548), (317, 0.999165), (318,
        0.999932), (319, 0.999293), (320, 0.999123), (321, 0.99997),
        (322, 0.999964), (323, 0.999819), (324, 0.99998), (325,
        0.999575), (326, 0.999953), (327, 0.999978), (328, 0.998904),
        (329, 0.998787), (330, 0.997274), (331, 0.99992), (332,
        0.999931), (333, 0.999985), (334, 0.997692), (335, 0.999934),
        (336, 0.999704), (337, 0.999946), (338, 0.999988), (339,
        0.999973), (340, 0.999932), (341, 0.999226), (342, 0.999994),
        (343, 0.99996), (344, 0.999871), (345, 0.999686), (346,
        0.999617), (347, 0.999983), (348, 0.999949), (349, 0.999557),
        (350, 0.990537), (351, 0.999847), (352, 0.041624), (353,
        0.999927), (354, 0.999517), (355, 0.999104), (356, 0.999957),
        (357, 0.999939), (358, 0.999994), (359, 0.997864), (360,
        0.996342), (361, 0.99997), (362, 0.999988), (363, 0.999951),
        (364, 0.999976), (365, 0.999994), (366, 0.997784), (367,
        0.99994), (368, 0.999993), (369, 0.998227), (370, 0.999983),
        (371, 0.999719), (372, 0.999992), (373, 0.998616), (374,
        0.999967), (375, 0.999894), (376, 0.999869), (377, 0.999912),
        (378, 0.997898), (379, 0.999856), (380, 0.999916), (381,
        0.999686), (382, 0.999752), (383, 0.999932), (384, 0.999992),
        (385, 0.999488), (386, 0.99631), (387, 0.999959), (388,
        0.99991), (389, 0.999983), (390, 0.999988), (391, 0.999964),
        (392, 0.999991), (393, 0.999577), (394, 0.999985), (395,
        0.999524), (396, 0.999965), (397, 0.998499), (398, 0.999982),
        (399, 0.999967), (400, 0.99992), (401, 0.998498), (402,
        0.999981), (403, 0.99969), (404, 0.99991), (405, 0.999269),
        (406, 0.998373), (407, 0.999991), (408, 0.99999), (409,
        0.999365), (410, 0.999803), (411, 0.998627), (412, 0.995911),
        (413, 0.999839), (414, 0.999036), (415, 0.999579), (416,
        0.999956), (417, 0.999699), (418, 0.999833), (419, 0.999993),
        (420, 0.999577), (421, 0.999626), (422, 0.999598), (423,
        0.999236), (424, 0.999155), (425, 0.999978), (426, 0.998621),
        (427, 0.996608), (428, 0.999985), (429, 0.998573), (430,
        0.999283), (431, 0.999978), (432, 0.999896), (433, 0.999991),
        (434, 0.999883), (435, 0.999983), (436, 0.999957), (437,
        0.999217), (438, 0.99999), (439, 0.999956), (440, 0.999976),
        (441, 0.9966), (442, 0.998826), (443, 0.99941), (444, 0.997814),
        (445, 0.999815), (446, 0.999962), (447, 0.999403), (448,
        0.999948), (449, 0.999852), (450, 0.999983), (451, 0.999961),
        (452, 0.999817), (453, 0.999648), (454, 0.999939), (455,
        0.999994), (456, 0.999988), (457, 0.999953), (458, 0.999937),
        (459, 0.999466), (460, 0.999916), (461, 0.999981), (462,
        0.999937), (463, 0.998777), (464, 0.999864), (465, 0.999906),
        (466, 0.999917), (467, 0.999174), (468, 0.999984), (469,
        0.999989), (470, 0.999979), (471, 0.99975), (472, 0.999783),
        (473, 0.999972), (474, 0.99983), (475, 0.999991), (476,
        0.999991), (477, 0.999954), (478, 0.999912), (479, 0.998366),
        (480, 0.99991), (481, 0.999994), (482, 0.998999), (483,
        0.999979), (484, 0.999958), (485, 0.999981), (486, 0.999983),
        (487, 0.9992), (488, 0.999974), (489, 0.999895), (490,
        0.999891), (491, 0.999653), (492, 0.999991), (493, 0.04606),
        (494, 0.999993), (495, 0.999908), (496, 0.992198), (497,
        0.99999), (498, 0.998877), (499, 0.999922)
    """
    sqls["classifier_score"] = f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(model_quality AS DOUBLE) AS model_quality
        FROM (VALUES {_clf_vals}) AS t(doc_id, model_quality)
    """

    # --- r5 ranking/graph family ---
    _toks_sql = f"""
        SELECT doc_id, w AS term FROM (
          SELECT doc_id, unnest(string_split({_norm_sql("text")}, ' ')) AS w
          FROM documents) t
        WHERE LENGTH(w) > 0
    """
    sqls["tfidf_terms"] = f"""
        WITH toks AS ({_toks_sql}),
        tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs FROM tc GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
          SELECT tc.doc_id, tc.term, tc.tf, dfreq.df_docs,
                 ROUND(tc.tf * LN((n.n + 1.0) / (dfreq.df_docs + 1.0)), 6) AS tfidf
          FROM tc JOIN dfreq ON tc.term = dfreq.term CROSS JOIN n
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tf, df_docs,
               CAST(tfidf AS DOUBLE) AS tfidf
        FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
              FROM scored) z
        WHERE rk <= 3
    """
    _bm25_terms = ", ".join(f"('{t}')" for t in BM25_QUERY_TERMS)
    sqls["bm25_search"] = f"""
        WITH toks AS ({_toks_sql}),
        tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        dl AS (
          SELECT doc_id, CASE WHEN LENGTH({_norm_sql("text")}) = 0 THEN 0
                 ELSE LENGTH({_norm_sql("text")})
                      - LENGTH(replace({_norm_sql("text")}, ' ', '')) + 1 END AS dl
          FROM documents
        ),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        q(term) AS (VALUES {_bm25_terms}),
        matched AS (SELECT tc.* FROM tc JOIN q ON q.term = tc.term),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM matched GROUP BY 1)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(bm25 AS DOUBLE) AS bm25 FROM (
          SELECT m.doc_id,
                 ROUND(SUM(
                   LN(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
                   * (m.tf * (1.2 + 1.0))
                   / (m.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
                 ), 6) AS bm25
          FROM matched m
          JOIN dfreq f ON f.term = m.term
          JOIN dl d ON d.doc_id = m.doc_id
          CROSS JOIN stats s
          GROUP BY m.doc_id
        ) z
        ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """
    sqls["rrf_fusion"] = f"""
        WITH toks AS ({_toks_sql}),
        tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        dl AS (
          SELECT doc_id, CASE WHEN LENGTH({_norm_sql("text")}) = 0 THEN 0
                 ELSE LENGTH({_norm_sql("text")})
                      - LENGTH(replace({_norm_sql("text")}, ' ', '')) + 1 END AS dl
          FROM documents
        ),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        q(term) AS (VALUES {_bm25_terms}),
        matched AS (SELECT tc.* FROM tc JOIN q ON q.term = tc.term),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM matched GROUP BY 1),
        bm_scored AS (
          SELECT m.doc_id,
                 ROUND(SUM(
                   LN(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
                   * (m.tf * (1.2 + 1.0))
                   / (m.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
                 ), 6) AS bm25
          FROM matched m
          JOIN dfreq f ON f.term = m.term
          JOIN dl d ON d.doc_id = m.doc_id
          CROSS JOIN stats s
          GROUP BY m.doc_id
        ),
        bm AS (
          SELECT doc_id, bm25_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS bm25_rank
            FROM bm_scored
          ) z WHERE bm25_rank <= 50
        ),
        qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        cos_scored AS (
          SELECT c.vec_id AS doc_id,
                 list_dot_product(q.qv, c.cv)
                   / (SQRT(list_dot_product(q.qv, q.qv))
                    * SQRT(list_dot_product(c.cv, c.cv))) AS cosine
          FROM qv q CROSS JOIN
               (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
                WHERE vec_id <> 0) c
          WHERE list_dot_product(q.qv, q.qv) > 0
            AND list_dot_product(c.cv, c.cv) > 0
        ),
        cosr AS (
          SELECT doc_id, cos_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS cos_rank
            FROM cos_scored
          ) z WHERE cos_rank <= 50
        ),
        fused AS (
          SELECT COALESCE(bm.doc_id, cosr.doc_id) AS doc_id,
                 bm.bm25_rank, cosr.cos_rank,
                 ROUND(COALESCE(1.0 / (60 + bm.bm25_rank), 0)
                     + COALESCE(1.0 / (60 + cosr.cos_rank), 0), 6) AS rrf
          FROM bm FULL OUTER JOIN cosr ON bm.doc_id = cosr.doc_id
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(COALESCE(bm25_rank, 0) AS INTEGER) AS bm25_rank,
               CAST(COALESCE(cos_rank, 0) AS INTEGER) AS cos_rank,
               rrf
        FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20
    """
    sqls["nb_classify"] = f"""
        WITH toks AS ({_toks_sql}),
        tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
               FROM toks GROUP BY 1, 2),
        lab AS (SELECT doc_id, lang FROM documents),
        trtc AS (
          SELECT tc.doc_id, lab.lang, tc.term, tc.tf
          FROM tc JOIN lab USING (doc_id) WHERE tc.doc_id % 5 <> 0
        ),
        cnt AS (SELECT lang, term, CAST(SUM(tf) AS BIGINT) AS c
                FROM trtc GROUP BY 1, 2),
        vocab AS (SELECT DISTINCT term FROM trtc),
        vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
        tokc AS (SELECT lang, CAST(SUM(tf) AS BIGINT) AS toks
                 FROM trtc GROUP BY 1),
        classes AS (SELECT DISTINCT lang FROM trtc),
        model AS (
          SELECT g.lang, g.term,
                 CAST(ROUND(LN((COALESCE(cnt.c, 0) + 1.0)
                              / CAST(tokc.toks + vs.v AS DOUBLE)) * 1000000,
                            0) AS BIGINT) AS w
          FROM (SELECT c.lang, v.term FROM classes c CROSS JOIN vocab v) g
          JOIN tokc ON tokc.lang = g.lang
          CROSS JOIN vsize vs
          LEFT JOIN cnt ON cnt.lang = g.lang AND cnt.term = g.term
        ),
        ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
                  WHERE doc_id % 5 <> 0),
        prior AS (
          SELECT lang,
                 CAST(ROUND(LN(CAST(COUNT(*) AS DOUBLE) / nd.n) * 1000000,
                            0) AS BIGINT) AS p
          FROM documents CROSS JOIN ndocs nd
          WHERE doc_id % 5 <> 0 GROUP BY lang, nd.n
        ),
        scored AS (
          SELECT t.doc_id, m.lang,
                 p.p + CAST(SUM(t.tf * m.w) AS BIGINT) AS score
          FROM (SELECT * FROM tc WHERE doc_id % 5 = 0) t
          JOIN model m ON m.term = t.term
          JOIN prior p ON p.lang = m.lang
          GROUP BY t.doc_id, m.lang, p.p
        )
        SELECT doc_id, lang AS pred_lang, score FROM (
          SELECT doc_id, lang, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, lang ASC) AS rn
          FROM scored
        ) z WHERE rn = 1
    """
    sqls["cooccur_pmi"] = f"""
        WITH base AS (
          SELECT doc_id, string_split({_norm_sql("text")}, ' ') AS ws,
                 len(string_split({_norm_sql("text")}, ' ')) AS nw
          FROM documents
        ),
        toks AS (
          SELECT b.doc_id, g.i AS q, b.ws[g.i] AS w
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.nw
        ),
        uni AS (SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS c
                FROM toks WHERE LENGTH(w) > 0 GROUP BY 1),
        tt AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM uni),
        pairs_all AS (
          SELECT LEAST(t1.w, t2.w) AS term_a, GREATEST(t1.w, t2.w) AS term_b,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM toks t1 JOIN toks t2
            ON t1.doc_id = t2.doc_id AND t2.q BETWEEN t1.q + 1 AND t1.q + 3
          GROUP BY 1, 2
        ),
        pt AS (SELECT CAST(SUM(n_pairs) AS DOUBLE) AS p FROM pairs_all)
        SELECT term_a, term_b, n_pairs,
               CAST(ROUND(LN((pa.n_pairs / pt.p)
                    / ((ua.c / tt.t) * (ub.c / tt.t))), 6) AS DOUBLE) AS pmi
        FROM pairs_all pa
        JOIN uni ua ON ua.term = pa.term_a
        JOIN uni ub ON ub.term = pa.term_b
        CROSS JOIN tt CROSS JOIN pt
        WHERE pa.n_pairs >= 5
        ORDER BY pmi DESC, term_a ASC, term_b ASC LIMIT 40
    """
    # pagerank: 10 power iterations UNROLLED (aggregation is illegal in a
    # recursive CTE term); same simplified formulation as operators/graph.
    # Shared by pagerank_domains and textrank_terms (expects CTEs named
    # nodes / edges / deg in scope).
    _pp = _ppr_unrolled_sql(10)
    sqls["ppr_scores"] = f"""
        WITH edges AS (
          SELECT DISTINCT source AS src,
                 'src' || CAST((doc_id % 13) AS VARCHAR) AS dst
          FROM documents WHERE doc_id % 3 = 0
        ),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
        seeds AS (SELECT 'src1' AS node, CAST(1.0 AS DOUBLE) AS mass)
        SELECT node, CAST(ROUND(rank, 6) AS DOUBLE) AS rank FROM ({_pp}) z
    """
    _pr = _pagerank_unrolled_sql(10)
    sqls["pagerank_domains"] = f"""
        WITH edges AS (
          SELECT DISTINCT source AS src,
                 'src' || CAST((doc_id % 13) AS VARCHAR) AS dst
          FROM documents WHERE doc_id % 3 = 0
        ),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1)
        SELECT node, CAST(ROUND(rank, 6) AS DOUBLE) AS rank FROM ({_pr}) z
    """
    sqls["textrank_terms"] = f"""
        WITH base AS (
          SELECT doc_id, string_split({_norm_sql("text")}, ' ') AS ws,
                 len(string_split({_norm_sql("text")}, ' ')) AS nw
          FROM documents
        ),
        toks AS (
          SELECT b.doc_id, g.i AS q, b.ws[g.i] AS w
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.nw
        ),
        pairs AS (
          SELECT t1.w AS a, t2.w AS b
          FROM toks t1 JOIN toks t2
            ON t1.doc_id = t2.doc_id AND t2.q = t1.q + 1
          WHERE t1.w <> t2.w AND LENGTH(t1.w) > 0 AND LENGTH(t2.w) > 0
        ),
        edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL SELECT b, a FROM pairs
          ) u
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1)
        SELECT node AS term, CAST(ROUND(rank, 6) AS DOUBLE) AS rank
        FROM ({_pr}) z
    """
    # weighted_sample: exact A-ES selection replay (same u, same order)
    _ws_h = _hash8("doc_id", "wsmp-")
    sqls["weighted_sample"] = f"""
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
               CAST(ROUND(LN(({_ws_h} + 1) / {oracle.dbl(float((1 << 32) + 1))})
                    / CAST(n_chars AS DOUBLE), 6) AS DOUBLE) AS score
        FROM documents
        WHERE n_chars > 0
        ORDER BY score DESC, doc_id ASC
        LIMIT 60
    """
    # merge_upsert: SQL replay of the same merge; fp pins final content
    sqls["merge_upsert"] = f"""
        WITH b AS (SELECT doc_id, text FROM documents),
        u AS (
          SELECT doc_id, 'rev2 ' || text AS text, 'U' AS op
          FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id, text, 'D' FROM documents
          WHERE doc_id % 13 = 3 AND doc_id % 7 <> 0
          UNION ALL
          SELECT doc_id + 1000000, 'new page ' || CAST(doc_id AS VARCHAR), 'U'
          FROM documents WHERE doc_id % 11 = 5
        ),
        j AS (
          SELECT COALESCE(b.doc_id, u.doc_id) AS doc_id,
                 b.text AS btext, u.text AS utext, u.op,
                 b.doc_id IS NOT NULL AS inb, u.doc_id IS NOT NULL AS inu
          FROM b FULL OUTER JOIN u ON b.doc_id = u.doc_id
        )
        SELECT doc_id,
               CASE WHEN NOT inu THEN 'carry'
                    WHEN op = 'D' THEN 'delete'
                    WHEN NOT inb THEN 'insert'
                    ELSE 'update' END AS action,
               md5({_norm_sql("CASE WHEN inu AND op <> 'D' THEN utext ELSE btext END")}) AS fp
        FROM j
        WHERE NOT (inu AND op = 'D')
    """
    # kmv_distinct: identical hash family -> the estimate matches exactly
    _kmv_h = _hash8("user_id", "kmv-")
    sqls["kmv_distinct"] = f"""
        WITH h AS (
          SELECT DISTINCT CAST(event_type AS VARCHAR) AS grp, {_kmv_h} AS hv
          FROM events
        ),
        r AS (
          SELECT grp, hv,
                 ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hv ASC) AS rk
          FROM h
        ),
        k AS (
          SELECT grp, COUNT(*) AS k_used, MAX(hv) AS kth FROM r
          WHERE rk <= 32 GROUP BY grp
        )
        SELECT grp, CAST(k_used AS BIGINT) AS k_used, kth AS kth_hash,
               CAST(ROUND(CASE WHEN k_used < 32 THEN CAST(k_used AS DOUBLE)
                    ELSE {oracle.dbl(31.0)} * {oracle.dbl(4294967296.0)} / kth
                    END, 6) AS DOUBLE) AS est_distinct
        FROM k
    """
    # lm_perplexity: full SQL replay of the add-alpha bigram LM (train on
    # the doc_id % 5 = 0 slice, score all docs, NTILE(3) tertiles over the
    # round-6 perplexity so the bucket boundary is bit-stable cross-engine)
    _a = oracle.dbl(0.1)
    sqls["lm_perplexity"] = f"""
        WITH base AS (
          SELECT doc_id, string_split({_norm_sql("text")}, ' ') AS ws,
                 len(string_split({_norm_sql("text")}, ' ')) AS n
          FROM documents
        ),
        train_tok AS (
          SELECT w FROM (SELECT unnest(ws) AS w FROM base WHERE doc_id % 5 = 0) t
          WHERE LENGTH(w) > 0
        ),
        uni AS (SELECT w AS w1, COUNT(*) AS c_u FROM train_tok GROUP BY w),
        voc AS (SELECT COUNT(DISTINCT w) AS v FROM train_tok),
        bi AS (
          SELECT w1, w2, COUNT(*) AS c_b FROM (
            SELECT b.ws[g.i] AS w1, b.ws[g.i + 1] AS w2
            FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
            WHERE b.doc_id % 5 = 0 AND g.i <= b.n - 1 AND LENGTH(b.ws[g.i]) > 0
          ) t GROUP BY w1, w2
        ),
        doc_bg AS (
          SELECT b.doc_id, b.ws[g.i] AS w1, b.ws[g.i + 1] AS w2
          FROM base b, (SELECT unnest(range(1, {ORACLE_MAX_WORDS} + 1)) AS i) g
          WHERE g.i <= b.n - 1 AND LENGTH(b.ws[g.i]) > 0
        ),
        sc AS (
          SELECT d.doc_id,
                 LN((COALESCE(bi.c_b, 0) + {_a})
                    / (COALESCE(uni.c_u, 0) + {_a} * voc.v)) AS logp
          FROM doc_bg d
          LEFT JOIN bi ON bi.w1 = d.w1 AND bi.w2 = d.w2
          LEFT JOIN uni ON uni.w1 = d.w1
          CROSS JOIN voc
        ),
        ppl AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(ROUND(EXP(-SUM(logp) / COUNT(*)), 6) AS DOUBLE) AS ppl
          FROM sc GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, ppl,
               CASE NTILE(3) OVER (ORDER BY ppl ASC, doc_id ASC)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ppl
    """
    # heavy_hitters: full Count-Min replay — same md5 hash family, same
    # d x w cells, same min-over-rows estimate (est >= exact by construction)
    _cm_toks = f"""(
      SELECT w AS term FROM (
        SELECT unnest(string_split({_norm_sql("text")}, ' ')) AS w FROM documents
      ) t WHERE LENGTH(w) > 0
    )"""
    _cm_build = " UNION ALL ".join(
        f"SELECT {i} AS row, ({_hash8('term', f'cm{i}-')}) % 256 AS bucket FROM toks"
        for i in range(4)
    )
    _cm_probe = " UNION ALL ".join(
        f"SELECT term, exact_n, {i} AS row,"
        f" ({_hash8('term', f'cm{i}-')}) % 256 AS bucket FROM cand"
        for i in range(4)
    )
    sqls["heavy_hitters"] = f"""
        WITH toks AS (SELECT * FROM {_cm_toks} z),
        cells AS (
          SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS c
          FROM ({_cm_build}) p GROUP BY 1, 2
        ),
        exact AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_n FROM toks GROUP BY 1
        ),
        cand AS (SELECT * FROM exact ORDER BY exact_n DESC, term ASC LIMIT 25)
        SELECT p.term, p.exact_n,
               CAST(MIN(c.c) AS BIGINT) AS est_n,
               CAST(MIN(c.c) - p.exact_n AS BIGINT) AS overcount
        FROM ({_cm_probe}) p
        JOIN cells c ON c.row = p.row AND c.bucket = p.bucket
        GROUP BY 1, 2
    """
    # histogram_quantile: fixed-bin mergeable quantile estimator replay —
    # identical bin math + cumulative window + interpolation, so the
    # ESTIMATE itself hash-matches (all arithmetic single-op deterministic)
    _hq_bin = (
        f"GREATEST(0, LEAST(63, CAST(FLOOR((CAST(n_chars AS DOUBLE) - {oracle.dbl(0.0)})"
        f" / {oracle.dbl(10.0)}) AS INTEGER)))"
    )
    sqls["histogram_quantile"] = f"""
        WITH b AS (
          SELECT CAST(lang AS VARCHAR) AS grp, {_hq_bin} AS bin FROM documents
        ),
        counts AS (
          SELECT grp, bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2
        ),
        cum AS (
          SELECT grp, bin, cnt,
                 CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY bin ASC) AS BIGINT) AS cum,
                 CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS total
          FROM counts
        ),
        q(q) AS (VALUES ({oracle.dbl(0.5)}), ({oracle.dbl(0.9)}), ({oracle.dbl(0.99)}))
        SELECT grp, q,
               CAST(ROUND({oracle.dbl(0.0)} + bin * {oracle.dbl(10.0)}
                    + {oracle.dbl(10.0)} * (q * total - (cum - cnt)) / cnt,
                    6) AS DOUBLE) AS est
        FROM cum CROSS JOIN q
        WHERE cum >= q * total AND (cum - cnt) < q * total
    """
    # cube_stats: GROUPING SETS rollup parity (CUBE over lang x source);
    # integer sums stay exact in double so ROUND(AVG) is bit-stable
    sqls["cube_stats"] = """
        SELECT COALESCE(lang, 'ALL') AS lang,
               COALESCE(source, 'ALL') AS source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS DOUBLE) AS avg_chars
        FROM documents
        GROUP BY CUBE (lang, source)
    """
    # sorted_neighborhood: blocked SNM replay — same block prefix, same
    # within-block sort, same lead-window neighbors, same token-set Jaccard
    _sn_leads = ",\n                 ".join(
        f"lead(key_a, {i}) OVER w AS kb{i}, lead(toks, {i}) OVER w AS tb{i}"
        for i in range(1, 4)
    )
    _sn_pairs = " UNION ALL ".join(
        f"SELECT key_a, toks AS toks_a, kb{i} AS key_b, tb{i} AS toks_b"
        f" FROM nb WHERE kb{i} IS NOT NULL"
        for i in range(1, 4)
    )
    sqls["sorted_neighborhood"] = f"""
        WITH base AS (
          SELECT doc_id AS key_a, {_norm_sql("text")} AS skey,
                 list_distinct(list_filter(
                   string_split({_norm_sql("text")}, ' '),
                   x -> LENGTH(x) > 0)) AS toks
          FROM documents
        ),
        b2 AS (SELECT key_a, skey, toks, substr(skey, 1, 2) AS block FROM base),
        nb AS (
          SELECT key_a, toks,
                 {_sn_leads}
          FROM b2 WINDOW w AS (PARTITION BY block ORDER BY skey ASC, key_a ASC)
        ),
        pairs AS ({_sn_pairs}),
        j AS (
          SELECT key_a, key_b,
                 CAST(len(list_filter(toks_a, x -> list_contains(toks_b, x)))
                      AS DOUBLE) AS isz,
                 CAST(len(toks_a) + len(toks_b) AS DOUBLE) AS sz
          FROM pairs
        ),
        scored AS (
          SELECT LEAST(key_a, key_b) AS key_a, GREATEST(key_a, key_b) AS key_b,
                 CAST(ROUND(CASE WHEN sz - isz > {oracle.dbl(0.0)}
                                 THEN isz / (sz - isz)
                                 ELSE {oracle.dbl(1.0)} END, 6) AS DOUBLE) AS jaccard
          FROM j
        )
        SELECT * FROM scored WHERE jaccard >= {oracle.dbl(0.5)}
    """
    # setsim_join: the oracle is the BRUTE-FORCE all-pairs exact-Jaccard
    # join over the same distinct word-trigram shingle sets — if Spark's
    # prefix filter drops any qualifying pair, the row-count/hash check
    # fails, so the PASS is an exactness proof of the PPJoin-style filters.
    _tok_cte = f"""
        n AS (SELECT doc_id, {_norm_sql("text")} AS t FROM documents),
        toks AS (
          SELECT doc_id, w, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS i
          FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w,
                       generate_subscripts(string_split(t, ' '), 1) AS p FROM n) z
          WHERE LENGTH(w) > 0
        )"""
    # editsim_pairs: brute-force all-pairs levenshtein — if the Spark
    # side's deletion-neighborhood filter dropped ANY qualifying pair,
    # the row-count/hash check fails (exactness proof, like setsim_join).
    sqls["editsim_pairs"] = """
        WITH t AS (
          SELECT DISTINCT trim(substr(text, 1, 12)) AS title FROM documents
        )
        SELECT a.title AS title_a, b.title AS title_b,
               CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        FROM t a JOIN t b
          ON a.title < b.title
         AND abs(length(a.title) - length(b.title)) <= 1
        WHERE levenshtein(a.title, b.title) <= 1
    """
    sqls["setsim_join"] = f"""
        WITH {_tok_cte},
        tri AS (
          SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
          FROM toks a
          JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
          JOIN toks c ON c.doc_id = a.doc_id AND c.i = a.i + 2
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tri GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS key_a, b.doc_id AS key_b, COUNT(*) AS isz
          FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.key_a, i.key_b,
               CAST(ROUND(i.isz * {oracle.dbl(1.0)}
                          / (sa.sz + sb.sz - i.isz), 6) AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.key_a
        JOIN sizes sb ON sb.doc_id = i.key_b
        WHERE i.isz * {oracle.dbl(1.0)} / (sa.sz + sb.sz - i.isz) >= {oracle.dbl(0.5)}
    """
    # phrase_search: the oracle is the k-way POSITIONAL SELF-JOIN — the
    # classic inverted-index formulation — vs Spark's one-pass lead()
    # window; two independent formulations of consecutive-token matching.
    _terms = PHRASE.split()
    _joins = "\n          ".join(
        f"JOIN toks t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.i = t0.i + {i}"
        f" AND t{i}.w = '{t}'"
        for i, t in enumerate(_terms[1:], start=1)
    )
    sqls["phrase_search"] = f"""
        WITH {_tok_cte},
        hits AS (
          SELECT t0.doc_id, t0.i AS pos
          FROM toks t0
          {_joins}
          WHERE t0.w = '{_terms[0]}'
        )
        SELECT doc_id, COUNT(*) AS n_matches, CAST(MIN(pos) AS BIGINT) AS first_pos
        FROM hits GROUP BY doc_id
    """
    # sliding_windows: arithmetic window-assignment replay — with
    # duration = 2*slide every event lands in exactly the two epoch-aligned
    # starts floor(us/slide)*slide - k*slide, k in {{0,1}} (us >= 0 here, so
    # integer division IS floor). CAST(SUM AS BIGINT): DuckDB SUM(BIGINT)
    # is HUGEINT (decimal128) vs Spark int64.
    _slide_us = 3 * 3600 * 1_000_000
    sqls["sliding_windows"] = f"""
        WITH ev AS (
          SELECT event_type AS grp, epoch_us(ts) AS us, value FROM events
        ),
        assigned AS (
          SELECT grp,
                 (us // {_slide_us}) * {_slide_us} - k.k * {_slide_us} AS win_start_us,
                 value
          FROM ev CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) k
        )
        SELECT grp, win_start_us, COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM assigned GROUP BY grp, win_start_us
    """
    # hits: 8 max-normalized iterations as a MATERIALIZED-CTE chain —
    # auth/hub levels are each referenced twice (values + scalar max), so
    # pagerank-style nested unrolling would go exponential; max (not L2)
    # normalization keeps the replay free of float-association drift.
    _zero = oracle.dbl(0.0)
    _cte = [
        """edges AS MATERIALIZED (
          SELECT DISTINCT source AS src,
                 'src' || CAST((doc_id % 13) AS VARCHAR) AS dst
          FROM documents WHERE doc_id % 3 = 0
        )""",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"h0 AS (SELECT node, {oracle.dbl(1.0)} AS hub FROM nodes)",
    ]
    for i in range(1, 9):
        _cte.append(f"""a{i}f AS MATERIALIZED (
          SELECT n.node, COALESCE(s.a, {_zero}) AS a
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.hub) AS a
            FROM h{i - 1} p JOIN edges e ON e.src = p.node GROUP BY e.dst
          ) s ON s.node = n.node)""")
        _cte.append(
            f"a{i} AS MATERIALIZED (SELECT node, a / (SELECT MAX(a) FROM a{i}f) AS auth FROM a{i}f)"
        )
        _cte.append(f"""h{i}f AS MATERIALIZED (
          SELECT n.node, COALESCE(s.h, {_zero}) AS h
          FROM nodes n LEFT JOIN (
            SELECT e.src AS node, SUM(p.auth) AS h
            FROM a{i} p JOIN edges e ON e.dst = p.node GROUP BY e.src
          ) s ON s.node = n.node)""")
        _cte.append(
            f"h{i} AS MATERIALIZED (SELECT node, h / (SELECT MAX(h) FROM h{i}f) AS hub FROM h{i}f)"
        )
    _cte_sql = ",\n        ".join(_cte)
    sqls["hits_scores"] = f"""
        WITH {_cte_sql}
        SELECT h8.node, CAST(ROUND(h8.hub, 6) AS DOUBLE) AS hub,
               CAST(ROUND(a8.auth, 6) AS DOUBLE) AS auth
        FROM h8 JOIN a8 ON a8.node = h8.node
    """
    # char_entropy: substring position enumeration (constant bound +
    # WHERE); the entropy is computed in the SAME algebraic form as Spark
    # (ln(n) - sum(c*ln(c))/n) so the only drift surface is one round-6
    # sum over alphabet-size terms
    sqls["char_entropy"] = f"""
        WITH n AS (SELECT doc_id, {_norm_sql("text")} AS t FROM documents),
        ch AS (
          SELECT doc_id, SUBSTRING(t, g.p, 1) AS ch
          FROM n, (SELECT unnest(range(1, 4096)) AS p) g
          WHERE g.p <= LENGTH(t)
        ),
        cnt AS (
          SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c
          FROM ch GROUP BY doc_id, ch
        )
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
               CAST(ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 6) AS DOUBLE)
                 AS entropy
        FROM cnt GROUP BY doc_id
    """
    # event_funnel: min-after join chain — the independent formulation of
    # "step i strictly after step i-1, first match wins" vs Spark's
    # sorted fold
    sqls["event_funnel"] = f"""
        WITH s0 AS (SELECT user_id, MIN(ts) AS t FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s1 AS (SELECT e.user_id, MIN(e.ts) AS t
               FROM events e JOIN s0 ON s0.user_id = e.user_id
               WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
        s2 AS (SELECT e.user_id, MIN(e.ts) AS t
               FROM events e JOIN s1 ON s1.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1),
        u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events WHERE event_type IN ('view', 'click', 'purchase'))
        SELECT u.n_users,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s0) AS n_view,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_click,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_purchase,
               CAST(ROUND((SELECT COUNT(*) FROM s0) * {oracle.dbl(1.0)} / u.n_users, 6) AS DOUBLE) AS rate_view,
               CAST(ROUND((SELECT COUNT(*) FROM s1) * {oracle.dbl(1.0)} / u.n_users, 6) AS DOUBLE) AS rate_click,
               CAST(ROUND((SELECT COUNT(*) FROM s2) * {oracle.dbl(1.0)} / u.n_users, 6) AS DOUBLE) AS rate_purchase
        FROM u
    """
    # bfs_hops: recursive reachability enumeration, MIN(depth) outside
    # the recursion; UNION (not UNION ALL) dedups (node, depth) pairs so
    # the recursion terminates at the depth bound
    sqls["shortest_paths"] = """
        WITH RECURSIVE edges AS (
          SELECT src, dst, MIN(w) AS w FROM (
            SELECT 'n' || CAST((doc_id % 97) AS VARCHAR) AS src,
                   'n' || CAST(((3 * (doc_id % 97) + 1) % 97) AS VARCHAR) AS dst,
                   CAST((doc_id % 97) % 7 + 1 AS DOUBLE) AS w
            FROM documents
            UNION ALL
            SELECT 'n' || CAST((doc_id % 97) AS VARCHAR),
                   'n' || CAST(((5 * (doc_id % 97) + 2) % 97) AS VARCHAR),
                   CAST((doc_id % 97) % 5 + 3 AS DOUBLE)
            FROM documents
          ) raw GROUP BY src, dst
        ),
        walk(node, cost, hops) AS (
          SELECT 'n0', CAST(0 AS DOUBLE), 0
          UNION
          SELECT e.dst, walk.cost + e.w, walk.hops + 1
          FROM walk JOIN edges e ON e.src = walk.node
          WHERE walk.hops < 6
        )
        SELECT node, MIN(cost) AS cost FROM walk GROUP BY node
    """
    sqls["scd2_history"] = """
        WITH ordered AS (
          SELECT user_id, event_type, epoch_us(ts) AS us,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn1,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS rn2
          FROM events
        ),
        runs AS (
          SELECT user_id, event_type,
                 MIN(us) AS valid_from_us, COUNT(*) AS n_changes,
                 MIN(rn1) AS first_rn
          FROM ordered GROUP BY user_id, event_type, rn1 - rn2
        )
        SELECT user_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY first_rn)
                    AS BIGINT) AS version,
               event_type,
               CAST(valid_from_us AS BIGINT) AS valid_from_us,
               CAST(LEAD(valid_from_us) OVER (PARTITION BY user_id
                                              ORDER BY first_rn) AS BIGINT)
                 AS valid_to_us,
               n_changes,
               LEAD(valid_from_us) OVER (PARTITION BY user_id
                                         ORDER BY first_rn) IS NULL
                 AS is_current
        FROM runs
    """
    sqls["bfs_hops"] = """
        WITH RECURSIVE edges AS (
          SELECT DISTINCT 'n' || CAST((doc_id % 97) AS VARCHAR) AS src,
                 'n' || CAST(((3 * (doc_id % 97) + 1) % 97) AS VARCHAR) AS dst
          FROM documents
          UNION
          SELECT DISTINCT 'n' || CAST((doc_id % 97) AS VARCHAR),
                 'n' || CAST(((5 * (doc_id % 97) + 2) % 97) AS VARCHAR)
          FROM documents
        ),
        reach(node, d) AS (
          SELECT 'n0', 0
          UNION
          SELECT e.dst, r.d + 1
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.d < 6
        )
        SELECT node, CAST(MIN(d) AS BIGINT) AS hops FROM reach GROUP BY node
    """
    # chunk_passages: arithmetic replay — chunk k of doc covers tokens
    # [k*stride, k*stride+size); starts while k*stride < n_tokens. range
    # bound 256 >> ceil(ORACLE_MAX_WORDS/stride) per the constant-bound
    # convention.
    sqls["chunk_passages"] = f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split({_norm_sql("text")}, ' '),
                             x -> LENGTH(x) > 0) AS ws
          FROM documents
        ),
        sz AS (SELECT doc_id, ws, len(ws) AS n FROM base)
        SELECT doc_id, CAST(g.k AS BIGINT) AS chunk_id,
               array_to_string(list_slice(ws, g.k * 24 + 1, g.k * 24 + 32), ' ')
                 AS chunk_text,
               CAST(len(list_slice(ws, g.k * 24 + 1, g.k * 24 + 32)) AS BIGINT)
                 AS n_chunk_toks
        FROM sz, (SELECT unnest(range(0, 256)) AS k) g
        WHERE sz.n > 0 AND g.k <= (sz.n - 1) // 24
    """
    # interval_merge: same gaps-and-islands formulation (the window algebra
    # IS the spec); all-BIGINT epoch-micro arithmetic on both engines.
    sqls["interval_merge"] = """
        WITH iv AS (
          SELECT user_id, epoch_us(ts) AS s,
                 epoch_us(ts) + (300 + (event_id * 37) % 3300) * 1000000 AS e
          FROM events
        ),
        flagged AS (
          SELECT user_id, s, e,
                 CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                      THEN 1 ELSE 0 END AS opens
          FROM iv
          WINDOW w AS (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        numbered AS (
          SELECT user_id, s, e,
                 SUM(opens) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
          FROM flagged
        )
        SELECT user_id, MIN(s) AS island_start, MAX(e) AS island_end,
               COUNT(*) AS n_intervals, MAX(e) - MIN(s) AS covered
        FROM numbered GROUP BY user_id, island
    """
    # triangle_counts: independent brute-force oracle — canonical a<b
    # edges, x<y<z three-way join finds each triangle once, corner
    # explosion rolls up per node (the Spark side's degree ordering is a
    # pure optimization; outputs must be identical).
    sqls["triangle_counts"] = """
        WITH e0 AS (
          SELECT DISTINCT
                 LEAST(doc_id % 61, (doc_id // 61) % 61) AS a,
                 GREATEST(doc_id % 61, (doc_id // 61) % 61) AS b
          FROM documents
          WHERE doc_id % 61 <> (doc_id // 61) % 61
        ),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e0 e1
          JOIN e0 e2 ON e2.a = e1.b
          JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
          SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        )
        SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
    """
    sqls["clustering_coeff"] = """
        WITH e0 AS (
          SELECT DISTINCT
                 LEAST(doc_id % 61, (doc_id // 61) % 61) AS a,
                 GREATEST(doc_id % 61, (doc_id // 61) % 61) AS b
          FROM documents
          WHERE doc_id % 61 <> (doc_id // 61) % 61
        ),
        deg AS (
          SELECT node, COUNT(*) AS deg FROM (
            SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
          ) n GROUP BY node
        ),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e0 e1
          JOIN e0 e2 ON e2.a = e1.b
          JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
          SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        ),
        tcnt AS (SELECT node, COUNT(*) AS t FROM corners GROUP BY node)
        SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
               CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS n_triangles,
               ROUND(CASE WHEN d.deg >= 2
                          THEN 2.0 * CAST(COALESCE(tcnt.t, 0) AS DOUBLE)
                               / (CAST(d.deg AS DOUBLE) * (d.deg - 1))
                          ELSE CAST(0 AS DOUBLE) END, 6) AS clustering
        FROM deg d LEFT JOIN tcnt ON tcnt.node = d.node
    """
    # chi2_terms: full-SQL replay of the 2xL contingency algebra (all
    # cells, zero-filled observed counts, degenerate-cell convention).
    # zipf_slope: DuckDB's native REGR/CORR aggregates over the same
    # ranked top-200 term list — an independent estimator implementation,
    # like trend_ols.
    sqls["zipf_slope"] = f"""
        WITH toks AS ({_toks_sql}),
        freqs AS (SELECT term, COUNT(*) AS f FROM toks GROUP BY term),
        top AS (
          SELECT term, f, ROW_NUMBER() OVER (ORDER BY f DESC, term ASC) AS r
          FROM freqs ORDER BY f DESC, term ASC LIMIT 200
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(REGR_SLOPE(LN(CAST(f AS DOUBLE)), LN(CAST(r AS DOUBLE))), 6) AS slope,
               ROUND(REGR_INTERCEPT(LN(CAST(f AS DOUBLE)), LN(CAST(r AS DOUBLE))), 6) AS intercept,
               ROUND(CORR(LN(CAST(f AS DOUBLE)), LN(CAST(r AS DOUBLE))), 6) AS r
        FROM top
    """
    sqls["chi2_terms"] = f"""
        WITH toks AS ({_toks_sql}),
        pres AS (SELECT DISTINCT doc_id, term FROM toks),
        n AS (SELECT COUNT(*) AS n FROM documents),
        coltot AS (SELECT lang, COUNT(*) AS cl FROM documents GROUP BY 1),
        rowtot AS (
          SELECT term, COUNT(*) AS rt FROM pres GROUP BY 1
          HAVING COUNT(*) >= 5
        ),
        obs AS (
          SELECT p.term, d.lang, COUNT(*) AS o
          FROM pres p JOIN documents d ON d.doc_id = p.doc_id
          GROUP BY 1, 2
        ),
        cells AS (
          SELECT r.term, r.rt, c.lang, c.cl, n.n, COALESCE(o.o, 0) AS o
          FROM rowtot r CROSS JOIN coltot c CROSS JOIN n
          LEFT JOIN obs o ON o.term = r.term AND o.lang = c.lang
        ),
        contrib AS (
          SELECT term, rt,
                 CASE WHEN rt * cl / n > 0
                      THEN (o - rt * cl / n) * (o - rt * cl / n)
                           / (rt * cl / n)
                      ELSE 0.0 END
               + CASE WHEN (n - rt) * cl / n > 0
                      THEN ((cl - o) - (n - rt) * cl / n)
                           * ((cl - o) - (n - rt) * cl / n)
                           / ((n - rt) * cl / n)
                      ELSE 0.0 END AS x
          FROM cells
        )
        SELECT term, CAST(rt AS BIGINT) AS df_docs,
               ROUND(SUM(x), 6) AS chi2
        FROM contrib GROUP BY term, rt
        ORDER BY chi2 DESC, term ASC LIMIT 30
    """
    # pareto_frontier: NOT-EXISTS dominance (independent of the Spark
    # side's bucketed prefix-scan sweep). Ties: equal points survive.
    sqls["pareto_frontier"] = """
        WITH per_user AS (
          SELECT user_id, COUNT(*) AS n_events,
                 ROUND(SUM(value), 6) AS total_value
          FROM events GROUP BY user_id
        )
        SELECT p.user_id, p.n_events, p.total_value FROM per_user p
        WHERE NOT EXISTS (
          SELECT 1 FROM per_user q
          WHERE q.n_events >= p.n_events AND q.total_value >= p.total_value
            AND (q.n_events > p.n_events OR q.total_value > p.total_value)
        )
    """
    # trend_ols: DuckDB's native regression aggregates vs Spark's
    # sufficient-statistics formulation — two implementations of OLS.
    sqls["trend_ols"] = """
        WITH pts AS (
          SELECT event_type,
                 (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS t,
                 value AS v
          FROM events
        )
        SELECT event_type, COUNT(*) AS n,
               ROUND(REGR_SLOPE(v, t), 6) AS slope,
               ROUND(REGR_INTERCEPT(v, t), 6) AS intercept,
               ROUND(CORR(v, t), 6) AS r
        FROM pts GROUP BY event_type
        HAVING COUNT(*) >= 2 AND VAR_POP(t) > 0
    """
    return sqls



def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality score with a FROZEN linear model (the fastText
    deployment shape, Joulin 2016): hashed words+bigrams -> sparse dot +
    sigmoid, entirely in whole-stage codegen — no ML runtime, no UDF, no
    shuffle; the weight vector is one 32 KB broadcast literal. Weights
    were trained once in-build (scripts/make_classifier_frozen.py, weak
    labels from the heuristic screens) and frozen at 6 dp. Oracle =
    golden VALUES from the INDEPENDENT Spark-free replay
    (scripts/make_classifier_golden.py: pure-Python murmur3 replica +
    dot + sigmoid — pinned against Spark hash() by tests/test_xxh.py)."""
    from .operators.classifier import score_quality_frozen
    from .operators.classifier_frozen import INTERCEPT, dense_weights

    _register(spark, sf_dir, "documents")
    out = score_quality_frozen(spark.table("documents"), "doc_id", dense_weights(), INTERCEPT)
    return out.select(
        "doc_id", F.round("model_quality", 6).alias("model_quality")
    )



BM25_QUERY_TERMS = ["window", "hash", "stream", "merge", "filter"]


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (smooth idf ln((N+1)/(df+1))) —
    keyword extraction over the corpus. One explode + two hash aggregates
    + a vocabulary join; rank window is per-doc. Oracle: the same algebra
    in DuckDB (round-6 before ranking on both sides)."""
    from .operators.ranking import tfidf_terms

    _register(spark, sf_dir, "documents")
    return tfidf_terms(spark.table("documents"), "doc_id", top_k=3)


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed query term set — the
    retrieval scorer (k1=1.2, b=0.75). Query terms broadcast; postings are
    semi-joined to them before any stats, so the whole scoring touches the
    matched slice only; top-k rides sort+limit (TakeOrdered)."""
    from .operators.ranking import bm25_scores

    _register(spark, sf_dir, "documents")
    return bm25_scores(
        spark.table("documents"), BM25_QUERY_TERMS, "doc_id", top_k=20
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack 2009,
    k=60): fuse the lexical BM25 top-50 (fixed query terms) with the
    embedding cosine top-50 (query = vec 0; vec_id is the doc key) and
    keep the fused top-20 — the standard lexical+semantic search merge.
    Both rank lists are bounded (50 rows), so their row_number windows
    are driver-scale by construction; the fusion itself is ONE
    full-outer join of two 50-row frames + a two-term closed-form score
    (float-exact: same two-addend expression both engines). A rank of 0
    means "absent from that list" (NULLs would break mixed-type row
    sorts downstream; 1-based ranks make 0 unambiguous). Oracle replays
    both rankings and the fusion in full SQL."""
    from .operators import similarity
    from .operators.ranking import bm25_scores
    from pyspark.sql.window import Window

    _register(spark, sf_dir, "documents", "embeddings")
    docs, emb = spark.table("documents"), spark.table("embeddings")
    lex = bm25_scores(docs, BM25_QUERY_TERMS, "doc_id", top_k=50)
    lex = lex.withColumn(
        "bm25_rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "bm25_rank")
    cos = similarity.cosine_topk_bruteforce(
        emb, emb.where(F.col("vec_id") == 0), k=50
    ).select(F.col("c_id").alias("doc_id"), F.col("rank").alias("cos_rank"))
    fused = lex.join(cos, "doc_id", "full_outer")
    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("cos_rank")), F.lit(0.0))
    )
    return (
        fused.withColumn("rrf", F.round(rrf, 6))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id",
            F.coalesce(F.col("bm25_rank"), F.lit(0)).alias("bm25_rank"),
            F.coalesce(F.col("cos_rank"), F.lit(0)).alias("cos_rank"),
            "rrf",
        )
    )


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND scored
    end-to-end in the engine (McCallum & Nigam 1998): train on the
    doc_id % 5 != 0 slice (labels = lang), Laplace alpha=1, score the
    held-out slice, emit the argmax class per doc. Unlike the
    gradient-trained logistic row (classifier_score, frozen weights),
    NB training is closed-form aggregates — so the ENTIRE train+score
    pipeline is replayed by the SQL oracle, a full cross-engine proof
    of a trainable model.

    Float discipline: per-(term, class) log-likelihoods are computed
    once and quantized to integer micro-nats (round(ln(p) * 1e6)) —
    document scores are then pure BIGINT sums, order-independent, so
    cross-engine parity cannot be broken by summation order; the only
    transcendental is one ln per model cell. Shapes at scale: the model
    is |V| x |C| rows (broadcastable by construction), test scoring is
    one broadcast hash join + one partial/final sum, argmax is min_by
    over a (-score, lang) struct — no per-doc window."""
    from .operators.ranking import term_counts

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)

    trtc = term_counts(train, "doc_id").join(
        train.select("doc_id", "lang"), "doc_id"
    )
    cnt = trtc.groupBy("lang", "term").agg(F.sum("tf").alias("_c"))
    vocab = trtc.select("term").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("long").alias("_v"))
    tokc = trtc.groupBy("lang").agg(F.sum("tf").alias("_toks"))
    classes = train.select("lang").distinct()
    # model grid = |C| x |V| by construction: a broadcast nested loop of the
    # vocab against the handful of classes, never a CartesianProduct shuffle
    grid = classes.crossJoin(F.broadcast(vocab))
    model = (
        grid.join(tokc, "lang")
        .crossJoin(F.broadcast(vsize))
        .join(cnt, ["lang", "term"], "left")
        .select(
            "lang", "term",
            F.round(
                F.log(
                    (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("_toks") + F.col("_v")).cast("double")
                ) * 1e6,
                0,
            ).cast("long").alias("_w"),
        )
    )
    ndocs = train.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    prior = (
        train.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("_nc"))
        .crossJoin(F.broadcast(ndocs))
        .select(
            "lang",
            F.round(
                F.log(F.col("_nc").cast("double") / F.col("_n")) * 1e6, 0
            ).cast("long").alias("_p"),
        )
    )
    scored = (
        term_counts(test, "doc_id")
        .join(F.broadcast(model), "term")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.col("_w")).alias("_s"))
        .join(F.broadcast(prior), "lang")
        .select("doc_id", "lang", (F.col("_p") + F.col("_s")).alias("score"))
    )
    best = scored.groupBy("doc_id").agg(
        F.min_by(
            F.struct("lang", "score"),
            F.struct((-F.col("score")).alias("ns"), F.col("lang")),
        ).alias("_b")
    )
    return best.select(
        "doc_id",
        F.col("_b.lang").alias("pred_lang"),
        F.col("_b.score").alias("score"),
    )


def q_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 collocations by PMI within a 3-token window (Church & Hanks
    1990) — the embedding-preprocessing statistic. Pair generation is a
    per-row nested array transform (no positions self-join); only the
    count aggregates shuffle."""
    from .operators.text import cooccurrence_pmi

    _register(spark, sf_dir, "documents")
    return cooccurrence_pmi(
        spark.table("documents"), window=3, min_count=5, top_k=40
    )


def _domain_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic source-domain link graph of pagerank_domains,
    ppr_scores and hits_scores: every doc_id % 3 == 0 doc links its
    source to 'src' || (doc_id % 13), distinct edges."""
    _register(spark, sf_dir, "documents")
    return (
        spark.table("documents").where(F.col("doc_id") % 3 == 0)
        .select(
            F.col("source").alias("src"),
            F.concat(F.lit("src"), (F.col("doc_id") % 13).cast("string")).alias("dst"),
        )
        .distinct()
    )


def q_pagerank_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 power iterations, d=0.85, classic simplified
    formulation) over a deterministic source-domain link graph derived
    from the documents table: every doc_id % 3 == 0 doc links its source
    to 'src' || (doc_id % 13). Edges are hash-partitioned by src once and
    reused across all iterations; the oracle replays the identical
    iterations as unrolled CTE aggregates (aggregation is illegal in a
    recursive term)."""
    from .operators.graph import pagerank

    pr = pagerank(_domain_link_edges(spark, sf_dir), n_iters=10, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def q_ppr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / random walk with restart (Haveliwala 2002)
    over the same domain link graph, restart mass pinned to the 'src1'
    hub — seed-set proximity scoring, the related-domain retrieval
    primitive. Operator graph.pagerank with ``seeds`` (the same power
    iteration with the restart mass on the seeds); oracle = the
    identical 10 iterations unrolled with a seeds CTE."""
    from .operators.graph import pagerank

    pr = pagerank(_domain_link_edges(spark, sf_dir), n_iters=10, damping=0.85,
                  seeds=["src1"])
    return pr.select("node", F.round("rank", 6).alias("rank"))


def q_textrank_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scores (Mihalcea & Tarau 2004): PageRank (10
    iterations, d=0.85) over the word adjacency graph — undirected
    distinct edges between consecutive normalized tokens. Pair
    generation is a per-row array zip (slice k vs slice k+1 of the
    token array), NO positions self-join; the graph is vocabulary-sized
    (tiny relative to the corpus, broadcastable at any scale), so the
    expensive part stays a single corpus map pass + dedup. All terms
    returned (no top-k float boundary); oracle = positions-join pair
    builder + the shared unrolled power-iteration SQL."""
    from .operators.graph import pagerank
    from .operators.text import normalize_text

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    norm = F.coalesce(normalize_text(F.col("text")), F.lit(""))
    toks = F.filter(F.split(norm, " "), lambda w: F.length(w) > 0)
    # token array staged behind the Generate fence (repo discipline: keeps
    # the normalize regex evaluated once, not re-substituted per consumer)
    t = docs.select(F.explode(F.array(toks)).alias("ws"))
    n1 = F.greatest(F.size("ws") - 1, F.lit(0))
    pairs = (
        t.select(
            F.explode(
                F.zip_with(
                    F.slice("ws", F.lit(1), n1),
                    F.slice("ws", F.lit(2), n1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("src"), F.col("p.b").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    pr = pagerank(edges, n_iters=10, damping=0.85)
    return pr.select(
        F.col("node").alias("term"), F.round("rank", 6).alias("rank")
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample-without-replacement (top-60 by
    ln(u)/w, u md5-deterministic, w = n_chars): the corpus-mixing
    primitive. TakeOrdered top-k (no global sort); the oracle replays the
    EXACT selection — the sampled set itself is cross-engine verified."""
    from .operators.sampling import weighted_sample

    _register(spark, sf_dir, "documents")
    return weighted_sample(spark.table("documents"), "doc_id", "n_chars", k=60)


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the documents snapshot with a deterministic change
    feed (updates doc_id%7=0, deletes doc_id%13=3 minus the update keys,
    inserts doc_id%11=5 under key+1e6): one full-outer co-partitioned
    join -> next snapshot + action column. Oracle replays the same merge
    as SQL; fp = md5(normalized final text) pins every surviving row's
    content, so update-wins / carry / delete semantics are value-checked."""
    from .operators.diff import merge_upsert

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    upd = docs.where(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(F.lit("rev2 "), F.col("text")).alias("text"),
        F.lit("U").alias("op"),
    )
    dels = docs.where(
        (F.col("doc_id") % 13 == 3) & (F.col("doc_id") % 7 != 0)
    ).select("doc_id", "text", F.lit("D").alias("op"))
    ins = docs.where(F.col("doc_id") % 11 == 5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("new page "), F.col("doc_id").cast("string")).alias("text"),
        F.lit("U").alias("op"),
    )
    feed = upd.unionByName(dels).unionByName(ins)
    out = merge_upsert(docs, feed, "doc_id")
    return out.select(
        "doc_id", "action",
        F.md5(dedup.normalize_text(F.col("text"))).alias("fp"),
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KMV distinct-user estimate — the DETERMINISTIC
    sketch twin of hll_distinct: same md5 hash family on both engines, so
    the ESTIMATE itself (not just row counts) is oracle-verified. One
    distinct hash-aggregate + a per-group min-k window."""
    from .operators.sketch import kmv_distinct

    _register(spark, sf_dir, "events")
    return kmv_distinct(spark.table("events"), "event_type", "user_id", k=32)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality split (Wenzek 2020): train an add-alpha
    bigram LM on the deterministic doc_id % 5 == 0 reference slice, score
    every document's perplexity, bucket into head/middle/tail tertiles.
    Token/bigram emission is Generate-only (no shuffle); LM counts are
    partial/final hash aggregates; scoring joins broadcast the LM; the
    tertile NTILE here is the cross-engine parity mode (ccnet_buckets
    mode="quantile" is the 10^12-row path). Oracle: full SQL replay."""
    from .operators import lm as lm_ops

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    model = lm_ops.train_bigram_lm(docs.where(F.col("doc_id") % 5 == 0))
    scored = lm_ops.perplexity(docs, "doc_id", model)
    out = lm_ops.ccnet_buckets(
        scored.withColumn("ppl", F.round("ppl", 6)), "doc_id"
    )
    return out.select("doc_id", "n_bigrams", "ppl", "bucket")


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (Cormode & Muthukrishnan 2005): build a
    4x256 sketch over token occurrences (ONE Generate + one map-side-
    combined aggregate into <= d*w cells — constant-size state at 10^12
    rows, mergeable cell-wise), then point-estimate the true top-25 terms
    from the sketch. est_n >= exact_n always (collisions only overcount);
    the exact counts double as the in-row accuracy report. The estimate
    itself is oracle-verified (md5 parity hash family)."""
    from .operators.sketch import countmin_build, countmin_estimate

    _register(spark, sf_dir, "documents")
    from .core.parallel import fan_out

    norm = dedup.normalize_text(F.col("text"))
    toks = (
        fan_out(spark.table("documents"))
        .select(F.explode(F.split(norm, " ")).alias("term"))
        .where(F.length("term") > 0)
    )
    sk = countmin_build(toks, "term", depth=4, width=256)
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    cand = exact.orderBy(F.col("exact_n").desc(), F.col("term").asc()).limit(25)
    est = countmin_estimate(sk, cand, "term", depth=4, width=256)
    return est.select(
        "term", "exact_n", "est_n",
        (F.col("est_n") - F.col("exact_n")).cast("long").alias("overcount"),
    )


def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile estimates from a fixed-width histogram — the
    single-pass MERGEABLE quantile sketch (per-partition bin counts
    partial-combine; two histograms merge by cell-wise sum). Bin math,
    cumulative window, and interpolation are replayed exactly by the
    oracle, so the ESTIMATE is value-checked, not just row counts."""
    from .operators.sketch import histogram_quantiles

    _register(spark, sf_dir, "documents")
    return histogram_quantiles(
        spark.table("documents"), "lang", "n_chars",
        qs=(0.5, 0.9, 0.99), n_bins=64, lo=0.0, hi=640.0,
    )


def q_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE over (lang, source): all four grouping sets in ONE pass
    (Spark expands grouping sets before the hash aggregate — no
    re-scan per rollup level, partial aggregation map-side). Null
    grouping keys are COALESCEd to 'ALL' identically on both engines."""
    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs", "sum_chars", "avg_chars",
        )
    )


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood near-dup candidates — the sort-based
    alternative to LSH banding (Hernandez & Stolfo 1995): candidate
    volume is n * window by construction. Full SQL replay: same block
    prefix, within-block sort, lead-window neighbors, token-set Jaccard."""
    _register(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_pairs(
        spark.table("documents"), "doc_id",
        window=3, block_chars=2, jaccard_threshold=0.5,
    )


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-normalized HITS hubs/authorities (8 iterations) over the same
    deterministic source->domain link graph as pagerank_domains; the
    oracle replays the iterations as a MATERIALIZED-CTE chain (each level
    is referenced twice — value + scalar max — so nested unrolling would
    duplicate the prior level per reference)."""
    from .operators.graph import hits

    out = hits(_domain_link_edges(spark, sf_dir), n_iters=8)
    return out.select(
        "node", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-distribution Shannon entropy (gibberish screen);
    ln(n) - sum(c*ln(c))/n computed in the identical algebraic form on
    both engines (oracle enumerates positions via the constant-bound
    range + WHERE idiom)."""
    _register(spark, sf_dir, "documents")
    return text.char_entropy(spark.table("documents"), "doc_id")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel: one sorted-fold shuffle on
    Spark vs the oracle's min-after join chain — two independent algebras
    of 'step i strictly after step i-1, first match wins'."""
    _register(spark, sf_dir, "events")
    return text.event_funnel(
        spark.table("events"), "user_id", "ts", "event_type",
        ["view", "click", "purchase"],
    )


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over a deterministic 97-node
    expander (two functional edges per node: a -> 3a+1 and a -> 5a+2
    mod 97, derived from doc_id residues) from seed n0, max 6 hops. The
    oracle enumerates reachable (node, depth) pairs with a recursive CTE
    (UNION-dedup'd, depth-bounded) and takes MIN(depth) OUTSIDE the
    recursion (aggregation is illegal in the recursive term)."""
    from .operators.graph import bfs_hops

    _register(spark, sf_dir, "documents")
    a = (F.col("doc_id") % 97).cast("long")
    docs = spark.table("documents")
    mk = lambda m, c: F.concat(F.lit("n"), ((m * a + c) % 97).cast("string"))
    edges = (
        docs.select(F.concat(F.lit("n"), a.cast("string")).alias("src"), mk(3, 1).alias("dst"))
        .unionByName(
            docs.select(F.concat(F.lit("n"), a.cast("string")).alias("src"), mk(5, 2).alias("dst"))
        )
        .distinct()
    )
    seeds = local_frame(spark, [("n0",)], "node string")
    return bfs_hops(edges, seeds, max_hops=6)


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted shortest paths (Bellman-Ford, <=6 edges)
    from n0 over the 97-node expander with deterministic integer-valued
    weights (w1 = a%7+1, w2 = a%5+3; parallel edges collapsed to MIN) —
    the weighted sibling of bfs_hops. Integer-valued double weights make
    every path cost float-exact, so costs (not just reachability)
    hash-match the oracle's recursive-CTE walk enumeration with
    MIN(cost) OUTSIDE the recursion."""
    from .operators.graph import shortest_paths

    _register(spark, sf_dir, "documents")
    a = (F.col("doc_id") % 97).cast("long")
    docs = spark.table("documents")
    nd = lambda e: F.concat(F.lit("n"), e.cast("string"))
    e1 = docs.select(
        nd(a).alias("src"), nd((3 * a + 1) % 97).alias("dst"),
        (a % 7 + 1).cast("double").alias("w"),
    )
    e2 = docs.select(
        nd(a).alias("src"), nd((5 * a + 2) % 97).alias("dst"),
        (a % 5 + 3).cast("double").alias("w"),
    )
    edges = (
        e1.unionByName(e2).groupBy("src", "dst").agg(F.min("w").alias("w"))
    )
    seeds = local_frame(spark, [("n0",)], "node string")
    return shortest_paths(edges, seeds, max_hops=6)


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from the event change log: one
    validity interval per run of consecutive equal event_type values per
    user (re-stating a value does NOT open a version — only transitions
    do). One window partitioning carries the whole build (lag flag ->
    island sum -> per-island aggregate -> lead valid_to). Oracle: the
    INDEPENDENT classic row_number-difference islands formulation, so
    the island construction itself is cross-verified."""
    from .operators.diff import scd2_history

    _register(spark, sf_dir, "events")
    return scd2_history(
        spark.table("events"), "user_id", "event_type",
        ts="ts", order_tiebreak="event_id",
    )


def q_chunk_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping passage chunking (size 32, overlap 8) — the RAG prep
    step; pure map stage (Generate fence + exploded sequence + array
    slices, zero shuffles). Oracle: arithmetic chunk-id replay with
    list_slice (range+WHERE per the DuckDB constant-bound convention)."""
    _register(spark, sf_dir, "documents")
    return text.chunk_passages(
        spark.table("documents"), "doc_id", size=32, overlap=8
    )


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (PPJoin-style)
    over trigram shingle sets — no recall loss, unlike LSH. The oracle is
    the BRUTE-FORCE all-pairs join: if the prefix filter dropped any
    qualifying pair, the row-count/hash check fails — the oracle IS the
    exactness proof."""
    _register(spark, sf_dir, "documents")
    return dedup.setsim_join(
        spark.table("documents"), "doc_id", threshold=0.5, shingle_n=3
    )


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via positional postings: ONE window pass
    (posexplode + lead equality), vs the oracle's k-way positional
    self-join — two formulations of consecutive-token matching."""
    _register(spark, sf_dir, "documents")
    return text.phrase_search(spark.table("documents"), "doc_id", PHRASE)


def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window event aggregation (6h windows every 3h) with
    Spark's native F.window — the Structured-Streaming-compatible
    operator; the oracle replays window assignment arithmetically
    (each event in exactly duration/slide epoch-aligned slots)."""
    _register(spark, sf_dir, "events")
    return text.sliding_window_counts(
        spark.table("events"), "ts", "event_type",
        duration="6 hours", slide="3 hours", value_col="value",
    )


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge: each event opens a deterministic
    activity interval [ts, ts + 300..3599 s] (duration derived from
    event_id by integer arithmetic — exact on both engines); overlapping
    or touching intervals per user collapse into islands. ONE window pass
    (running max of ends -> open flags -> running island number) + one
    hash aggregate — no interval self-join, so a mega-user costs a sorted
    spill, not O(n^2). Oracle: the same gaps-and-islands formulation in
    SQL (epoch_us micros both sides)."""
    from .operators.intervals import merge_intervals

    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    s_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    dur_us = (F.lit(300) + (F.col("event_id") * 37) % 3300) * F.lit(1_000_000)
    iv = ev.select(
        "user_id", s_us.alias("s"), (s_us + dur_us).alias("e")
    )
    out = merge_intervals(iv, "user_id", "s", "e", min_gap=0)
    return out.select(
        "user_id", "island_start", "island_end", "n_intervals", "covered"
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over a deterministic 61-node
    quasi-random link graph derived from documents (edge doc_id%61 <->
    (doc_id//61)%61): the link-farm / clustering-coefficient signal.
    Spark side is the degree-ordered wedge formulation (Suri &
    Vassilvitskii 2011 — O(m^1.5) wedges regardless of skew); the oracle
    is the INDEPENDENT brute-force a<b<c three-way self-join, so the PASS
    cross-verifies the orientation trick end-to-end."""
    from .operators.graph import triangle_count

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    edges = docs.select(
        (F.col("doc_id") % 61).alias("src"),
        (F.floor(F.col("doc_id") / 61) % 61).cast("long").alias("dst"),
    )
    return triangle_count(edges)


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watts-Strogatz local clustering coefficient over the same 61-node
    link graph as triangle_counts — the per-node link-farm density score
    (near-cliques ~1, trees 0; degree-<2 nodes 0 by convention). One
    degree aggregate + node-keyed left join on top of the skew-proof
    triangle pass; the oracle extends the INDEPENDENT brute-force
    three-way-join triangle replay with the same degree algebra."""
    from .operators.graph import clustering_coefficient

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    edges = docs.select(
        (F.col("doc_id") % 61).alias("src"),
        (F.floor(F.col("doc_id") / 61) % 61).cast("long").alias("dst"),
    )
    out = clustering_coefficient(edges)
    return out.select(
        "node", "deg", "n_triangles", F.round("clustering", 6).alias("clustering")
    )


def q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN (FAISS refine shape): IVFPQ ADC proposes an
    oversampled k'=20 shortlist, exact full-precision L2 reranks it to
    the final top-5 — quantization error affects shortlist RECALL only,
    never the final ordering. Rows-only like the other ANN rows (coarse
    centroids + residual codebooks are sample-trained driver state);
    order restoration vs brute force is pytest-pinned
    (tests/test_pq.py::test_rerank_exact_restores_bruteforce_order)."""
    from .operators import pq

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    cents, assigned = _ivf_assigned(spark, sf_dir)
    cb = pq.pq_train_residual(
        emb, cents, m=8, nbits=4, sample_size=256, seed=0, assigned=assigned
    )
    codes = pq.ivfpq_encode(emb, cents, cb, assigned=assigned)
    queries = emb.where(F.col("vec_id") < 3)
    shortlist = pq.ivfpq_topk(codes, queries, cents, cb, k=20, nprobe=2)
    return pq.rerank_exact(shortlist, emb, queries, k=5, metric="l2")


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 language-discriminative terms by full 2xL chi-square over
    term presence (feature selection / domain drift). All cells counted —
    labels a term never co-occurs with included via the L-row marginal
    cross join + zero-filled left join; top-k is sort+limit. Oracle: full
    SQL replay of the identical contingency algebra."""
    from .operators.ranking import chi2_terms

    _register(spark, sf_dir, "documents")
    return chi2_terms(
        spark.table("documents"), "doc_id", "lang", min_df=5, top_k=30
    )


def q_editsim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Levenshtein<=1 self-join over distinct 12-char document
    title prefixes (near-identical-title dedup — the step between exact
    line dedup and token MinHash). Candidates from deletion-neighborhood
    signatures (FastSS), NEVER all pairs; the oracle IS the brute-force
    all-pairs levenshtein join, so the PASS is an exactness proof."""
    from .operators.editsim import editsim_join

    _register(spark, sf_dir, "documents")
    titles = (
        spark.table("documents")
        .select(F.trim(F.substring("text", 1, 12)).alias("title"))
        .distinct()
    )
    pairs = editsim_join(titles, "title", "title", max_dist=1)
    return pairs.select(
        F.col("key_a").alias("title_a"),
        F.col("key_b").alias("title_b"),
        F.col("dist").cast("long").alias("dist"),
    )


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of users over (n_events, total_value) — skyline
    corpus pruning. Spark side is the distributed prefix-scan sweep
    (bucketed quantile ranges + per-bucket window + driver suffix-max of
    O(buckets) scalars — NO global single-partition window); the oracle
    is the INDEPENDENT NOT-EXISTS dominance formulation, so the sweep's
    strict/tie semantics are cross-verified."""
    from .operators.skyline import pareto_frontier

    _register(spark, sf_dir, "events")
    per_user = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    return pareto_frontier(per_user, "n_events", "total_value")


# events are Jan 2024; center the OLS abscissa there (mantissa hygiene —
# see operators/regression.py)
_OLS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus: OLS of ln(freq) on ln(rank) over the
    top-200 terms — the vocabulary-distribution drift statistic (a
    healthy natural corpus reads ~ -1; template/boilerplate floods
    flatten it). Rank rides sort+limit into a BOUNDED 200-row frame, so
    the row_number window is driver-scale by construction; the slope is
    the closed-form sufficient-statistics aggregate (groupwise_ols).
    Oracle: DuckDB's native REGR/CORR — an independent estimator."""
    from .operators.ranking import term_counts
    from .operators.regression import groupwise_ols
    from pyspark.sql.window import Window

    _register(spark, sf_dir, "documents")
    freqs = (
        term_counts(spark.table("documents"), "doc_id")
        .groupBy("term").agg(F.sum("tf").alias("f"))
    )
    top = freqs.orderBy(F.col("f").desc(), F.col("term").asc()).limit(200)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("f").desc(), F.col("term").asc()))
    )
    pts = ranked.select(
        F.lit("corpus").alias("_g"),
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    out = groupwise_ols(pts, "_g", "x", "y")
    return out.select(
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r", 6).alias("r"),
    )


def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value trend: closed-form simple OLS (slope/
    intercept/r of value vs days-since-2024-01-01) in ONE partial/final
    hash aggregate — five sufficient statistics per group, no window, no
    second pass. Oracle: DuckDB's native REGR_SLOPE/REGR_INTERCEPT/CORR —
    a genuinely independent implementation of the estimator."""
    from .operators.regression import groupwise_ols

    _register(spark, sf_dir, "events")
    t_days = (
        F.unix_micros(F.col("ts").cast("timestamp_ltz")) - F.lit(_OLS_EPOCH_US)
    ) / F.lit(86400e6)
    pts = spark.table("events").select(
        "event_type", t_days.alias("t"), F.col("value").alias("v")
    )
    out = groupwise_ols(pts, "event_type", "t", "v")
    return out.select(
        "event_type",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r", 6).alias("r"),
    )
