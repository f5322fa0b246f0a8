"""Dedup / similarity / text / multimodal / lineage operators."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from asf_tools_spark.operators import dedup, labeling, similarity, text
from asf_tools_spark.operators.multimodal import decode_and_featurize, sniff_media_type, synth_media
from asf_tools_spark.sources.lineage import LineageWriter

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog"),          # near dup
    (3, "completamente diferente de los otros documentos aqui"),
    (4, "der hund und die katze sind im haus und das ist gut"),
    (5, "water rivers flow through the basin into the sea"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs_df):
    out = {r["keep_doc_id"]: r["n_dups"] for r in dedup.exact_dedup(docs_df, "doc_id").collect()}
    assert out[0] == 2  # docs 0,1 identical
    assert sum(out.values()) == 6


def test_minhash_near_dups_bucket_together(docs_df):
    sigs = dedup.minhash_signatures(docs_df, "doc_id", n_hashes=8)
    # identical docs collapse into one signature group (not emitted as pairs)
    groups = {r.doc_id: r.n_members for r in dedup.collapse_identical_signatures(sigs, "doc_id").collect()}
    assert groups[0] == 2  # docs 0,1 share a signature; 0 represents both
    pairs = {(r.key_a, r.key_b) for r in dedup.lsh_candidate_pairs(
        sigs, "doc_id", 4, 2, collapse_identical=False
    ).collect()}
    assert (0, 1) in pairs  # identical docs must collide in every band
    # near-dups share 8/10 shingles: overwhelmingly likely to share a band
    assert (0, 2) in pairs or (1, 2) in pairs
    # jaccard verification
    sh = dedup.word_shingles(docs_df, "doc_id")
    jac = {(r.key_a, r.key_b): r.jaccard for r in dedup.jaccard_on_pairs(
        docs_df.sparkSession.createDataFrame([(0, 1), (0, 2)], "key_a long, key_b long"), sh, "doc_id"
    ).collect()}
    assert jac[(0, 1)] == 1.0
    assert 0.6 < jac[(0, 2)] < 1.0


def test_simhash_hamming(docs_df):
    sim = dedup.simhash(docs_df, "doc_id", bits=16)
    vals = {r.doc_id: r.simhash for r in sim.collect()}
    assert vals[0] == vals[1]  # identical text -> identical fingerprint
    near = {(r.key_a, r.key_b) for r in dedup.hamming_near_pairs(sim, "doc_id", 16, 3).collect()}
    assert (0, 1) in near


def test_sample_frames_shape_and_determinism(spark):
    from asf_tools_spark.operators.multimodal import sample_frames

    media = synth_media(spark, 8)
    frames = sample_frames(media, n_frames=30, stride=10, fake=True).collect()
    assert len(frames) == 8 * 3  # frames 0, 10, 20 per media
    by_key = {(r.media_id, r.frame_idx): r.mean_intensity for r in frames}
    assert set(fi for _, fi in by_key) == {0, 10, 20}
    again = {(r.media_id, r.frame_idx): r.mean_intensity
             for r in sample_frames(media, 30, 10, fake=True).collect()}
    assert by_key == again  # deterministic stub decode
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        sample_frames(media, 30, 10, fake=False).collect()


def test_near_dup_clusters_include_collapsed_signature_members(spark):
    """Docs with identical MinHash signatures (same shingle SET, different
    text) are collapsed by lsh_candidate_pairs before the bucket join; the
    cluster builder must add the rep->member edges back or the member
    survives dedup as a keep=true singleton."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "delta gamma beta alpha"),   # same shingle set as 0
            (2, "totally different words entirely"),
        ],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs, "doc_id", n_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", bands=2, rows_per_band=4)
    assert pairs.count() == 0  # the collapse hides the (0,1) pair by design
    edges = dedup.identical_signature_edges(sigs, "doc_id")
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup.near_dup_clusters(docs.select("doc_id"), edges, "doc_id").collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False)  # collapsed member is deduplicated
    assert out[2] == (2, True)


def test_near_dup_clusters_local_guard_matches_bsp(spark, monkeypatch):
    """The small-graph union-find path must produce exactly the distributed
    merge's min-label components — including transitive chains and singletons."""
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    # chain 0-1-2-3, pair (7,9), star 4-{5,6}; 8,10,11 singletons
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (9, 7), (4, 5), (4, 6)],
        "key_a long, key_b long",
    )
    local = {r.doc_id: (r.cluster_id, r.keep)
             for r in dedup.near_dup_clusters(docs, edges, "doc_id").collect()}
    monkeypatch.setattr(labeling, "DRIVER_MAX_EDGES", 0)  # force the distributed merge
    bsp = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup.near_dup_clusters(docs, edges, "doc_id").collect()}
    assert local == bsp
    assert local[3] == (0, False) and local[0] == (0, True)  # transitive
    assert local[9] == (7, False) and local[8] == (8, True)


def test_near_dup_clusters_string_keys(spark, monkeypatch):
    """The shared merge keeps the key's type: string doc keys give string
    cluster ids (min key in lexicographic order), identically on the
    driver union-find and the distributed merge."""
    docs = spark.createDataFrame([(k,) for k in "abcdefgh"], "doc_id string")
    # chain d-b-a-c, pair (h, f); e, g singletons
    edges = spark.createDataFrame(
        [("d", "b"), ("b", "a"), ("c", "a"), ("h", "f")],
        "key_a string, key_b string",
    )

    def run():
        out = dedup.near_dup_clusters(docs, edges, "doc_id")
        assert [f.dataType.simpleString() for f in out.schema.fields] == [
            "string", "string", "boolean"
        ]
        return {r.doc_id: (r.cluster_id, r.keep) for r in out.collect()}

    local = run()
    monkeypatch.setattr(labeling, "DRIVER_MAX_EDGES", 0)  # force the distributed merge
    bsp = run()
    assert local == bsp
    assert local == {
        "a": ("a", True), "b": ("a", False), "c": ("a", False), "d": ("a", False),
        "e": ("e", True), "f": ("f", True), "g": ("g", True), "h": ("f", False),
    }


def test_winnowing_shared_substring_guarantee(spark):
    """Schleimer guarantee: any shared substring of length >= k + window - 1
    (= 11 here) yields at least one shared fingerprint; disjoint texts
    share none."""
    from asf_tools_spark.operators.text import winnow_fingerprints

    common = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (0, f"aaa {common} bbb ccc ddd eee"),
            (1, f"zzz yyy {common} xxx www"),
            (2, "completely different content with no overlap at all qqq"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, "doc_id", k=8, window=4)
    sets = {r.doc_id: set() for r in fps.collect()}
    for r in fps.collect():
        sets[r.doc_id].add(r.fp)
    assert sets[0] & sets[1], "shared 25-char substring must share a fingerprint"
    assert not (sets[0] & sets[2])
    assert not (sets[1] & sets[2])


def test_hamming_blocking_recall_exact(spark):
    """Pigeonhole recall: plant pairs at every distance d <= max_distance
    with the differing bits deliberately SPREAD across the fingerprint
    (one per half/third) — the pattern a 2-block scheme silently drops."""
    bits, max_d = 16, 3
    base = 0b1010011011001011
    rows = [(0, base)]
    planted = []
    nid = 1
    for d in range(1, max_d + 1):
        # spread d flipped bits evenly across the word: positions i*bits//d
        flipped = base
        for i in range(d):
            flipped ^= 1 << (i * bits // d)
        rows.append((nid, flipped))
        planted.append((0, nid, d))
        nid += 1
    # distance max_d+1 pair: must be excluded by the bit_count filter
    far = base ^ sum(1 << (i * bits // (max_d + 1)) for i in range(max_d + 1))
    rows.append((nid, far))
    sim = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r.key_a, r.key_b): r.hamming
           for r in dedup.hamming_near_pairs(sim, "doc_id", bits, max_d).collect()}
    for a, b, d in planted:
        assert got.get((a, b)) == d, f"planted pair at distance {d} missed"
    assert (0, nid) not in got


def test_embedding_near_dup_and_ann(spark):
    rng = np.random.default_rng(0)
    base = rng.normal(size=(20, 8)).astype(np.float32)
    base[1] = base[0] + rng.normal(scale=0.01, size=8).astype(np.float32)  # near-dup pair
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    nd = {(r.key_a, r.key_b) for r in dedup.embedding_near_dup(
        emb, "vec_id", n_planes=6, cosine_threshold=0.99
    ).collect()}
    assert (0, 1) in nd

    # brute-force top-k: verify against numpy
    q = emb.where(F.col("vec_id") == 0)
    got = similarity.cosine_topk_bruteforce(emb, q, k=3).collect()
    sims = base @ base[0] / (np.linalg.norm(base, axis=1) * np.linalg.norm(base[0]))
    sims[0] = -np.inf
    expect_top = list(np.argsort(-sims)[:3])
    assert [r.c_id for r in sorted(got, key=lambda r: r.rank)] == expect_top

    # LSH ANN: results are a subset ranked exactly; the near-dup must be #1
    ann = similarity.cosine_topk_lsh(emb, q, k=3, n_planes=4)
    top = sorted(ann.collect(), key=lambda r: r.rank)
    assert top[0].c_id == 1


def test_ivf_assign(spark):
    rng = np.random.default_rng(1)
    pts = rng.normal(size=(30, 4)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(30)], "vec_id long, embedding array<float>"
    )
    centroids = pts[:3].astype(np.float64)
    out = similarity.ivf_assign(emb, centroids, "vec_id")
    rows = {r.vec_id: r.list_id for r in out.collect()}
    for i in range(3):
        assert rows[i] == i  # a centroid's own vector lands in its list


def test_language_scores(docs_df):
    out = {r.doc_id: r.lang_guess for r in text.language_scores(docs_df).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[3] in ("es", "pt", "und")


def test_quality_features(docs_df):
    out = {r.doc_id: r for r in text.quality_features(docs_df).collect()}
    assert out[0].n_tokens == 9
    assert 0.0 <= out[0].quality_score <= 1.0
    assert out[0].stopword_ratio > 0  # 'the' twice


def test_fingerprint(docs_df):
    out = {r.doc_id: (r.md5_fp, r.min_shingle_fp) for r in text.fingerprint(docs_df, "doc_id").collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_multimodal_plumbing(spark):
    media = synth_media(spark, 64)
    sniffed = media.withColumn("c", sniff_media_type(F.col("payload")))
    counts = {r.c: r["count"] for r in sniffed.groupBy("c").count().collect()}
    assert set(counts) == {"png", "jpeg", "gif", "riff"}
    feats = decode_and_featurize(media, target=(8, 8), fake=True).collect()
    assert len(feats) == 64
    f0 = [r for r in feats if r.media_id == 0][0]
    assert f0.height == 8 and f0.width == 8
    assert sum(f0.histogram) == 64  # 8x8 pixels in 4 buckets
    # deterministic: same payload -> same features
    feats2 = decode_and_featurize(media, target=(8, 8), fake=True).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))


def test_multimodal_stub_raises_without_fake(spark):
    media = synth_media(spark, 4)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        decode_and_featurize(media, fake=False).collect()


def test_lineage_resumable_write(spark, tmp_path):
    df = spark.range(100).withColumn("part", (F.col("id") % 5).cast("string"))
    w = LineageWriter(str(tmp_path / "table"))
    m1 = w.write(df, "part", job_id="job1")
    assert m1["partitions_written"] == 5 and m1["rows_written"] == 100
    # resume: everything committed -> nothing rewritten
    m2 = w.write(df, "part", job_id="job1")
    assert m2["partitions_written"] == 0 and m2["partitions_skipped"] == 5
    # data intact and not duplicated
    assert spark.read.parquet(str(tmp_path / "table")).count() == 100
    # a new job id reprocesses (overwrite, still no duplicates)
    m3 = w.write(df, "part", job_id="job2")
    assert m3["partitions_written"] == 5
    assert spark.read.parquet(str(tmp_path / "table")).count() == 100


def test_repetition_signals_flag_repeated_docs(spark):
    from asf_tools_spark.operators import text as T

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "spam spam spam spam spam spam",          # one word repeated
            "all words here are fully distinct ok",   # no repetition
            "ab ab cd ab ab cd ab ab",                # dominant bigram
        ],
    }))
    got = {r.doc_id: r for r in T.repetition_signals(df, "doc_id").collect()}
    assert got[0].distinct_frac == pytest.approx(1 / 6, abs=1e-6)
    assert got[0].top_word_frac == 1.0 and got[0].top_bigram_frac == 1.0
    assert got[1].distinct_frac == 1.0
    assert got[1].top_word_frac == pytest.approx(1 / 7, abs=1e-6)
    assert got[2].top_bigram_frac > got[1].top_bigram_frac


def test_line_dedup_drops_boilerplate_preserving_order(spark):
    from asf_tools_spark.operators import text as T

    banner = "accept all cookies"
    docs = [f"unique body {i}\n{banner}\nmore text {i}" for i in range(4)]
    docs.append(banner)  # doc that is ONLY boilerplate
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(5), "text": docs}))
    got = {r.doc_id: r for r in T.line_dedup(df, "doc_id", max_docs=2).collect()}
    for i in range(4):
        assert got[i].n_lines == 3 and got[i].n_kept == 2
        assert got[i].kept_text == f"unique body {i}\nmore text {i}"  # order kept
    assert got[4].n_lines == 1 and got[4].n_kept == 0 and got[4].kept_text == ""


def test_line_dedup_hashed_keys_match_raw_and_shuffle_8_bytes(spark):
    """Default hash_lines=True must (a) produce exactly the raw-line-join
    result and (b) aggregate/join on a LongType key — 8 bytes shuffled and
    broadcast per distinct line instead of the line bytes (the 100 TB
    broadcast-size fix)."""
    from asf_tools_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hashed = T.line_dedup(docs, "doc_id", max_docs=3)
    raw = T.line_dedup(docs, "doc_id", max_docs=3, hash_lines=False)
    assert sorted(map(tuple, hashed.collect())) == sorted(map(tuple, raw.collect()))
    # the hot-set aggregate keys on xxhash64(line), not the string
    plan = hashed._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64(line" in plan


def test_pack_sequences_budget_and_determinism(spark):
    from asf_tools_spark.operators import sampling

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 90 + 10).alias("n_tok")
    )
    out = sampling.pack_sequences(df, "doc_id", "n_tok", budget=200, n_buckets=4)
    pdf = out.toPandas()
    assert set(pdf["bucket"]) <= set(range(4))
    # overflow contract: bin sum < budget + max doc tokens
    sums = pdf.groupby(["bucket", "bin_id"])["n_tok"].sum()
    assert (sums < 200 + 99).all()
    # all bins except each bucket's last must have reached the budget floor
    last = pdf.groupby("bucket")["bin_id"].max()
    for (b, bid), s in sums.items():
        if bid != last[b]:
            assert s >= 200 - 99
    # deterministic under repartitioning
    again = sampling.pack_sequences(
        df.repartition(13), "doc_id", "n_tok", budget=200, n_buckets=4
    ).toPandas().set_index("doc_id").sort_index()
    assert (again["bin_id"] == pdf.set_index("doc_id").sort_index()["bin_id"]).all()


def test_snapshot_diff_classifies_all_transitions(spark):
    from asf_tools_spark.operators.diff import snapshot_diff, snapshot_diff_summary

    old = spark.createDataFrame(
        [(0, "same text"), (1, "will change"), (2, "will vanish"),
         (3, "Same   TEXT ")],  # only normalization differs from a new twin
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(0, "same text"), (1, "has changed"), (3, "same text"), (4, "fresh")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new, "doc_id").collect()}
    assert got == {0: "unchanged", 1: "changed", 2: "removed",
                   3: "unchanged", 4: "added"}  # 3: fingerprint normalizes
    summary = {r.status: r.n for r in snapshot_diff_summary(old, new, "doc_id").collect()}
    assert summary == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}
    # NULL text is a value, not absence: present-both-sides keys with NULL
    # text must report changed/unchanged, never added/removed
    old_n = spark.createDataFrame([(0, None), (1, None), (2, "x")], "doc_id long, text string")
    new_n = spark.createDataFrame([(0, "now set"), (1, None), (2, None)], "doc_id long, text string")
    got_n = {r.doc_id: r.status for r in snapshot_diff(old_n, new_n, "doc_id").collect()}
    assert got_n == {0: "changed", 1: "unchanged", 2: "changed"}


def test_contamination_report_flags_planted_overlap(spark):
    from asf_tools_spark.operators import text as T

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "intro words then " + bench_text + " and an outro",  # contains it
            "quick brown fox appears but never six in a row here",  # < 6-gram
            "completely different content with no shared sequences at all",
        ],
    }))
    bench = spark.createDataFrame(pd.DataFrame({"doc_id": [100], "text": [bench_text]}))
    got = {r.doc_id: r for r in
           T.contamination_report(corpus, bench, "doc_id", n=6, min_hits=1).collect()}
    assert got[0].contaminated and got[0].n_hits >= 1
    assert not got[1].contaminated and got[1].n_hits == 0
    assert not got[2].contaminated


def test_corpus_pipeline_funnel(spark):
    from asf_tools_spark.plans.corpus_pipeline import (
        CorpusPipelineConfig, curate_corpus,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    res = curate_corpus(docs, CorpusPipelineConfig(sample_rates={"src0": 0.0}))
    # funnel metrics ride the final action (observe(), not per-stage counts)
    res["corpus"].write.format("noop").mode("overwrite").save()
    funnel = dict(res["funnel"]())
    assert funnel["input"] == 500
    # each stage only removes documents
    order = ["input", "quality_screen", "line_dedup", "exact_dedup", "near_dedup", "sampled"]
    counts = [funnel[s] for s in order]
    assert counts == sorted(counts, reverse=True)
    assert funnel["near_dedup"] < funnel["exact_dedup"]  # near-dups exist in testdata
    out = res["corpus"]
    assert {"doc_id", "text", "source", "split"} <= set(out.columns)
    assert out.where(F.col("source") == "src0").count() == 0  # rate 0 stratum dropped


def test_corpus_pipeline_substring_stage(spark):
    """cfg.substring_n wires ExactSubstr between exact and near dedup: the
    funnel gains the stage, duplicated spans are cut from survivors, and
    later stages consume the rewritten text."""
    from asf_tools_spark.plans.corpus_pipeline import (
        CorpusPipelineConfig, curate_corpus,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    res = curate_corpus(docs, CorpusPipelineConfig(substring_n=8))
    res["corpus"].write.format("noop").mode("overwrite").save()
    funnel = dict(res["funnel"]())
    assert "substring_dedup" in funnel
    assert funnel["substring_dedup"] <= funnel["exact_dedup"]
    order = ["input", "quality_screen", "line_dedup", "exact_dedup",
             "substring_dedup", "near_dedup", "sampled"]
    counts = [funnel[s] for s in order]
    assert counts == sorted(counts, reverse=True)  # stages only remove
    res["release"]()


def test_hll_distinct_error_bound_and_rollup(spark):
    from asf_tools_spark.operators.sketch import distinct_sketch

    df = spark.range(60_000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 7919).alias("v")
    )
    got = {r.grp: r for r in distinct_sketch(df, "g", "v").collect()}
    exact = {
        str(r.g): r.d
        for r in df.groupBy("g").agg(F.count_distinct("v").alias("d")).collect()
    }
    for g, d in exact.items():
        assert abs(got[g].n_distinct_est - d) / d <= 0.02
    assert abs(got["ALL"].n_distinct_est - 7919) / 7919 <= 0.02
    assert got["ALL"].n_rows == 60_000


def test_weighted_sample_matches_pure_python_aes(spark):
    import hashlib
    import math

    from asf_tools_spark.operators.sampling import weighted_sample

    rows = [(i, float(1 + (i * 7) % 23)) for i in range(200)] + [(900, 0.0)]
    df = spark.createDataFrame(rows, "k long, w double")
    got = [(r.k, r.score) for r in weighted_sample(df, "k", "w", k=25).collect()]

    def score(key, w):
        h = int(hashlib.md5(f"wsmp-{key}".encode()).hexdigest()[:8], 16)
        return round(math.log((h + 1) / float((1 << 32) + 1)) / w, 6)

    expect = sorted(
        ((k, score(k, w)) for k, w in rows if w > 0),
        key=lambda t: (-t[1], t[0]),
    )[:25]
    assert got == expect
    assert all(k != 900 for k, _ in got)  # zero-weight row can never sample


def test_merge_upsert_semantics(spark):
    from asf_tools_spark.operators.diff import merge_upsert

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "k long, text string"
    )
    feed = spark.createDataFrame(
        [
            (2, "two-v2", "U"),   # update
            (3, None, "D"),       # delete
            (4, "four", "U"),     # insert
            (9, None, "D"),       # delete of absent key: no-op
        ],
        "k long, text string, op string",
    )
    got = {r.k: (r.text, r.action) for r in merge_upsert(base, feed, "k").collect()}
    assert got == {
        1: ("one", "carry"),
        2: ("two-v2", "update"),
        4: ("four", "insert"),
    }
    bad_feed = feed.withColumnRenamed("text", "body")
    with pytest.raises(ValueError, match="payload"):
        merge_upsert(base, bad_feed, "k")


def test_kmv_distinct_estimate_and_small_group_exact(spark):
    from asf_tools_spark.operators.sketch import kmv_distinct

    df = spark.range(40_000).select(
        (F.col("id") % 2).alias("g"),
        # even ids mod 4999 (odd modulus) sweep all 4999 residues
        F.when(F.col("id") % 2 == 0, F.col("id") % 4999)  # g=0: 4999 distinct
        .otherwise(F.col("id") % 10).alias("v"),  # g=1: odd ids -> 5 residues (< k)
    )
    got = {r.grp: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    # big group: KMV k=64 -> relative sd ~ 1/sqrt(k-1) ~ 12.6%; allow 3 sd
    assert abs(got["0"].est_distinct - 4999) / 4999 <= 0.38
    assert got["0"].k_used == 64
    # small group (< k distinct hashes): exact count, standard convention
    assert got["1"].k_used == 5
    assert got["1"].est_distinct == 5.0


def test_asof_join_semantics(spark):
    from asf_tools_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 5, 102), (3, 7, 103)],
        "k long, t long, lid long",
    )
    right = spark.createDataFrame(
        [(1, 10, 900), (1, 15, 901), (1, 25, 902), (2, 9, 903)],
        "k long, t long, rid long",
    )
    got = {r.lid: r for r in asof_join(left, right, on="t", by="k").collect()}
    assert got[100].r_rid == 900  # tie t==t matches (at-or-before)
    assert got[101].r_rid == 901  # latest of the two priors, not the later 902
    assert got[102].r_rid is None  # right is after left -> no match
    assert got[103].r_rid is None  # key absent on right
    assert got[101].t == 20 and got[101].r_t == 15  # left cols + prefixed right


def test_asof_join_duplicate_ts_deterministic(spark):
    """Two right rows with identical (key, ts): the lexicographically-max
    right payload struct must win — deterministically, across repeated runs
    and partitionings (the window's final sort key is _rv itself)."""
    from asf_tools_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 20, 100)], "k long, t long, lid long")
    right = spark.createDataFrame(
        [(1, 10, 903), (1, 10, 907), (1, 10, 901)], "k long, t long, rid long"
    )
    for n_part in (1, 3, 7):
        got = asof_join(left, right.repartition(n_part), on="t", by="k").collect()
        assert len(got) == 1 and got[0].r_rid == 907


def test_asof_join_unorderable_payload_column(spark):
    """A map-typed right payload column must not break the join (sorting
    a struct containing a map is rejected by the analyzer); the tie-break
    still applies over the ORDERABLE columns."""
    from asf_tools_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 20, 100)], "k long, t long, lid long")
    right = spark.createDataFrame(
        [(1, 10, 5, {"a": "x"}), (1, 10, 9, {"b": "y"})],
        "k long, t long, rid long, attrs map<string,string>",
    )
    got = asof_join(left, right, on="t", by="k").collect()
    assert len(got) == 1
    assert got[0].r_rid == 9  # max orderable (t, rid) wins; map carried
    assert dict(got[0].r_attrs) == {"b": "y"}


def test_asof_join_null_semantics(spark):
    """SQL NULL contract (matches DuckDB ASOF): NULL-ts/NULL-key right rows
    match nothing; NULL-ts left rows resolve to no match."""
    from asf_tools_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, None, 101), (None, 10, 102)], "k long, t long, lid long"
    )
    right = spark.createDataFrame(
        [(1, None, 900), (None, 5, 901), (1, 4, 902)], "k long, t long, rid long"
    )
    got = {r.lid: r for r in asof_join(left, right, on="t", by="k").collect()}
    assert got[100].r_rid == 902  # only the valid right row matches
    assert got[101].r_rid is None  # NULL left ts: no at-or-before exists
    assert got[102].r_rid is None  # NULL left key never equi-matches


def test_time_range_join_window_edges(spark):
    from asf_tools_spark.operators.range_join import time_range_join
    import datetime as dt

    def ts(sec):
        return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec)

    left = spark.createDataFrame([(1, ts(100), 10)], "k long, ts timestamp, lid long")
    right = spark.createDataFrame(
        # at lower edge (incl), inside but previous bucket, at t (incl),
        # just outside below, just after
        [(1, ts(90), 20), (1, ts(95), 21), (1, ts(100), 22),
         (1, ts(89), 23), (1, ts(101), 24), (2, ts(99), 25)],
        "k long, ts timestamp, rid long",
    )
    got = time_range_join(left, right, on="ts", by="k", window_us=10_000_000)
    assert sorted(r.r_rid for r in got.collect()) == [20, 21, 22]


def test_top_ngrams_counts_and_plan(spark):
    from asf_tools_spark.operators import text as T

    df = spark.createDataFrame(pd.DataFrame({"text": ["a b c a b c", "a b x", "z"]}))
    out = T.top_ngrams(df, n=2, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # partial top-k, no full sort shuffle
    assert [(r.ngram, r.cnt) for r in out.collect()] == [("a b", 3), ("b c", 2), ("b x", 1)]
    # n longer than a doc must yield no grams, not a descending sequence
    assert T.top_ngrams(df, n=7, k=5).count() == 0


def test_stratified_sample_and_split_deterministic(spark):
    from asf_tools_spark.operators import sampling

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
    )
    out = sampling.split_assign(
        sampling.stratified_sample(
            df, "doc_id", "source", {"src0": 1.0, "src1": 0.5, "src2": 0.0}, 0.8
        ),
        "doc_id",
    )
    pdf = out.toPandas()
    kept = pdf.groupby("source")["kept"].mean()
    assert kept["src0"] == 1.0 and kept["src2"] == 0.0
    assert abs(kept["src1"] - 0.5) < 0.1 and abs(kept["src3"] - 0.8) < 0.1
    frac = pdf["split"].value_counts(normalize=True)
    assert abs(frac["train"] - 0.9) < 0.05
    # determinism: identical decisions on a re-built (differently partitioned) plan
    again = sampling.split_assign(
        sampling.stratified_sample(
            df.repartition(7), "doc_id", "source",
            {"src0": 1.0, "src1": 0.5, "src2": 0.0}, 0.8
        ),
        "doc_id",
    ).toPandas().set_index("doc_id").sort_index()
    assert (again["kept"] == pdf.set_index("doc_id").sort_index()["kept"]).all()
    assert (again["split"] == pdf.set_index("doc_id").sort_index()["split"]).all()


def test_pii_scrub_replaces_and_counts(spark):
    from asf_tools_spark.operators import text as T

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [
            "mail a.b+c@mail-host.example.org and x@y.io plus card 4111111111111111 end",
            "nothing sensitive here 12345678",  # 8 digits: below the 9+ gate
        ],
    }))
    got = {r.doc_id: r for r in T.pii_scrub(df).collect()}
    assert got[0].n_emails == 2 and got[0].n_longnums == 1
    assert "<EMAIL>" in got[0].scrubbed and "<NUM>" in got[0].scrubbed
    assert "@" not in got[0].scrubbed and "4111111111111111" not in got[0].scrubbed
    assert got[1].n_emails == 0 and got[1].n_longnums == 0
    assert got[1].scrubbed == "nothing sensitive here 12345678"


def test_containment_subset_detection(spark):
    from pyspark.sql import functions as F

    from asf_tools_spark.operators import dedup

    # doc 2's shingle set is a strict subset of doc 1's
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base + " lambda mu nu xi omicron pi rho sigma"), (2, base)],
        "doc_id long, text string",
    )
    sh = dedup.word_shingles(docs, "doc_id")
    pairs = spark.createDataFrame([(1, 2)], "key_a long, key_b long")
    r = dedup.containment_on_pairs(pairs, sh, "doc_id").collect()[0]
    assert r.cont_b == 1.0  # the short doc is fully contained
    assert r.cont_a < 1.0
    szs = {x.doc_id: x.sz for x in sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz")).collect()}
    assert r.cont_a == round(szs[2] / szs[1], 6)
