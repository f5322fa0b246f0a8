"""applyInPandasWithState sessionizer: state must persist across
micro-batches through the checkpoint."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _batch_sessions(df: pd.DataFrame, gap: int = 1800) -> dict[int, tuple[int, int]]:
    """Oracle: per-user (n_sessions, n_events) over the whole history."""
    out = {}
    for uid, g in df.groupby("user_id"):
        ts = sorted(int(t.value // 1_000_000_000) for t in g["ts"])
        sessions = 1 + sum(1 for a, b in zip(ts, ts[1:]) if b - a > gap)
        out[int(uid)] = (sessions, len(ts))
    return out


def test_stream_dedup_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark state persists through the checkpoint:
    a batch-2 re-crawl of a batch-1 page (same text, inside the watermark)
    must NOT re-emit; distinct texts all emit exactly once."""
    from asf_tools_spark.streaming.dedup import stream_dedup

    base = pd.Timestamp("2024-03-01")
    b1 = pd.DataFrame({
        "url": [f"u{i}" for i in range(6)],
        "warc_ts": [base + pd.Timedelta(minutes=i) for i in range(6)],
        "text": ["alpha", "beta", "gamma", "alpha", "delta", "beta"],
    })
    b2 = pd.DataFrame({
        "url": [f"v{i}" for i in range(4)],
        "warc_ts": [base + pd.Timedelta(minutes=10 + i) for i in range(4)],
        "text": ["alpha", "epsilon", "gamma", "zeta"],  # 2 re-crawls, 2 new
    })
    src = tmp_path / "dsrc"
    out_dir, ckpt = str(tmp_path / "dout"), str(tmp_path / "dckpt")
    src.mkdir()

    def run_batch(pdf: pd.DataFrame) -> None:
        spark.createDataFrame(pdf).write.mode("append").parquet(str(src / "data"))
        stream = spark.readStream.schema("url string, warc_ts timestamp, text string").parquet(
            str(src / "data")
        )
        q = (
            stream_dedup(stream, watermark="24 hours")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_batch(b1)
    run_batch(b2)

    got = spark.read.parquet(out_dir).toPandas()
    assert sorted(got["text"]) == ["alpha", "beta", "delta", "epsilon", "gamma", "zeta"]
    # first-seen wins: 'alpha' emitted from batch 1, not the v0 re-crawl
    assert set(got[got.text == "alpha"].url) <= {"u0", "u3"}


def test_streaming_near_dup_cross_batch(spark, tmp_path):
    """The incremental LSH band store finds a near-dup whose two copies
    arrive in DIFFERENT micro-batches (invisible to per-batch LSH)."""
    from asf_tools_spark.streaming.near_dup import start_near_dup

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    near_a = "the quick brown fox jumps over the lazy dog again and again!"
    b1 = pd.DataFrame({
        "url": ["a1", "a2", "a3"],
        "text": [text_a, "completely different words here entirely", "third unrelated document text body"],
    })
    b2 = pd.DataFrame({
        "url": ["b1", "b2"],
        "text": [near_a, "yet another unrelated piece of content"],
    })
    src = tmp_path / "ndsrc"
    src.mkdir()
    store, pairs_dir, ckpt = (str(tmp_path / d) for d in ("ndstore", "ndpairs", "ndckpt"))

    def run_batch(pdf):
        spark.createDataFrame(pdf).write.mode("append").parquet(str(src / "data"))
        stream = spark.readStream.schema("url string, text string").parquet(str(src / "data"))
        q = start_near_dup(stream, store, pairs_dir, ckpt, key="url")
        q.awaitTermination(180)

    run_batch(b1)
    run_batch(b2)

    got = spark.read.parquet(pairs_dir)
    pair_set = {(r.key_a, r.key_b) for r in got.collect()}
    assert ("a1", "b1") in pair_set, pair_set  # cross-batch near-dup found
    # band store accumulated both batches
    assert spark.read.parquet(store).select("url").distinct().count() == 5


def test_sessionize_state_across_batches(spark, tmp_path):
    from asf_tools_spark.streaming.sessionize import sessionize_stream

    rng = np.random.default_rng(4)
    base = pd.Timestamp("2024-03-01")
    rows = []
    for uid in range(20):
        t = base
        for _ in range(rng.integers(3, 15)):
            t = t + pd.Timedelta(seconds=int(rng.integers(60, 7200)))
            rows.append((uid, t))
    full = pd.DataFrame(rows, columns=["user_id", "ts"]).sort_values("ts").reset_index(drop=True)
    half = len(full) // 2

    src = tmp_path / "src"
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src.mkdir()

    def run_batch(pdf: pd.DataFrame) -> None:
        spark.createDataFrame(pdf).write.mode("append").parquet(str(src / "data"))
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src / "data"))
        def sink(batch_df, _batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            sessionize_stream(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_batch(full.iloc[:half])
    run_batch(full.iloc[half:])

    got = spark.read.parquet(out_dir).toPandas()
    # last emitted row per user carries the cumulative totals
    latest = got.sort_values(["user_id", "n_events"]).groupby("user_id").tail(1)
    expected = _batch_sessions(full)
    for _, r in latest.iterrows():
        exp_sessions, exp_events = expected[int(r.user_id)]
        assert int(r.n_events) == exp_events, r.user_id
        assert int(r.n_sessions) == exp_sessions, r.user_id
    assert set(latest.user_id.astype(int)) == set(expected)


def test_near_dup_indexer_idempotent_on_replay(spark, tmp_path):
    """Replaying a micro-batch (same batch_id, as after a partial-failure
    restart) must not duplicate pairs or inflate the band store — both
    sinks are dynamic-partition-overwritten per batch_id (ADVICE r2)."""
    from asf_tools_spark.streaming.near_dup import NearDupIndexer

    idx = NearDupIndexer(str(tmp_path / "store"), str(tmp_path / "pairs"), key="url")
    b0 = spark.createDataFrame(pd.DataFrame({
        "url": ["a1", "a2"],
        "text": ["the quick brown fox jumps over the lazy dog",
                 "entirely different text body with other words"],
    }))
    b1 = spark.createDataFrame(pd.DataFrame({
        "url": ["b1"],
        "text": ["the quick brown fox jumps over the lazy dog!"],
    }))
    idx(b0, 0)
    idx(b1, 1)
    pairs_once = sorted((r.key_a, r.key_b, r.batch_id)
                        for r in spark.read.parquet(str(tmp_path / "pairs")).collect())
    bands_once = spark.read.parquet(str(tmp_path / "store")).count()
    assert ("a1", "b1", 1) in pairs_once

    idx(b1, 1)  # replay after e.g. checkpoint-commit failure
    pairs_again = sorted((r.key_a, r.key_b, r.batch_id)
                         for r in spark.read.parquet(str(tmp_path / "pairs")).collect())
    bands_again = spark.read.parquet(str(tmp_path / "store")).count()
    assert pairs_again == pairs_once  # no duplicate pairs, incl. the cross-batch one
    assert bands_again == bands_once  # store did not inflate


def test_near_dup_indexer_rejects_family_mismatch(spark, tmp_path, no_cache_leak):
    """A band store written under one hash family must not be silently
    joined under another (zero-candidate trap) — the indexer raises, and
    releases the batch's persisted bands on the way out."""
    from asf_tools_spark.streaming.near_dup import NearDupIndexer

    df = spark.createDataFrame(pd.DataFrame({
        "url": ["a1"], "text": ["some document body text"],
    }))
    store, pairs = str(tmp_path / "store"), str(tmp_path / "pairs")
    NearDupIndexer(store, pairs, key="url", hash_family="md5")(df, 0)
    with pytest.raises(ValueError, match="hash family"):
        no_cache_leak(lambda: NearDupIndexer(store, pairs, key="url", hash_family="xxhash64")(df, 1))


def test_curate_stream_quality_scrub_dedup(spark, tmp_path):
    """Streaming curation head: low-quality rows dropped, PII scrubbed,
    re-crawled text deduped across micro-batches — one streaming plan."""
    from asf_tools_spark.streaming.ingest import curate_stream

    base = pd.Timestamp("2024-03-01")
    good = ("the data is good and the text here is long enough to pass "
            "the quality screens because it has many stopwords in it")
    b1 = pd.DataFrame({
        "url": ["a", "b", "c"],
        "warc_ts": [base + pd.Timedelta(minutes=i) for i in range(3)],
        "text": [good + " mail me at who@example.com", "x", good + " two"],
    })
    b2 = pd.DataFrame({
        "url": ["d", "e"],
        "warc_ts": [base + pd.Timedelta(minutes=10 + i) for i in range(2)],
        # re-crawl of b1's first doc (same text -> same fp post-scrub) + new
        "text": [good + " mail me at who@example.com", good + " three"],
    })
    src = tmp_path / "csrc"
    out_dir, ckpt = str(tmp_path / "cout"), str(tmp_path / "cckpt")
    src.mkdir()

    def run_batch(pdf: pd.DataFrame) -> None:
        spark.createDataFrame(pdf).write.mode("append").parquet(str(src / "data"))
        stream = spark.readStream.schema(
            "url string, warc_ts timestamp, text string"
        ).parquet(str(src / "data"))
        q = (
            curate_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_batch(b1)
    run_batch(b2)
    got = spark.read.parquet(out_dir).toPandas()
    assert set(got["url"]) == {"a", "c", "e"}  # 'b' too low-quality, 'd' a dup
    assert all("@" not in t for t in got["text"])  # PII scrubbed pre-dedup
    assert any("<EMAIL>" in t for t in got["text"])


def test_start_curated_ingest_dual_sink(spark, tmp_path):
    """One foreachBatch advances corpus + band store + cross-batch pairs
    together; a batch-2 near-dup of a batch-1 page must surface as a
    cross-batch candidate pair while both docs land in the corpus."""
    from asf_tools_spark.streaming.ingest import start_curated_ingest

    base = pd.Timestamp("2024-03-01")
    good = ("the data is good and the text here is long enough to pass "
            "the quality screens because it has many stopwords in it")
    b1 = pd.DataFrame({
        "url": ["a", "b"],
        "warc_ts": [base, base + pd.Timedelta(minutes=1)],
        "text": [good + " ending one", "junk"],
    })
    b2 = pd.DataFrame({
        "url": ["c"],
        "warc_ts": [base + pd.Timedelta(minutes=10)],
        "text": [good + " ending two"],  # near-dup of 'a', not exact
    })
    src = tmp_path / "isrc"
    out_dir = str(tmp_path / "icorpus")
    ckpt = str(tmp_path / "ickpt")
    store = str(tmp_path / "istore")
    pairs = str(tmp_path / "ipairs")
    src.mkdir()

    def run_batch(pdf: pd.DataFrame) -> None:
        spark.createDataFrame(pdf).write.mode("append").parquet(str(src / "d"))
        stream = spark.readStream.schema(
            "url string, warc_ts timestamp, text string"
        ).parquet(str(src / "d"))
        q = start_curated_ingest(stream, out_dir, ckpt, store, pairs)
        q.awaitTermination(180)

    run_batch(b1)
    run_batch(b2)

    corpus = spark.read.parquet(out_dir).toPandas()
    assert set(corpus["url"]) == {"a", "c"}  # 'b' failed quality
    got_pairs = {
        (r.key_a, r.key_b) for r in spark.read.parquet(pairs).collect()
    }
    assert ("a", "c") in got_pairs  # cross-batch near-dup candidate found
