"""Incremental substring dedup: cross-batch span removal (keep-first in
stream order), within-batch first-copy rule, exactly-once replay and a
real availableNow stream run."""

from pyspark.sql import functions as F

from asf_tools_spark.streaming.substring import (
    SubstringDedupIndexer, start_substring_dedup,
)

SPAN = "the quick brown fox jumps over the lazy dog again"  # 10 tokens


def _batch(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def _texts(spark, out_dir):
    return {
        r.url: r.text
        for r in spark.read.parquet(out_dir).select("url", "text").collect()
    }


def test_cross_batch_span_cut_and_replay(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    idx = SubstringDedupIndexer(store, out, key="url", n=8)

    idx(_batch(spark, [("a1", f"first page has {SPAN} inside")]), 0)
    t = _texts(spark, out)
    assert SPAN in t["a1"]  # first sighting lands intact

    idx(_batch(spark, [
        ("b1", f"second page repeats {SPAN} verbatim"),
        ("b2", "a fully unrelated page body here"),
    ]), 1)
    t = _texts(spark, out)
    assert t["b1"] == "second page repeats verbatim"  # span cut cross-batch
    assert t["b2"] == "a fully unrelated page body here"
    assert SPAN in t["a1"]  # earlier batch untouched

    # replay batch 1 (failure recovery): identical result — the store
    # lookup excludes batch_id >= current, so its own landed grams don't
    # mark it duplicated, and the rewrite replaces its own directories
    idx(_batch(spark, [
        ("b1", f"second page repeats {SPAN} verbatim"),
        ("b2", "a fully unrelated page body here"),
    ]), 1)
    assert _texts(spark, out) == t


def test_within_batch_keeps_local_first_copy(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    idx = SubstringDedupIndexer(store, out, key="url", n=8)
    idx(_batch(spark, [
        ("a1", f"alpha {SPAN} one"),
        ("a2", f"beta {SPAN} two"),
    ]), 0)
    t = _texts(spark, out)
    # batch-local rule: min (url, pos) occurrence survives
    assert (SPAN in t["a1"]) != (SPAN in t["a2"])  # exactly one keeps it


def test_colliding_input_columns(spark, tmp_path):
    """Inputs carrying n_tokens / n_dropped / batch_id columns (quality
    features, batch-stamped upstream tables — the curated-ingest job's
    actual schema) must not collide with the rewrite join or the partition
    stamp."""
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    idx = SubstringDedupIndexer(store, out, key="url", n=8)
    df = spark.createDataFrame(
        [("a1", f"one {SPAN} two", 13, 0, 99)],
        "url string, text string, n_tokens long, n_dropped long, batch_id long",
    )
    idx(df, 0)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_tokens == 13 and r.batch_id == 0  # upstream col kept; stamp wins
    assert SPAN in r.text


def test_availablenow_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    _batch(spark, [
        ("s1", f"stream page one {SPAN} tail"),
        ("s2", f"stream page two {SPAN} tail"),
    ]).write.parquet(src)
    pages = spark.readStream.schema("url string, text string").parquet(src)
    q = start_substring_dedup(
        pages, str(tmp_path / "store"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), key="url", n=8,
    )
    q.awaitTermination(120)
    t = _texts(spark, str(tmp_path / "out"))
    assert len(t) == 2
    # one copy of the span survives across the whole stream
    assert sum(SPAN in v for v in t.values()) == 1


def test_duplicate_key_rows_in_batch_collapse_to_one(spark, tmp_path):
    # ADVICE r4: substring_dedup groups by key, so duplicate-key rows in a
    # micro-batch would merge into one rewritten text and fan back out
    # across the duplicates. The indexer must enforce key uniqueness with
    # a deterministic winner instead.
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    idx = SubstringDedupIndexer(store, out, key="url", n=8)
    idx(_batch(spark, [
        ("dup", "alpha beta gamma delta"),
        ("dup", "completely different text here"),
        ("solo", "unrelated words entirely now"),
    ]), 0)
    rows = spark.read.parquet(out).select("url", "text").collect()
    assert sorted(r.url for r in rows) == ["dup", "solo"]  # one row per key
    kept = {r.url: r.text for r in rows}
    # deterministic winner: lowest xxhash64(text) among the dup rows
    h = {
        t: spark.sql(f"SELECT xxhash64('{t}') v").first().v
        for t in ["alpha beta gamma delta", "completely different text here"]
    }
    expected = min(h, key=lambda t: (h[t], t))
    assert kept["dup"] == expected
