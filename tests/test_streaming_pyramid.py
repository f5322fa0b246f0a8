"""Streaming tile-pyramid maintenance: stream-end state == batch
tile_pyramid, exactly-once replay, compaction invariance, and a real
availableNow stream run."""

import pytest
from pyspark.sql import functions as F

from asf_tools_spark.operators.tiling import tile_pyramid
from asf_tools_spark.streaming.pyramid import (
    PyramidIndexer, read_pyramid, start_pyramid,
)

BASE_RES = 5


def _points(spark, seed_lo, seed_hi):
    """Deterministic synthetic points keyed by an id range."""
    df = spark.range(seed_lo, seed_hi).select(
        (F.pmod(F.xxhash64(F.lit("la"), "id"), F.lit(170000)) / 1000.0 - 85.0).alias("lat"),
        (F.pmod(F.xxhash64(F.lit("lo"), "id"), F.lit(350000)) / 1000.0 - 175.0).alias("lon"),
        (F.pmod(F.xxhash64(F.lit("v"), "id"), F.lit(1000)) / 100.0).alias("value"),
    )
    return df


def _sorted_rows(df):
    return sorted(
        (r.res, r.row, r.col, r.n_pages, round(r.sum_value, 6))
        for r in df.collect()
    )


def test_stream_equals_batch_and_replay_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    idx = PyramidIndexer(store, BASE_RES)
    idx(_points(spark, 0, 400), 0)
    idx(_points(spark, 400, 700), 1)
    idx(_points(spark, 700, 1000), 2)

    got = _sorted_rows(read_pyramid(spark, store, BASE_RES))
    want = _sorted_rows(tile_pyramid(_points(spark, 0, 1000), BASE_RES))
    assert got == want

    # failure-recovery replay of the LAST batch rewrites only directory
    # batch_id=2 — the pyramid is unchanged
    idx(_points(spark, 700, 1000), 2)
    assert _sorted_rows(read_pyramid(spark, store, BASE_RES)) == want


def test_compaction_preserves_pyramid(spark, tmp_path):
    store = str(tmp_path / "store")
    idx = PyramidIndexer(store, BASE_RES)
    for b in range(4):
        idx(_points(spark, 250 * b, 250 * (b + 1)), b)
    before = _sorted_rows(read_pyramid(spark, store, BASE_RES))
    stats = idx.store.compact(keep_latest=1)
    assert stats["partitions_after"] < stats["partitions_before"]
    assert _sorted_rows(read_pyramid(spark, store, BASE_RES)) == before
    # a replay of the newest batch still lands in its own (kept) partition
    idx(_points(spark, 750, 1000), 3)
    assert _sorted_rows(read_pyramid(spark, store, BASE_RES)) == before


def test_missing_store_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_pyramid(spark, str(tmp_path / "nope"), BASE_RES)


def test_available_now_stream_run(spark, tmp_path):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    _points(spark, 0, 300).write.parquet(src)
    stream = spark.readStream.schema("lat double, lon double, value double").parquet(src)
    q = start_pyramid(stream, store, ckpt, BASE_RES)
    q.awaitTermination(120)
    got = _sorted_rows(read_pyramid(spark, store, BASE_RES))
    want = _sorted_rows(tile_pyramid(_points(spark, 0, 300), BASE_RES))
    assert got == want
