"""streaming.store.BatchStore under every foreachBatch sink: a replayed
batch leaves every output and store as it was, a store stamped with
another value is refused without stranding a cache entry, the stamp
check and the geofence's snapshot pick run no Spark job, and steady-state
batches reuse their generated classes."""

import datetime as dt
import statistics

import numpy as np
import pytest

from asf_tools_spark.functions.spatial import with_cell_col
from asf_tools_spark.sources.polygons import polygon_edges_df
from asf_tools_spark.streaming.geofence import GeofenceAlertIndexer, fence_cover_df
from asf_tools_spark.streaming.ingest import CuratedIngestIndexer
from asf_tools_spark.streaming.near_dup import NearDupIndexer
from asf_tools_spark.streaming.od import ODIndexer
from asf_tools_spark.streaming.pyramid import PyramidIndexer
from asf_tools_spark.streaming.store import BatchStore
from asf_tools_spark.streaming.substring import SubstringDedupIndexer

SPAN = "the quick brown fox jumps over the lazy dog again"  # 10 tokens
T0 = dt.datetime(2024, 1, 1)
FENCE = [{
    "poly_id": 7,
    "ring": np.array([[9.5, 9.5], [10.5, 9.5], [10.5, 10.5], [9.5, 10.5]]),
}]


def _pages(spark, b):
    return spark.createDataFrame(
        [(f"p{b}a", f"page {b} repeats {SPAN} at the end"),
         (f"p{b}b", f"an unrelated page number {b} with its own words")],
        "url string, text string",
    )


def _pings(spark, b):
    rows = [(10 * b + i, i, T0 + dt.timedelta(hours=b, minutes=i),
             10.0 if (b + i) % 2 else 20.0, 10.0 if (b + i) % 2 else 20.0, float(i))
            for i in range(4)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, lat double, lon double, value double"
    )
    return with_cell_col(df, "lat", "lon", 8, "cell_id")


def _near_dup(spark, tmp_path, hash_family="md5"):
    sink = NearDupIndexer(str(tmp_path / "store"), str(tmp_path / "out"), hash_family=hash_family)
    return sink, _pages


def _substring(spark, tmp_path, n=8):
    return SubstringDedupIndexer(str(tmp_path / "store"), str(tmp_path / "out"), n=n), _pages


def _geofence(spark, tmp_path):
    edges, cover = polygon_edges_df(spark, FENCE), fence_cover_df(spark, FENCE)
    return GeofenceAlertIndexer(edges, cover, str(tmp_path / "store"), str(tmp_path / "out")), _pings


def _od(spark, tmp_path, res=4):
    return ODIndexer(str(tmp_path / "store"), res=res), _pings


def _pyramid(spark, tmp_path, base_res=5):
    return PyramidIndexer(str(tmp_path / "store"), base_res), _pings


def _curated(spark, tmp_path):
    sink = CuratedIngestIndexer(
        str(tmp_path / "out"), str(tmp_path / "store"), str(tmp_path / "pairs")
    )
    return sink, _pages


SINKS = {
    "near_dup": _near_dup, "substring": _substring, "geofence": _geofence,
    "od": _od, "pyramid": _pyramid, "curated_ingest": _curated,
}


def _snapshot(spark, tmp_path):
    """Every row of every store the sink keeps, with its batch id."""
    return {
        d.name: sorted(map(repr, spark.read.parquet(str(d)).collect()))
        for d in sorted(tmp_path.iterdir())
    }


@pytest.mark.parametrize("name", SINKS)
def test_replay_leaves_every_store_unchanged(spark, tmp_path, name):
    sink, batch = SINKS[name](spark, tmp_path)
    for b in range(3):
        sink(batch(spark, b), b)
    once = _snapshot(spark, tmp_path)
    assert all(once.values()), once  # every store holds rows

    sink(batch(spark, 2), 2)  # checkpoint recovery re-runs the last batch
    assert _snapshot(spark, tmp_path) == once


@pytest.mark.parametrize("name, column, other", [
    ("near_dup", "family", {"hash_family": "xxhash64"}),
    ("substring", "gram_n", {"n": 6}),
    ("pyramid", "base_res", {"base_res": 6}),
    ("od", "res", {"res": 6}),
], ids=["near_dup", "substring", "pyramid", "od"])
def test_stamp_mismatch_raises(spark, tmp_path, no_cache_leak, name, column, other):
    sink, batch = SINKS[name](spark, tmp_path)
    sink(batch(spark, 0), 0)
    mismatched, _ = SINKS[name](spark, tmp_path, **other)
    with pytest.raises(ValueError, match=column):
        no_cache_leak(lambda: mismatched(batch(spark, 1), 1))


def test_stamp_check_and_snapshot_pick_run_no_job(spark, tmp_path, count_jobs):
    sink, batch = _geofence(spark, tmp_path)
    for b in range(2):
        sink(batch(spark, b), b)
    fresh, _ = _geofence(spark, tmp_path)
    assert count_jobs(lambda: fresh._previous(2)) == (1, 0)

    sub, _ = _substring(spark, tmp_path / "sub")
    sub(_pages(spark, 0), 0)
    store = str(tmp_path / "sub" / "store")
    assert count_jobs(BatchStore(store, {"gram_n": 8}, ("bucket",)).batches) == ([0], 0)

    def mismatch():
        with pytest.raises(ValueError, match=r"gram_n \['8'\].*gram_n=6"):
            BatchStore(store, {"gram_n": 6}).batches()

    assert count_jobs(mismatch)[1] == 0


def test_lookup_after_empty_partitioned_batch(spark, tmp_path):
    """An empty batch lands no file in a partitioned store; the next
    batch's lookup reads that store as empty instead of failing to infer
    a schema."""
    sink, batch = _near_dup(spark, tmp_path)
    sink(batch(spark, 0).limit(0), 0)
    sink(batch(spark, 1), 1)
    assert sink.store.batches() == [0, 1]
    assert {r.url for r in sink.store.before(2).collect()} == {"p1a", "p1b"}


FIRST_BATCH = 7_000  # ids no other test writes: none of their classes is cached


def test_steady_state_batches_compile_nothing(spark, tmp_path, count_compiles):
    """No per-batch value reaches the generated code. AQE numbers the
    whole-stage codegen stages in the order their inputs finish, and by
    default the number is part of the class name, so a race between two
    shuffle stages can compile a renamed copy of a cached class; naming
    classes without the number keeps that race out of the count."""
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    try:
        compiles = {}
        for name in ("pyramid", "substring", "near_dup"):
            sink, batch = SINKS[name](spark, tmp_path / name)
            compiles[name] = [
                count_compiles(lambda: sink(batch(spark, b), FIRST_BATCH + b))[1]
                for b in range(7)
            ]
    finally:
        spark.conf.unset("spark.sql.codegen.useIdInClassName")
    assert compiles["pyramid"][3:6] == [0, 0, 0], compiles
    assert compiles["substring"][3:6] == [0, 0, 0], compiles
    assert statistics.median(compiles["near_dup"][3:7]) == 0, compiles
