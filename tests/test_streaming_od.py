"""Streaming O-D maintenance: stream-end state == batch od_matrix even
when one user-day's pings are SPLIT across batches (the associativity
claim), replay idempotence, late-data merge, an availableNow run, and a
store pinned to its resolution."""

import datetime as dt

import pytest

from asf_tools_spark.operators.trajectory import od_matrix
from asf_tools_spark.streaming.od import ODIndexer, read_od, start_od

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _pings(spark, rows):
    data = [
        (e, u, T0 + dt.timedelta(minutes=m), float(p[0]), float(p[1]))
        for e, u, m, p in rows
    ]
    return spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, lat double, lon double"
    )


ROWS = [
    (1, 1, 0, (10.0, 10.0)),        # user 1 day 1: origin
    (2, 1, 120, (20.0, 20.0)),      # mid
    (3, 1, 300, (45.0, 90.0)),      # dest
    (4, 2, 10, (10.0, 10.0)),       # user 2: single ping (diagonal)
    (5, 1, 1500, (0.0, 0.0)),       # user 1 day 2 (minutes 1500 > 1 day)
]


def _sorted_flows(df):
    return sorted((r.o_cell, r.d_cell, r.n_trips, r.n_users) for r in df.collect())


def test_stream_equals_batch_across_split_batches(spark, tmp_path):
    store = str(tmp_path / "store")
    idx = ODIndexer(store, res=4)
    # user 1 day 1 pings SPLIT across batches, out of order within the day
    idx(_pings(spark, [ROWS[1], ROWS[3]]), 0)   # mid ping first
    idx(_pings(spark, [ROWS[0], ROWS[4]]), 1)   # origin arrives later (late data)
    idx(_pings(spark, [ROWS[2]]), 2)            # dest last
    got = _sorted_flows(read_od(spark, store, res=4))
    want = _sorted_flows(od_matrix(_pings(spark, ROWS), res=4))
    assert got == want

    # replay of the last batch: identical (it overwrites its own directory)
    idx(_pings(spark, [ROWS[2]]), 2)
    assert _sorted_flows(read_od(spark, store, res=4)) == want


def test_missing_store_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_od(spark, str(tmp_path / "nope"), res=4)


def test_store_pinned_to_resolution(spark, tmp_path):
    """A res-6 indexer or reader on a res-4 store is refused: merging a
    res-4 origin with a res-6 destination would be one bogus trip."""
    store = str(tmp_path / "store")
    ODIndexer(store, res=4)(_pings(spark, [ROWS[0]]), 0)
    with pytest.raises(ValueError, match="res"):
        ODIndexer(store, res=6)(_pings(spark, [ROWS[2]]), 1)
    with pytest.raises(ValueError, match="res"):
        read_od(spark, store, res=6)
    assert len(read_od(spark, store, res=4).collect()) == 1


def test_available_now_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    _pings(spark, ROWS).write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, lat double, lon double"
    ).parquet(src)
    q = start_od(stream, str(tmp_path / "store"), str(tmp_path / "ckpt"), res=4)
    q.awaitTermination(120)
    got = _sorted_flows(read_od(spark, str(tmp_path / "store"), res=4))
    assert got == _sorted_flows(od_matrix(_pings(spark, ROWS), res=4))
