"""Trajectory operators: hand-verified track legs + O-D day endpoints."""

import datetime as dt
import math

from asf_tools_spark.operators.trajectory import od_matrix, track_stats


def hav(p, q):
    """Independent pure-python haversine (km)."""
    (la1, lo1), (la2, lo2) = p, q
    a = (
        math.sin(math.radians(la2 - la1) / 2) ** 2
        + math.cos(math.radians(la1))
        * math.cos(math.radians(la2))
        * math.sin(math.radians(lo2 - lo1) / 2) ** 2
    )
    return 2.0 * 6371.0088 * math.asin(math.sqrt(a))


def _pings(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )


T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def test_track_stats_hand_case(spark):
    rows = [
        (1, 1, T0, 0.0, 0.0),
        (1, 2, T0 + dt.timedelta(hours=1), 0.0, 1.0),
        (1, 3, T0 + dt.timedelta(hours=3), 1.0, 1.0),
        (2, 4, T0, 45.0, 45.0),  # single ping: zero track, NULL speed
        (3, 5, T0, 10.0, 10.0),  # two pings, zero time span: NULL speed
        (3, 6, T0, 10.0, 11.0),
    ]
    out = {r.user_id: r for r in track_stats(_pings(spark, rows)).collect()}
    leg1 = hav((0.0, 0.0), (0.0, 1.0))
    leg2 = hav((0.0, 1.0), (1.0, 1.0))
    r1 = out[1]
    assert r1.n_pings == 3
    assert r1.total_km == round(leg1 + leg2, 4)
    assert r1.max_leg_km == round(max(leg1, leg2), 4)
    assert r1.span_hours == 3.0
    assert abs(r1.avg_kmh - (leg1 + leg2) / 3.0) < 1e-3
    r2 = out[2]
    assert (r2.n_pings, r2.total_km, r2.max_leg_km, r2.span_hours) == (1, 0.0, 0.0, 0.0)
    assert r2.avg_kmh is None
    r3 = out[3]
    assert r3.n_pings == 2 and r3.span_hours == 0.0 and r3.avg_kmh is None
    assert r3.total_km == round(hav((10.0, 10.0), (10.0, 11.0)), 4)


def test_track_stats_leg_order_is_ts_then_tiebreak(spark):
    # same ts: event_id breaks the tie, so the path is 0->1->2 along lon,
    # not 0->2->1 (which would double back and inflate total_km)
    rows = [
        (1, 3, T0, 0.0, 2.0),
        (1, 2, T0, 0.0, 1.0),
        (1, 1, T0 - dt.timedelta(hours=1), 0.0, 0.0),
    ]
    r = track_stats(_pings(spark, rows)).collect()[0]
    assert r.total_km == round(hav((0, 0), (0, 1)) + hav((0, 1), (0, 2)), 4)


def test_od_matrix_day_endpoints(spark):
    # user 1, day 1: three pings — origin = first cell, dest = last cell;
    # user 1, day 2 + user 2, day 1: same single-cell stay (diagonal)
    rows = [
        (1, 1, T0, 10.0, 10.0),
        (1, 2, T0 + dt.timedelta(hours=2), 20.0, 20.0),  # mid ping ignored
        (1, 3, T0 + dt.timedelta(hours=4), 45.0, 90.0),
        (1, 4, T0 + dt.timedelta(days=1), 10.0, 10.0),
        (2, 5, T0, 10.0, 10.0),
    ]
    out = od_matrix(_pings(spark, rows), res=4)
    rows_out = {(r.o_cell, r.d_cell): r for r in out.collect()}
    from asf_tools_spark.core import cells
    import numpy as np

    c = lambda la, lo: int(cells.encode(np.array([la]), np.array([lo]), 4)[0])
    assert rows_out[(c(10, 10), c(45, 90))].n_trips == 1
    diag = rows_out[(c(10, 10), c(10, 10))]
    assert diag.n_trips == 2 and diag.n_users == 2


def test_trip_segments_gap_split(spark):
    rows = [
        (1, 1, T0, 0.0, 0.0),
        (1, 2, T0 + dt.timedelta(minutes=10), 0.0, 1.0),
        (1, 3, T0 + dt.timedelta(minutes=50), 0.0, 2.0),  # 40 min gap -> new trip
        (1, 4, T0 + dt.timedelta(minutes=60), 0.0, 3.0),
    ]
    from asf_tools_spark.operators.trajectory import trip_segments

    out = {r.trip_id: r for r in trip_segments(_pings(spark, rows), 30.0).collect()}
    assert set(out) == {1, 2}
    t1, t2 = out[1], out[2]
    assert (t1.n_pings, t2.n_pings) == (2, 2)
    # the cross-gap leg (lon 1 -> 2) is excluded from BOTH trips
    assert t1.trip_km == round(hav((0, 0), (0, 1)), 4)
    assert t2.trip_km == round(hav((0, 2), (0, 3)), 4)


def test_colocation_pairs_bucket_and_cell(spark):
    from asf_tools_spark.operators.trajectory import colocation_pairs

    rows = [
        (1, 1, T0, 10.0, 10.0),
        (2, 2, T0 + dt.timedelta(minutes=30), 10.0, 10.0),   # same cell+hour
        (3, 3, T0 + dt.timedelta(hours=2), 10.0, 10.0),      # same cell, later
        (4, 4, T0, -60.0, -120.0),                           # far away
        (1, 5, T0 + dt.timedelta(hours=5), 20.0, 20.0),      # 1&2 again elsewhere
        (2, 6, T0 + dt.timedelta(hours=5, minutes=1), 20.0, 20.0),
    ]
    out = {(r.user_a, r.user_b): r for r in colocation_pairs(_pings(spark, rows)).collect()}
    assert set(out) == {(1, 2)}
    assert out[(1, 2)].n_windows == 2 and out[(1, 2)].n_cells == 2


def test_bearing_rose_cardinal_bins(spark):
    from asf_tools_spark.operators.trajectory import bearing_rose

    rows = [
        (1, 1, T0, 0.0, 0.0),
        (1, 2, T0 + dt.timedelta(hours=1), 1.0, 0.0),   # due north -> bin 0
        (2, 3, T0, 0.0, 0.0),
        (2, 4, T0 + dt.timedelta(hours=1), 0.0, 1.0),   # due east -> bin 2
        (3, 5, T0, 1.0, 0.0),
        (3, 6, T0 + dt.timedelta(hours=1), 0.0, 0.0),   # due south -> bin 4
        (4, 7, T0, 0.0, 0.0),
        (4, 8, T0 + dt.timedelta(hours=1), 0.0, 0.0),   # zero leg: dropped
    ]
    out = {r.bin: r.n_legs for r in bearing_rose(_pings(spark, rows)).collect()}
    assert out == {0: 1, 2: 1, 4: 1}


def test_geofence_events_entry_exit(spark):
    from asf_tools_spark.operators.trajectory import geofence_events

    # user 1 vs fence 7: inside at seqs 2,3 then again at 6; user 2 one hit
    hits = spark.createDataFrame(
        [
            (1, 7, 2, T0),
            (1, 7, 3, T0 + dt.timedelta(hours=1)),
            (1, 7, 6, T0 + dt.timedelta(hours=4)),
            (2, 7, 1, T0),
        ],
        "user_id long, poly_id int, seq long, ts timestamp",
    )
    out = {(r.user_id, r.seq): (r.is_entry, r.is_exit) for r in geofence_events(hits).collect()}
    assert out == {
        (1, 2): (True, False),
        (1, 3): (False, True),
        (1, 6): (True, True),   # isolated hit: enter and leave
        (2, 1): (True, True),
    }
