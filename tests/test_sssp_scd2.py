"""shortest_paths (hop-bounded Bellman-Ford) and scd2_history closed-form
semantics, with the distributed SSSP path forced in one test."""

import datetime as dt

from pyspark.sql import functions as F

from asf_tools_spark.operators import graph
from asf_tools_spark.operators.diff import scd2_history
from asf_tools_spark.operators.graph import shortest_paths


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w double")


def _seeds(spark, *nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node string")


def test_cheaper_long_path_wins(spark):
    # a->b direct costs 10; a->x->y->b costs 3: BF must pick 3
    rows = [("a", "b", 10.0), ("a", "x", 1.0), ("x", "y", 1.0), ("y", "b", 1.0)]
    got = {r.node: r.cost for r in
           shortest_paths(_edges(spark, rows), _seeds(spark, "a")).collect()}
    assert got == {"a": 0.0, "x": 1.0, "y": 2.0, "b": 3.0}


def test_hop_bound_cuts_cheap_path(spark):
    # cheap path needs 3 hops; with max_hops=2 only the expensive direct edge counts
    rows = [("a", "b", 10.0), ("a", "x", 1.0), ("x", "y", 1.0), ("y", "b", 1.0)]
    got = {r.node: r.cost for r in
           shortest_paths(_edges(spark, rows), _seeds(spark, "a"), max_hops=2).collect()}
    assert got["b"] == 10.0 and got["y"] == 2.0


def test_multi_source_and_cycle(spark):
    rows = [("a", "b", 2.0), ("b", "a", 2.0), ("s", "b", 1.0)]
    got = {r.node: r.cost for r in
           shortest_paths(_edges(spark, rows), _seeds(spark, "a", "s")).collect()}
    # seeds at 0; b via s (1.0) beats via a (2.0); cycle never lowers a seed
    assert got == {"a": 0.0, "s": 0.0, "b": 1.0}


def test_distributed_path_matches_local(spark, monkeypatch):
    rows = [
        (f"v{i}", f"v{(3 * i + 1) % 23}", float(i % 4 + 1)) for i in range(23)
    ] + [
        (f"v{i}", f"v{(5 * i + 2) % 23}", float(i % 3 + 2)) for i in range(23)
    ]
    e = _edges(spark, rows).groupBy("src", "dst").agg(F.min("w").alias("w"))
    b = {r.node: r.cost for r in
         shortest_paths(e, _seeds(spark, "v0")).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    a = {r.node: r.cost for r in
         shortest_paths(e, _seeds(spark, "v0")).collect()}
    assert a == b and a["v0"] == 0.0 and len(a) > 5


def _changes(spark, rows):
    return spark.createDataFrame(
        [(u, e, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), i)
         for i, (u, e, m) in enumerate(rows)],
        "user_id long, event_type string, ts timestamp, event_id long",
    )


def test_scd2_runs_and_intervals(spark):
    rows = [  # (user, value, minute)
        (1, "A", 0), (1, "A", 10), (1, "B", 20), (1, "A", 30),
        (2, "X", 5),
    ]
    out = scd2_history(_changes(spark, rows), "user_id", "event_type",
                       order_tiebreak="event_id").collect()
    u1 = sorted([r for r in out if r.user_id == 1], key=lambda r: r.version)
    assert [(r.version, r.event_type, r.n_changes, r.is_current) for r in u1] == [
        (1, "A", 2, False), (2, "B", 1, False), (3, "A", 1, True),
    ]
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert u1[0].valid_from_us == base
    assert u1[0].valid_to_us == u1[1].valid_from_us == base + 20 * 60_000_000
    assert u1[2].valid_to_us is None
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current and u2[0].n_changes == 1


def test_scd2_restated_value_is_not_a_version(spark):
    rows = [(7, "Z", i) for i in range(5)]
    out = scd2_history(_changes(spark, rows), "user_id", "event_type",
                       order_tiebreak="event_id").collect()
    assert len(out) == 1 and out[0].n_changes == 5 and out[0].is_current
