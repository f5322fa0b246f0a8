"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import checks  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
from tracing import Span, Tracer, union_length  # noqa: E402

FIXTURE = Path(__file__).with_name("fixtures") / "eventlog_join_then_pandas.jsonl"
# the captured application ran a broadcast join of 2,000 x 10 rows into the
# noop sink, then a grouped applyInPandas over the same 2,000 rows; these
# are the wall-clock marks taken around the two actions
T0, T1, T2 = 1792174366.751612, 1792174373.7680864, 1792174379.2168045


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(FIXTURE)


def test_eventlog_join_window(log):
    w = log.summarize(T0, T1)
    assert w["jobs"] == 2 and w["stages"] == 2 and w["tasks"] == 4
    assert w["join_rows"] == 2000
    assert w["python_rows"] == 0
    assert w["shuffle_write_bytes"] == 0 and w["spill_bytes"] == 0


def test_eventlog_pandas_window(log):
    w = log.summarize(T1, T2)
    assert w["jobs"] == 2 and w["tasks"] == 3
    assert w["python_rows"] == 2000
    assert w["join_rows"] == 0
    assert w["shuffle_write_bytes"] == w["shuffle_read_bytes"] == 21409


def test_eventlog_driver_gap_and_skew(log):
    w = log.summarize(T0, T1)
    stages = [s for s in log.stages.values() if T0 <= s.submit <= T1]
    covered = union_length([(s.submit, s.done) for s in stages])
    assert w["driver_gap_s"] == pytest.approx((T1 - T0) - covered)
    assert 0 < w["driver_gap_s"] < T1 - T0
    assert w["task_skew"] >= 1.0


def test_eventlog_empty_window(log):
    w = log.summarize(T2 + 10, T2 + 20)
    assert w["jobs"] == w["stages"] == w["tasks"] == 0
    assert w["driver_gap_s"] == pytest.approx(10.0)
    assert w["task_skew"] == 1.0


def test_eventlog_node_rows_by_description(log):
    rows = log.node_rows(T0, T1, lambda name, desc: name == "BroadcastHashJoin" and "[k#" in desc)
    assert rows == 2000


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(5, 6), (0, 10)]) == pytest.approx(10.0)


def _tracer_with(spans: list[tuple[str, float, float, int | None]]) -> Tracer:
    tr = Tracer()
    for i, (name, start, end, parent) in enumerate(spans):
        tr.spans.append(Span(i, name, start, parent, end))
    return tr


def test_self_time_subtracts_covered_part_of_children():
    tr = _tracer_with([
        ("parent", 0.0, 10.0, None),
        ("a", 1.0, 3.0, 0),
        ("b", 2.0, 5.0, 0),    # overlaps a (concurrent helper thread)
        ("c", 8.0, 12.0, 0),   # runs past the parent's end
        ("grandchild", 1.5, 2.5, 1),
    ])
    # children cover [1, 5] and [8, 10]: 6 of the parent's 10 seconds
    assert tr.self_time(tr.spans[0]) == pytest.approx(4.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(1.0)
    assert tr.self_time(tr.spans[4]) == pytest.approx(1.0)


def test_helper_thread_spans_attach_to_the_open_main_span():
    tr = Tracer()
    with tr.span("build") as build:
        def helper():
            with tr.span("em"):
                with tr.span("kernel"):
                    pass

        t = threading.Thread(target=helper)
        t.start()
        t.join()
    em, kernel = tr.named("em")[0], tr.named("kernel")[0]
    assert em.parent == build.id
    assert kernel.parent == em.id


def test_patched_restores_the_original():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    orig = Mod.f
    from tracing import patched

    with patched([(Mod, "f", "mod.f")], tr):
        assert Mod.f(1) == 2
    assert Mod.f is orig
    assert [s.name for s in tr.spans] == ["mod.f"]


def test_mismatches_reports_a_wrong_result():
    want = {"rows": 14, "n_pages": 8000, "candidates": 3}
    assert checks.mismatches(dict(want), want) == []
    bad = checks.mismatches({"rows": 14, "n_pages": 7999, "candidates": 3}, want)
    assert len(bad) == 1 and bad[0].startswith("n_pages")
    assert checks.mismatches({}, want) != []


def test_pixel_digest_detects_a_moved_pixel():
    rows, cols = np.array([0, 1, 2]), np.array([3, 4, 5])
    ref = checks.pixel_digest(rows, cols, ncols=10)
    assert checks.pixel_digest(rows[::-1], cols[::-1], ncols=10) == ref  # order-insensitive
    moved = checks.pixel_digest(np.array([0, 1, 2]), np.array([3, 4, 6]), ncols=10)
    assert checks.mismatches(moved, ref) != []
    # same count and index sum, different set: the square sum tells them apart
    a = checks.pixel_digest(np.array([0, 0]), np.array([1, 4]), ncols=10)
    b = checks.pixel_digest(np.array([0, 0]), np.array([2, 3]), ncols=10)
    assert a["idx_sum"] == b["idx_sum"] and a != b


class _FakeWorkload:
    name = "fake"

    def __init__(self, outputs):
        self.outputs = list(outputs)

    def op(self):
        out = self.outputs.pop(0)
        if isinstance(out, Exception):
            raise out
        return {"build_s": 0.01, "action_s": 0.02, "out": out}

    def between_ops(self):
        pass


def test_measure_counts_wrong_and_raising_operations():
    want = {"px": 3}
    wl = _FakeWorkload([{"px": 3}, {"px": 4}, RuntimeError("boom")])
    ops, failed = run.measure(wl, seconds=0.0, reference=want)
    assert len(ops) == 1 and failed == 0  # at least one operation runs
    ops, failed = run.measure(wl, seconds=0.0, reference=want)
    assert failed == 1 and ops[0]["failed"]
    ops, failed = run.measure(wl, seconds=0.0, reference=want)
    assert failed == 1 and ops[0]["failed"]


def test_cached_computes_once(tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return {"rows": 5}

    path = tmp_path / "ref" / "x.json"
    assert checks.cached(path, compute) == {"rows": 5}
    assert checks.cached(path, compute) == {"rows": 5}
    assert len(calls) == 1
