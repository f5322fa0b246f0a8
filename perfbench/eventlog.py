"""Spark event-log summary per time window.

The benchmark runs its spans one after another, and the water map starts
jobs from helper threads that carry no job group, so jobs, stages and tasks
are attributed to a span by time: a stage belongs to the span whose window
contains its submission time.

Counters per window: ``jobs``, ``stages``, ``tasks``, ``shuffle_read_bytes``,
``shuffle_write_bytes``, ``spill_bytes``, ``task_skew`` (max over median
task time in the window's widest stage), ``driver_gap_s`` (window length
minus the union of its stage intervals), ``join_rows`` (SQL "number of
output rows" of join nodes) and ``python_rows`` (the same metric of
Python/Arrow evaluation nodes).
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

from tracing import clip, union_length

_SQL_PREFIX = "org.apache.spark.sql.execution.ui."
_PYTHON_NODES = ("Python", "InPandas", "InArrow")
COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "task_skew", "driver_gap_s", "join_rows", "python_rows",
)


@dataclass
class Stage:
    submit: float
    done: float
    task_ms: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    job_starts: list[float] = field(default_factory=list)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    # per (stage, attempt): counter name -> sum over that stage's tasks
    stage_sums: dict[tuple[int, int], dict[str, float]] = field(default_factory=dict)
    # accumulator id of each plan node's "number of output rows" metric
    # -> (node name, node description)
    nodes: dict[int, tuple[str, str]] = field(default_factory=dict)
    # per (stage, attempt): accumulator id -> rows added by that stage's tasks
    stage_rows: dict[tuple[int, int], dict[int, int]] = field(default_factory=dict)

    def summarize(self, lo: float, hi: float) -> dict[str, float]:
        """Counters for the stages submitted within [lo, hi] (epoch seconds)."""
        keys = self._stages_in(lo, hi)
        out: dict[str, float] = {c: 0 for c in COUNTERS}
        out["jobs"] = sum(1 for t in self.job_starts if lo <= t <= hi)
        out["stages"] = len(keys)
        for k in keys:
            for name, v in self.stage_sums.get(k, {}).items():
                out[name] += v
        wall = hi - lo
        covered = union_length(clip([(self.stages[k].submit, self.stages[k].done) for k in keys], lo, hi))
        out["join_rows"] = self.node_rows(lo, hi, is_join)
        out["python_rows"] = self.node_rows(lo, hi, is_python)
        out["driver_gap_s"] = wall - covered
        out["task_skew"] = 1.0
        if keys:
            widest = max(keys, key=lambda k: (len(self.stages[k].task_ms), self.stages[k].done - self.stages[k].submit))
            ms = self.stages[widest].task_ms
            med = statistics.median(ms) if ms else 0
            out["task_skew"] = (max(ms) / med) if med > 0 else 1.0
        return out

    def node_rows(self, lo: float, hi: float, pred) -> int:
        """Output rows of the plan nodes matching ``pred(name, description)``
        over the stages submitted within [lo, hi]."""
        ids = {i for i, (name, desc) in self.nodes.items() if pred(name, desc)}
        return sum(
            v for k in self._stages_in(lo, hi) for i, v in self.stage_rows.get(k, {}).items() if i in ids
        )

    def _stages_in(self, lo: float, hi: float) -> list[tuple[int, int]]:
        return [k for k, s in self.stages.items() if lo <= s.submit <= hi and s.done]


def is_join(name: str, desc: str) -> bool:
    return "Join" in name or name == "CartesianProduct"


def is_python(name: str, desc: str) -> bool:
    return any(k in name for k in _PYTHON_NODES)


def _walk_plan(node: dict, log: EventLog) -> None:
    for m in node.get("metrics", []):
        if m.get("name") == "number of output rows":
            log.nodes[int(m["accumulatorId"])] = (node.get("nodeName", ""), node.get("simpleString", ""))
    for child in node.get("children", []):
        _walk_plan(child, log)


def _add_task(log: EventLog, key: tuple[int, int], ev: dict) -> None:
    info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    sums = log.stage_sums.setdefault(key, {})
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    add = {
        "tasks": 1,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
    }
    for k, v in add.items():
        sums[k] = sums.get(k, 0) + v
    rows = log.stage_rows.setdefault(key, {})
    for a in info.get("Accumulables", []):
        if a.get("Name") == "number of output rows":
            rows[int(a["ID"])] = rows.get(int(a["ID"]), 0) + int(a.get("Update", 0))
    log.stages.setdefault(key, Stage(0.0, 0.0)).task_ms.append(
        info.get("Finish Time", 0) - info.get("Launch Time", 0)
    )


def parse(path: str | Path) -> EventLog:
    """Read one uncompressed, non-rolling event log file."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # a log cut short by a killed driver ends mid-line
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                log.job_starts.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
                st = log.stages.setdefault(key, Stage(0.0, 0.0))
                st.submit = si.get("Submission Time", 0) / 1000.0
                st.done = si.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                _add_task(log, (ev["Stage ID"], ev.get("Stage Attempt ID", 0)), ev)
            elif kind in (_SQL_PREFIX + "SparkListenerSQLExecutionStart",
                          _SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(ev.get("sparkPlanInfo", {}), log)
    return log
