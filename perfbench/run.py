"""Benchmark runner for asf_tools_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload tile_assign --seed 1 --seconds 8 --trace 0

Workloads: ``tile_assign`` and ``water_map`` (see ``workloads.py`` and
BENCHMARK.json for why each was chosen). One process runs one workload at
``local[<cpus>]`` as a closed loop with one client: set-up, then operations
one at a time until ``--seconds`` have passed, each checked against a
reference computed for the seed by an independent route.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones: ``op_s`` (median seconds per operation)
and ``setup_s`` (session start plus the median set-up repetition). With
``--trace 1`` they are the per-layer ones in ``PER_LAYER``, and the line
before the result holds the workload's full per-layer record (the water
map's traced run also runs and checks one pass of registry rows). Every
run prints a ``report`` line first, with the pinned environment, the
workload's own throughput (pages/s or px/s) and the failed fraction.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
RUN_START = time.time()

# the per-layer metrics every workload reports in a traced run (the
# workload-specific layers are in the record line before the result)
PER_LAYER = (
    "session.get_spark_s", "warm_s", "trace_overhead_s", "op.build_s", "op.action_s",
    "op.jobs", "op.stages", "op.tasks", "op.shuffle_read_bytes", "op.shuffle_write_bytes",
    "op.spill_bytes", "op.task_skew", "op.driver_gap_s", "op.join_rows", "op.python_rows",
    "peak_rss_mb",
)


def _process_start() -> float:
    """Epoch seconds at which this process started, from /proc."""
    try:
        ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
        btime = next(int(line.split()[1]) for line in open("/proc/stat") if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return RUN_START


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_rss() -> int:
        parents, rss = {}, {}
        page = os.sysconf("SC_PAGE_SIZE")
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                fields = Path(f"/proc/{d}/stat").read_text().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while we looked
            parents[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * page
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parents.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return sum(rss.get(p, 0) for p in tree)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def pin_env(cpus: int) -> dict:
    """Environment every run pins, so numbers from different hosts or
    core counts are never compared by accident."""
    for d in ("spark-local", "tmp", "events"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_HASH_FAMILY": "xxhash64",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_DRIVER_MEMORY": "4g",
        "TMPDIR": str(WORK / "tmp"),
        # keep the JVM's scratch files inside the work directory too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        # Python workers import the package from the repository root
        "PYTHONPATH": os.pathsep.join([str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    }
    os.environ.update(env)
    return env


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] (default: the cores this process may use)")
    ap.add_argument("--pages", type=int, default=None,
                    help="tile_assign page count (default: the workload's own)")
    return ap.parse_args(argv)


def measure(wl, seconds: float, reference: dict) -> tuple[list[dict], int]:
    """Closed loop: operations back to back until ``seconds`` have passed
    (at least one). Returns the operations and how many failed."""
    import checks

    ops, failed = [], 0
    t_end = time.perf_counter() + seconds
    while not ops or time.perf_counter() < t_end:
        try:
            res = wl.op()
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"# {wl.name}: operation raised {type(e).__name__}: {e}", file=sys.stderr)
            failed += 1
            ops.append({"build_s": 0.0, "action_s": 0.0, "failed": True})
        else:
            bad = checks.mismatches(res["out"], reference)
            if bad:
                print(f"# {wl.name}: output check failed: {'; '.join(bad)[:2000]}", file=sys.stderr)
                failed += 1
            res["failed"] = bool(bad)
            ops.append(res)
        wl.between_ops()
    return ops, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import asf_tools_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    env = pin_env(args.cpus)
    t_proc = _process_start()

    from asf_tools_spark.session import get_spark
    from pyspark import SparkContext

    extra = {"spark.sql.warehouse.dir": str(WORK / "warehouse"), "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        for f in (WORK / "events").iterdir():
            f.unlink()
        extra.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{WORK / 'events'}",
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        })
    tracer = Tracer() if args.trace else None
    with RssSampler() as rss:
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{args.cpus}]",
                          shuffle_partitions=args.cpus, extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t_proc
        gateway = SparkContext._gateway
        try:
            wl = workloads.WORKLOADS[args.workload](spark, args.seed, WORK, tracer=None)
            if args.pages:
                wl.n_items = args.pages
            prep = []
            for _ in range(wl.setup_reps):
                t = time.perf_counter()
                wl.prepare()
                prep.append(time.perf_counter() - t)
            reference = wl.reference()
            ops, failed = measure(wl, args.seconds, reference)
            op_times = [o["build_s"] + o["action_s"] for o in ops if not o["failed"]] or [0.0]
            op_s = statistics.median(op_times)
            if args.trace:
                t_ops, t_failed, probe = traced_phase(wl, tracer, args.seconds, reference, op_s)
        finally:
            spark.stop()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
    setup_s = session_s + statistics.median(prep)
    attempted = len(ops)
    if args.trace:
        layers = layer_numbers(wl, tracer, t_ops, probe, op_s)
        layers.update({
            "session.get_spark_s": session_s, "warm_s": statistics.median(prep),
            "peak_rss_mb": rss.peak / 2**20,
        })
        spans = WORK / f"spans_{args.workload}_seed{args.seed}.jsonl"
        tracer.dump(spans)
        layers["spans_file"] = str(spans.relative_to(ROOT))
        attempted += len(t_ops) + layers.pop("_attempted", 0)
        failed += t_failed + layers.pop("_failed", 0)
    report = {
        "report": args.workload, "seed": args.seed, "ops": len(ops), "setup_reps": len(prep),
        "op_s_all": [round(x, 4) for x in op_times],
        f"{wl.items}_per_s": wl.n_items / op_s if op_s else 0.0, "items_per_op": wl.n_items,
        "op_s": op_s, "setup_s": setup_s, "session_s": session_s, "prepare_s": prep,
        "peak_rss_mb": rss.peak / 2**20, "failed_frac": failed / max(attempted, 1),
        "env": {
            **{k: v for k, v in env.items() if k != "PYTHONPATH"},
            "PYTHONPATH_has_repo_root": True, "master": f"local[{args.cpus}]",
            "spark": pyspark.__version__, "python": platform.python_version(),
            "java": _java_version(),
        },
    }
    print(json.dumps(report))
    if args.trace:
        print(json.dumps({"layers": args.workload, "seed": args.seed, **layers}))
        metrics = {k: {"value": layers[k], "unit": _unit(k)} for k in PER_LAYER}
    else:
        metrics = {"op_s": {"value": op_s, "unit": "s"}, "setup_s": {"value": setup_s, "unit": "s"}}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def traced_phase(wl, tracer, seconds: float, reference: dict, op_s: float) -> tuple[list[dict], int, dict]:
    """The same operations with spans and wrappers on, then the workload's
    own probes (which run more Spark work, so they must precede stop)."""
    wl.tracer = tracer
    with wl.instrument():
        ops, failed = measure(wl, seconds / 2, reference)
    return ops, failed, wl.probe(op_s)


def layer_numbers(wl, tracer, ops: list[dict], probe: dict, op_s: float) -> dict:
    """Per-layer numbers from the spans and the finished event log."""
    import eventlog

    (log_file,) = list((WORK / "events").iterdir())
    log = eventlog.parse(log_file)
    ok = [o for o in ops if not o["failed"]] or [{"build_s": 0.0, "action_s": 0.0}]
    out = {
        "op.build_s": statistics.median(o["build_s"] for o in ok),
        "op.action_s": statistics.median(o["action_s"] for o in ok),
        "trace_overhead_s": statistics.median(o["build_s"] + o["action_s"] for o in ok) - op_s,
    }
    windows = [log.summarize(s.start, s.end) for s in tracer.named("op")]
    for c in eventlog.COUNTERS:
        out[f"op.{c}"] = statistics.median(w[c] for w in windows) if windows else 0
    out.update(probe)
    out.update(wl.layers(log))
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_ratio", "_eff_1to4", "task_skew")):
        return "ratio"
    return "count"


def _java_version() -> str:
    import subprocess

    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30).stderr
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return next((line for line in out.splitlines() if "version" in line), "unknown")


if __name__ == "__main__":
    sys.exit(main())
