"""Two-cluster-size scaling protocol (BASELINE.md): run the identical
headline job on the identical input at local[N] and local[4N], report
pages/sec at each level and efficiency = (throughput_4N / throughput_N) / 4.

Each level runs in its own subprocess (fresh JVM) via bench.py with
BENCH_SKIP_QUERIES=1. Writes BENCH/BASELINE.md.

Usage: python scripts/bench_scaling.py [n_pages] [trials]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import date
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run_level(cpus: int, n_pages: int, trials: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        BENCH_PAGES=str(n_pages),
        BENCH_TRIALS=str(trials),
        BENCH_SKIP_QUERIES="1",
    )
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")], env=env, capture_output=True, text=True
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    ncpu = os.cpu_count() or 8
    lo, hi = (8, 32) if ncpu >= 32 else (max(ncpu // 4, 1), ncpu)
    if os.environ.get("SCALE_LO"):
        lo, hi = int(os.environ["SCALE_LO"]), int(os.environ["SCALE_HI"])

    # interleave levels (lo,hi,lo,hi,...) so host-level CPU-steal drift hits
    # both levels equally; take the median per level
    lo_runs, hi_runs = [], []
    for _ in range(trials):
        lo_runs.append(run_level(lo, n_pages, 1))
        hi_runs.append(run_level(hi, n_pages, 1))
    a = sorted(lo_runs, key=lambda r: r["value"])[len(lo_runs) // 2]
    b = sorted(hi_runs, key=lambda r: r["value"])[len(hi_runs) // 2]
    eff = (b["value"] / a["value"]) / (hi / lo)

    md = f"""# BENCH — measured baseline & scaling efficiency

Date: {date.today().isoformat()}. Headline job: synthetic page generation ->
geotag -> cell encode -> broadcast spatial join vs watershed layer ->
per-(polygon,cell) aggregation -> HAND-candidate flag (bench.py), identical
input ({n_pages:,} pages, seed-deterministic), median of {trials} trials per
level, fresh JVM per level.

## Two-cluster-size scaling (N vs 4N, sandbox stand-in per BASELINE.md)

| level | master | pages/sec | elapsed (s) |
|---|---|---|---|
| N  | local[{lo}] | {a["value"]:,.0f} | {a["headline_elapsed_sec"]} |
| 4N | local[{hi}] | {b["value"]:,.0f} | {b["headline_elapsed_sec"]} |

**Scaling efficiency = (throughput_4N / throughput_N) / {hi // lo} =
{eff:.3f}** (pass bar >= 0.8 per BASELINE.json north_rule).

Machine: {ncpu} cores; substitution note: "executors" are local[] threads in
this sandbox — partitioning is identical to a multi-executor layout (the
generator emits {hi} input partitions; the aggregation shuffles on
(poly_id, cell_id)).

## Headline throughput (local[{hi}])

{b["value"]:,.0f} pages/sec ({n_pages:,} pages in {b["headline_elapsed_sec"]} s).
Per-query timings at sf0.1 are recorded by the driver as BENCH_r{{N}}.json.
"""
    (REPO / "BENCH").mkdir(exist_ok=True)
    # BASELINE.md is hand-curated; raw runs land in a sidecar unless asked
    target = "BASELINE.md" if os.environ.get("BENCH_WRITE_BASELINE") else "scaling_last_run.md"
    (REPO / "BENCH" / target).write_text(md)
    print(json.dumps({"lo": a, "hi": b, "efficiency": round(eff, 4)}))


if __name__ == "__main__":
    main()
