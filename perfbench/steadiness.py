"""Run the benchmark on several seeds and summarize each end-to-end metric.

Usage (from the repository root):

    python3 perfbench/steadiness.py --workload water_map --seeds 1-10 [--out FILE]

For each metric prints the median, the quartiles (``statistics.quantiles``
with ``n=4``) and the spread: the distance between the quartiles as a
share of the median. ``--out`` writes the same summary, with every run's
values and report line, as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in args.seeds:
        t0 = time.time()
        res = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        lines = res.stdout.strip().splitlines()
        if res.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}", file=sys.stderr)
            return 1
        result, report = json.loads(lines[-1]), json.loads(lines[-2])
        runs.append({"seed": seed, "wall_s": time.time() - t0, "result": result, "report": report})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {time.time() - t0:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} {vals}", flush=True)

    metrics = {k: summarize([r["result"]["metrics"][k]["value"] for r in runs])
               for k in runs[0]["result"]["metrics"]}
    for k, m in metrics.items():
        print(f"{k}: median {m['median']:.4f} q1 {m['q1']:.4f} q3 {m['q3']:.4f} spread {m['spread']:.4f}")
    print(f"mean wall per run: {statistics.mean(r['wall_s'] for r in runs):.1f}s")
    if args.out:
        Path(args.out).write_text(json.dumps({"workload": args.workload, "metrics": metrics, "runs": runs}, indent=1))
    return 0 if all(r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
