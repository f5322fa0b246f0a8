"""Two-cluster-size scaling protocol on a SHUFFLE-HEAVY job (r4 verdict
item 6: the headline tile-assignment job is nearly map-only — broadcast
join + one aggregate — i.e. the strongest possible scaling case; this
datapoint exercises real exchanges).

Job: the full corpus-curation funnel (plans/corpus_pipeline.curate_corpus:
quality screen -> line dedup -> exact-dedup window -> MinHash/LSH banding
-> Jaccard verify -> cluster components -> stratified sample) over a
deterministic synthetic corpus — the battery's shuffle-heaviest chain:
fingerprint window, gram/band aggregations, bucket self-join, edge
components. ~14% of docs share a planted 24-token boilerplate span and
~3% are exact duplicates so every dedup stage does real work.

Protocol (BENCH/BASELINE.md): identical job + input at local[LO] and
local[HI] in fresh subprocesses (own JVM), levels interleaved so host
CPU-steal drift hits both equally, median per level, efficiency =
(rate_hi / rate_lo) / (HI / LO). Run scripts/host_calibration.py first
and only record at session-best windows (>= ~0.93 ceiling).

Two job choices (--job, default funnel):
  funnel    — the full curate_corpus chain (quality screen, line dedup,
              exact-dedup window, LSH, jaccard, clusters, sample). Its
              multi-action funnel bookkeeping carries ~30 s of fixed
              driver/launch cost, so it needs very large inputs before
              the data term dominates (Amdahl at toy scale).
  substring — substring-level exact dedup: one query, exchange-rich
              (postings aggregate + join + two window sorts + final
              per-doc collect), small fixed term. Measured 0.59 at 1->4:
              the per-doc collect_list of tens of millions of string
              structs is allocation/GC-bound, and local-mode threads
              SHARE one JVM heap — a single-process artifact, not a plan
              property (on a real cluster each executor GCs its own
              heap). Kept for the honest record.
  smj       — numeric exchange-dominated chain over the synthetic pages
              source: groupBy(cell_id) rollup -> sort-merge join back on
              cell_id (broadcast disabled) -> second rollup. Two full
              hash-partition exchanges + SMJ sorts, no Python, no string
              churn — isolates the EXCHANGE machinery, the thing the
              two-cluster criterion is about. n_docs = n_pages here.

Usage:
  python scripts/bench_scaling_shuffle.py [n_docs] [trials] [--job J]   # driver
  python scripts/bench_scaling_shuffle.py --level N n_docs [--job J]    # child
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

VOCAB = [f"w{i:03d}" for i in range(512)]
BOILER = " ".join(f"boiler{i:02d}" for i in range(24))  # 24-token shared span


def synth_docs(spark, n: int, partitions: int):
    from pyspark.sql import functions as F

    df = spark.range(0, n, 1, partitions)
    vocab = F.lit(VOCAB)
    n_words = (F.pmod(F.xxhash64("id", F.lit("n")), F.lit(80)) + 60).cast("int")
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                vocab, (F.pmod(F.xxhash64(F.col("id"), i), F.lit(len(VOCAB))) + 1).cast("int")
            ),
        ),
    )
    text = F.when(
        F.col("id") % 31 == 1,  # ~3% exact duplicates (shared fixed text)
        F.lit("identical duplicate page body " + BOILER),
    ).when(
        F.col("id") % 7 == 0, F.concat(body, F.lit(" " + BOILER))
    ).otherwise(body)
    return df.select(F.col("id").alias("doc_id"), text.alias("text"))


def run_child(cpus: int, n_docs: int, job: str) -> None:
    from asf_tools_spark.session import get_spark

    # smj: FIXED 32-way partitioning at BOTH levels (like the headline
    # job's fixed 8 generator partitions) — a real cluster keeps the same
    # shuffle partitioning as executors are added; scaling cpus-sized
    # partitions makes the lo level sort n/2-row partitions that spill in
    # the shared local JVM (measured: 96M rows, 2 shuffle partitions ->
    # 262 s vs 73 s extrapolated), an artifact multi-executor clusters
    # don't have.
    spark = get_spark(
        f"scaling-{job}", master=f"local[{cpus}]",
        shuffle_partitions=32 if job == "smj" else max(cpus, 2),
        extra_conf={"spark.driver.memory": os.environ.get("SMJ_DRIVER_MEM", "16g")} if job == "smj" else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    funnel = None
    if job == "smj":
        from pyspark.sql import functions as F

        # Force the exchange path: no broadcast anywhere in this job.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        def smj_chain(pages_df):
            stats = pages_df.groupBy("cell_id").agg(
                F.avg("v").alias("cell_avg"), F.count("*").alias("cell_n")
            )
            joined = pages_df.join(stats, "cell_id")  # SMJ: both sides exchange
            return (
                joined.withColumn("dev", F.abs(F.col("v") - F.col("cell_avg")))
                .groupBy(F.pmod(F.col("id"), F.lit(997)).alias("g"))
                .agg(F.sum("dev").alias("sum_dev"), F.sum("cell_n").alias("m"))
            )

        def make_pages(n, parts):
            return spark.range(0, n, 1, parts).select(
                "id",
                F.pmod(F.xxhash64("id", F.lit("cell")), F.lit(16384)).alias("cell_id"),
                F.pmod(F.xxhash64("id", F.lit("v")), F.lit(100_000)).cast("double").alias("v"),
            )

        pages = make_pages(n_docs, 32).persist()
        n_tokens = pages.count()  # materialize input OUTSIDE the timed window
        # warm codegen/task-launch paths on a tiny input
        smj_chain(make_pages(100_000, 32)).write.format("noop").mode(
            "overwrite"
        ).save()
        t0 = time.time()
        smj_chain(pages).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        print(json.dumps({
            "cpus": cpus, "n_docs": n_docs, "n_tokens": n_tokens,
            "funnel": None,
            "elapsed_sec": round(dt, 2),
            "docs_per_sec": round(n_docs / dt, 1),
            "tokens_per_sec": round(n_docs / dt, 1),
        }))
        spark.stop()
        return
    docs = synth_docs(spark, n_docs, max(cpus, 2)).persist()
    n_tokens = int(
        docs.selectExpr("sum(size(split(text, ' '))) s").first().s
    )  # materializes the input OUTSIDE the timed window
    if job == "substring":
        from asf_tools_spark.operators.substring import substring_dedup

        # warm codegen on a tiny slice so the timed run is steady-state
        substring_dedup(docs.limit(500), "doc_id", n=8).write.format(
            "noop"
        ).mode("overwrite").save()
        t0 = time.time()
        substring_dedup(docs, "doc_id", n=8).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
    else:
        from asf_tools_spark.plans.corpus_pipeline import (
            CorpusPipelineConfig, curate_corpus,
        )

        t0 = time.time()
        res = curate_corpus(docs, CorpusPipelineConfig())
        res["corpus"].write.format("noop").mode("overwrite").save()
        funnel = res["funnel"]()
        res["release"]()
        dt = time.time() - t0
    print(json.dumps({
        "cpus": cpus, "n_docs": n_docs, "n_tokens": n_tokens,
        "funnel": funnel,
        "elapsed_sec": round(dt, 2),
        "docs_per_sec": round(n_docs / dt, 1),
        "tokens_per_sec": round(n_tokens / dt, 1),
    }))
    spark.stop()


def run_level(cpus: int, n_docs: int, job: str) -> dict:
    out = subprocess.run(
        [sys.executable, __file__, "--level", str(cpus), str(n_docs),
         "--job", job],
        capture_output=True, text=True,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"child failed: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> None:
    args = list(sys.argv[1:])
    job = "funnel"
    if "--job" in args:
        i = args.index("--job")
        job = args[i + 1]
        del args[i:i + 2]
    if args and args[0] == "--level":
        run_child(int(args[1]), int(args[2]), job)
        return
    n_docs = int(args[0]) if args else 25_000
    trials = int(args[1]) if len(args) > 1 else 3
    ncpu = os.cpu_count() or 8
    lo, hi = (8, 32) if ncpu >= 32 else (max(ncpu // 4, 1), ncpu)
    if os.environ.get("SCALE_LO"):
        lo, hi = int(os.environ["SCALE_LO"]), int(os.environ["SCALE_HI"])

    lo_runs, hi_runs = [], []
    for t in range(trials):
        lo_runs.append(run_level(lo, n_docs, job))
        hi_runs.append(run_level(hi, n_docs, job))
        print(f"# trial {t}: lo={lo_runs[-1]['elapsed_sec']}s "
              f"hi={hi_runs[-1]['elapsed_sec']}s", file=sys.stderr)
    lo_rate = statistics.median(r["docs_per_sec"] for r in lo_runs)
    hi_rate = statistics.median(r["docs_per_sec"] for r in hi_runs)
    eff = (hi_rate / lo_rate) / (hi / lo)
    print(json.dumps({
        "job": job,
        "n_docs": n_docs, "n_tokens": lo_runs[0]["n_tokens"],
        "funnel": lo_runs[0]["funnel"],
        "levels": {str(lo): lo_rate, str(hi): hi_rate},
        "elapsed_lo": [r["elapsed_sec"] for r in lo_runs],
        "elapsed_hi": [r["elapsed_sec"] for r in hi_runs],
        "unit": "docs/sec",
        "scaling_efficiency": round(eff, 4),
    }))


if __name__ == "__main__":
    main()
