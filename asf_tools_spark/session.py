"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point and exercised locally:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow transport for every pandas UDF stage
- explicit shuffle partitioning (caller-tunable; local default = cores)
- a generated-code cache sized to the water map's working set
  (``STATIC_CONF``), so a repeated map reuses its compiled classes
  instead of recompiling them; ``jobs/geo_serving_job.py`` applies it
  too, for its repeated micro-batch plans
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the directory that holds the asf_tools_spark package
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)

# Static SQL confs: read only when a session is created, so each session
# builder that wants them (get_spark, jobs/geo_serving_job.py) applies
# this one mapping.
# codegen.cache.maxEntries bounds Spark's LRU of generated classes, keyed
# on their source. One water map needs 121 classes (133 with set-up): at
# the default of 100 each was evicted before its next use, so every map
# re-ran ~121 Janino compiles and the JIT started over on the new classes.
# At 256 a repeated map compiles none and a new scene 17 (plans that
# inline scene values as literals), while the cache still bounds how many
# dead classes a long session keeps.
STATIC_CONF = {"spark.sql.codegen.cache.maxEntries": "256"}


def get_spark(
    app_name: str = "asf_tools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: match parallelism; cluster jobs should set ~2-3x total cores
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (default 1m) serializes compute-dense
        # stages whose *input bytes* are small but whose work explodes
        # downstream (self-joins, n-gram generates): a few-MB shuffle
        # coalesces to 1 task and 31 cores idle. parallelismFirst already
        # targets total/parallelism; a lower floor lets that target win on
        # small inputs. At cluster scale partitions sit far above either
        # floor, so this is a no-op there (scale-adaptive, guide §2.2/2.5).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Spark's ContextCleaner frees broadcast/checkpoint/shuffle blocks
        # only when the driver JVM garbage-collects, so long batteries
        # nudge System.gc() periodically — as a stop-the-world G1 full GC
        # that stalls every core. ExplicitGCInvokesConcurrent turns those
        # nudges into concurrent cycles: reference queues still drain (the
        # cleaner keeps working) at ~no pause. Local mode: driver hosts
        # the executors, so this governs task JVMs too.
        # ReservedCodeCacheSize: a many-query session compiles hundreds of
        # whole-stage-codegen classes; at the JVM's 240m default the code
        # cache fills mid-battery and the JIT starts flushing/refusing
        # compiles, which shows up as tail queries running 2-4x slower
        # than the same query in a fresh session.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                "-XX:+ExplicitGCInvokesConcurrent -XX:ReservedCodeCacheSize=1g",
            ),
        )
        .config(map=STATIC_CONF)
        .config("spark.ui.enabled", "false")
        # Python workers import this package to run its UDFs; without this
        # they find it only when the process cwd is the repository root
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
