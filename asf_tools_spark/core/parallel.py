"""Parallelism helper for compute-dense stages over low-partition inputs.

A single parquet file (or a single row group) scans as ONE task, so every
narrow operator chained before the first exchange — regex normalization,
n-gram generation, per-row vector math — serializes on one core no matter
how many the session has (guide §2.5 "input skew", §1.2 per-task work).
At cluster scale inputs carry >= cores partitions and :func:`fan_out` is a
no-op; on small/local inputs it inserts one cheap round-robin exchange of
the (tiny) input bytes so the heavy per-row stage runs wide.

Round-robin repartition is deterministic under retries (Spark sorts before
round-robin partitioning, SPARK-23207), and none of the callers depend on
row order within a partition (aggregates, joins, explode->aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to session default parallelism if (and only
    if) it currently has fewer partitions — the guard makes this a no-op
    at cluster scale, where scans already carry enough splits."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # never let the optimization break the plan
        return df
    if current >= target:
        return df
    return df.repartition(target)
