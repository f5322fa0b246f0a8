"""Checkpointed lineage + metrics sidecar: resumable partitioned writes.

The north_rule requires jobs "resumable from checkpoint with per-partition
lineage + metrics". The Iceberg runtime jar is not available offline, so the
same semantics are provided over plain parquet (SURVEY §7): a ``_lineage``
sidecar table records one row per committed partition (job id, partition
value, row count, wall time); a resumed job skips committed partitions and
re-writes the rest idempotently (dynamic partition overwrite — a partial
crash leaves at most uncommitted partitions, which are overwritten, never
duplicated). On an Iceberg deployment the sidecar maps onto snapshot
metadata and the write becomes ``df.writeTo(...).overwritePartitions()``.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import local_frame

LINEAGE_SCHEMA = "job_id string, partition_value string, n_rows long, wall_sec double, committed_at double, status string"


class LineageWriter:
    def __init__(self, table_path: str, lineage_path: str | None = None):
        self.table_path = table_path
        self.lineage_path = lineage_path or f"{table_path}_lineage"

    def completed_partitions(self, spark: SparkSession, job_id: str) -> set[str]:
        # Hadoop-FS existence check: pathlib is scheme-blind, so on an
        # hdfs://s3a:// deployment a resumed job would see NO committed
        # partitions and rewrite everything (correct but not resumable)
        from .maintenance import _fs_and_path

        fs, hpath = _fs_and_path(spark, self.lineage_path)
        if not fs.exists(hpath):
            return set()
        lin = spark.read.parquet(self.lineage_path)
        rows = (
            lin.where((F.col("job_id") == job_id) & (F.col("status") == "committed"))
            .select("partition_value")
            .distinct()
            .collect()
        )
        return {r.partition_value for r in rows}

    def write(
        self,
        df: DataFrame,
        partition_col: str,
        job_id: str | None = None,
    ) -> dict:
        """Write df partitioned by ``partition_col``, skipping partitions the
        lineage already marks committed for this job. Returns metrics."""
        spark = df.sparkSession
        job_id = job_id or uuid.uuid4().hex[:12]
        done = self.completed_partitions(spark, job_id)

        pending = df
        if done:
            pending = df.where(~F.col(partition_col).cast("string").isin(list(done)))

        t0 = time.time()
        # per-partition metrics first (one aggregate over the pending data)
        counts = [
            (str(r.pv), int(r.n))
            for r in pending.groupBy(F.col(partition_col).cast("string").alias("pv"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        if counts:
            (
                pending.repartition(partition_col)  # one file set per partition
                .write.partitionBy(partition_col)
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(self.table_path)
            )
        wall = time.time() - t0

        lineage_rows = [
            (job_id, pv, n, wall / max(len(counts), 1), time.time(), "committed")
            for pv, n in counts
        ]
        if lineage_rows:
            local_frame(spark, lineage_rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.lineage_path)
        return {
            "job_id": job_id,
            "partitions_written": len(counts),
            "partitions_skipped": len(done),
            "rows_written": sum(n for _, n in counts),
            "wall_sec": wall,
        }
