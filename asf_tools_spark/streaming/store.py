"""The exactly-once store behind every ``foreachBatch`` sink in this package
(near_dup, substring, geofence, od, pyramid, curated ingest).

A store keeps one directory per micro-batch, under one directory per
stamp value::

    {path}/{k=v for the stamp}/batch_id={N}/{partition_by levels}/*.parquet

Contract:

- ``write(df, N)`` overwrites batch N's own directory and nothing else.
  A replay of batch N rewrites it. A crash between the delete and the
  rewrite is the same as batch N never landing, and the replay writes it.
  The batch id is only a directory name, never a literal in the plan, so
  a sink generates the same code for every batch and its classes come
  from the codegen cache.
- ``before(N)`` reads only batches below N: a replayed batch never finds
  its own landed rows.
- The stamp pins what makes rows comparable across batches (the hash
  family, the gram width, the base resolution). A store object checks
  it once, before its first read or write, by listing the stamp
  directories: a path written under another value raises ValueError
  instead of silently matching nothing.
- An empty unpartitioned frame still lands a schema-only parquet file, so
  an empty batch stays visible to readers. An empty partitioned frame
  lands no file; ``before`` reads a store holding only such batches as
  None.

Listings go through the Hadoop FileSystem (any scheme: local, HDFS,
s3a) and run no Spark job.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.maintenance import _fs_and_path


def _glob(pattern: str) -> list:
    """The Hadoop paths matching ``pattern``; none when its parent is absent."""
    fs, p = _fs_and_path(SparkSession.active(), pattern)
    return [st.getPath() for st in fs.globStatus(p) or []]


class BatchStore:
    """Per-batch parquet directories under ``path``, pinned to ``stamp``
    (column -> value) and partitioned within a batch by ``partition_by``."""

    def __init__(self, path: str, stamp: dict | None = None, partition_by: tuple[str, ...] = ()):
        self.path = path.rstrip("/")
        self.stamp = dict(stamp or {})
        self.partition_by = tuple(partition_by)
        self._root = "/".join([self.path, *(f"{k}={v}" for k, v in self.stamp.items())])
        self._checked = False

    @property
    def root(self) -> str:
        """The stamp's directory. The first use checks the stamp."""
        if not self._checked:
            prefix = self.path
            for col, want in self.stamp.items():
                held = sorted(
                    p.getName().removeprefix(f"{col}=") for p in _glob(f"{prefix}/*")
                    if not p.getName().startswith(("_", "."))
                )
                if held and held != [str(want)]:
                    raise ValueError(
                        f"store {self.path} holds {col} {held}, this one is pinned to "
                        f"{col}={want}: rows under another {col} never match"
                    )
                prefix += f"/{col}={want}"
            self._checked = True
        return self._root

    def _dirs(self) -> dict:
        return {int(p.getName()[len("batch_id="):]): p for p in _glob(f"{self.root}/batch_id=*")}

    def batches(self) -> list[int]:
        """The landed batch ids, ascending."""
        return sorted(self._dirs())

    def write(self, df: DataFrame, batch_id: int) -> None:
        """Replace batch ``batch_id`` with ``df``. A ``batch_id`` or stamp
        column of ``df`` is dropped: the path carries both."""
        (
            df.drop("batch_id", *self.stamp)
            .write.mode("overwrite")
            .partitionBy(*self.partition_by)
            .parquet(f"{self.root}/batch_id={batch_id}")
        )

    def before(self, batch_id: int | None = None) -> DataFrame | None:
        """The rows of the batches below ``batch_id`` (of every batch when
        None), with their ``batch_id`` column; None when there are none."""
        if not any(batch_id is None or b < batch_id for b in self.batches()):
            return None
        try:
            rows = SparkSession.active().read.parquet(self.root)
        except AnalysisException as e:
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            return None  # only empty partitioned batches have landed
        return rows if batch_id is None else rows.where(F.col("batch_id") < batch_id)

    def compact(self, keep_latest: int = 1, age_out_below: int | None = None) -> dict:
        """Merge old batches into one, and delete batches below
        ``age_out_below``. A long stream accretes one directory tree per
        batch, and every ``before`` lists and opens all of them.

        - Merged rows land under the newest merged batch id, which is below
          every future batch, so ``before`` still sees them.
        - The newest ``keep_latest`` batches are never merged: after a
          checkpoint recovery the last batch is replayed, and its lookup
          must not find its own rows under an older id.
        - Age-out is a TTL trade: for the gram store, a span whose only
          earlier sighting aged out becomes a new canonical copy.

        Crash safety: the merged copy is staged durable under the hidden
        ``_compact_tmp`` before any original moves; the originals move to
        ``_compact_old`` and the copy is renamed into place. Run it while
        the stream is quiesced: between the renames a lookup misses the
        merged batches, and a crash there leaves the originals under
        ``_compact_old``.

        Returns {"aged_out", "merged", "target_batch", "partitions_before",
        "partitions_after"}.
        """
        spark = SparkSession.active()
        dirs = self._dirs()
        ids = sorted(dirs)
        aged = [b for b in ids if age_out_below is not None and b < age_out_below]
        live = ids[len(aged):]
        merge = live[: len(live) - keep_latest]
        out = {"aged_out": aged, "merged": [], "target_batch": None,
               "partitions_before": len(ids)}
        fs, tmp = _fs_and_path(spark, f"{self.root}/_compact_tmp")
        _, old = _fs_and_path(spark, f"{self.root}/_compact_old")

        if len(merge) >= 2:
            # staged before any deletion: the merge job must not read paths
            # the age-out below removes. One file per leaf partition.
            rows = spark.read.parquet(self.root).where(F.col("batch_id").isin(merge))
            rows = rows.drop("batch_id")
            rows = rows.repartition(*self.partition_by) if self.partition_by else rows.repartition(1)
            rows.write.mode("overwrite").partitionBy(*self.partition_by).parquet(tmp.toString())

        for b in aged:
            fs.delete(dirs[b], True)

        if len(merge) >= 2:
            fs.delete(old, True)
            fs.mkdirs(old)
            for b in merge:
                if not fs.rename(dirs[b], old.suffix(f"/batch_id={b}")):
                    raise IOError(f"compact: rename {dirs[b]} failed")
            if not fs.rename(tmp, dirs[merge[-1]]):
                raise IOError(f"compact: rename {tmp} failed")
            fs.delete(old, True)
            out["merged"], out["target_batch"] = merge, merge[-1]

        out["partitions_after"] = len(self._dirs())
        return out
