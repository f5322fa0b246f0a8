"""Incremental (streaming) tile-pyramid maintenance — the readStream twin
of operators.tiling.tile_pyramid (TODO'd as 'streaming tile-pyramid
maintenance'; the batch operator is the hypertable-rollup shape, this is
its continuous-ingest counterpart — a tile server whose zoom aggregates
stay fresh as the crawl lands, without ever rescanning the corpus).

Design (the repo's batch-partial store discipline, same as the LSH band
store and the substring gram store):

- each micro-batch is reduced to BASE-RES CELL PARTIALS (row, col, _n, _s)
  — the only state kept is bounded by occupied base cells (<= 4^base_res),
  never by point count, and the per-batch write is one map-side-combined
  aggregate over just that batch's rows;
- partials land in a parquet store partitioned by ``batch_id`` with
  dynamic partition overwrite: a checkpoint-recovery replay of batch k
  rewrites exactly partition batch_id=k — idempotent, exactly-once;
- :func:`read_pyramid` serves the pyramid by re-aggregating the partials
  to base cells (counts/sums are associative — partial merge is exact)
  and rolling ancestors with THE SAME ``pyramid_from_base`` plan the
  batch operator uses, so stream-end state == tile_pyramid(all points)
  by construction (pinned by test, not by trust);
- long streams accrete one partition per batch: compact with
  ``sources.maintenance.compact_batch_store(store, ["batch_id"])`` — the
  merge restamps to the max merged batch_id, which stays invisible to the
  exactly-once contract here because the reader never filters on
  batch_id and a replayed batch only overwrites its own partition (which
  compaction's ``keep_latest`` left in place).

``base_res`` is pinned into the store (a ``base_res`` column checked on
read): partials at different resolutions must never silently merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core import cells as C
from ..operators.tiling import pyramid_from_base
from ..sources.maintenance import _dir_exists


class PyramidIndexer:
    """foreachBatch sink: reduce the batch to base-res cell partials and
    land them under partition batch_id=N (idempotent per batch_id)."""

    def __init__(
        self, store_dir: str, base_res: int,
        lat: str = "lat", lon: str = "lon", value_col: str = "value",
    ):
        if not 0 <= base_res <= 16:
            raise ValueError(f"base_res {base_res} not in [0, 16]")
        self.store_dir = store_dir
        self.base_res = base_res
        self.lat, self.lon, self.value_col = lat, lon, value_col

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.select(
                F.expr(C.grid_y_sql(self.lat, self.base_res)).alias("row"),
                F.expr(C.grid_x_sql(self.lon, self.base_res)).alias("col"),
                F.col(self.value_col).cast("double").alias("_v"),
            )
            .groupBy("row", "col")
            .agg(F.count(F.lit(1)).alias("_n"), F.sum("_v").alias("_s"))
        )
        (
            partials.withColumn("base_res", F.lit(self.base_res))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.store_dir)
        )


def read_pyramid(
    spark: SparkSession, store_dir: str, base_res: int, min_res: int = 0,
) -> DataFrame:
    """Serve the full pyramid from the partial store. Exact: count/sum
    partials merge associatively; the ancestor rollup is the SAME plan as
    the batch operator's."""
    if not _dir_exists(spark, store_dir):
        raise FileNotFoundError(f"pyramid store {store_dir} does not exist")
    store = spark.read.parquet(store_dir)
    if "base_res" not in store.columns:
        raise ValueError(
            f"pyramid store {store_dir} lacks a base_res column — written by "
            "an incompatible layout; rebuild the store"
        )
    wrong = store.select("base_res").where(
        F.col("base_res") != base_res
    ).limit(1).collect()
    if wrong:
        raise ValueError(
            f"pyramid store {store_dir} holds base_res={wrong[0].base_res} "
            f"partials; reader asked for base_res={base_res} — refusing to "
            "merge mixed-resolution partials"
        )
    base = (
        store.groupBy("row", "col")
        .agg(F.sum("_n").alias("_n"), F.sum("_s").alias("_s"))
    )
    return pyramid_from_base(base, base_res, min_res)


def start_pyramid(
    points: DataFrame, store_dir: str, checkpoint_dir: str,
    base_res: int, **kwargs,
):
    """availableNow streaming maintenance of the pyramid partial store."""
    indexer = PyramidIndexer(store_dir, base_res, **kwargs)
    return (
        points.writeStream.outputMode("append")
        .foreachBatch(indexer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
