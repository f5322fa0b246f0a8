"""Incremental (streaming) tile-pyramid maintenance — the readStream twin
of operators.tiling.tile_pyramid (TODO'd as 'streaming tile-pyramid
maintenance'; the batch operator is the hypertable-rollup shape, this is
its continuous-ingest counterpart — a tile server whose zoom aggregates
stay fresh as the crawl lands, without ever rescanning the corpus).

Design (the package's batch-partial store, same as the LSH band store and
the substring gram store):

- each micro-batch is reduced to BASE-RES CELL PARTIALS (row, col, _n, _s)
  — the only state kept is bounded by occupied base cells (<= 4^base_res),
  never by point count, and the per-batch write is one map-side-combined
  aggregate over just that batch's rows;
- partials land in a ``streaming.store.BatchStore`` stamped with
  ``base_res`` (exactly-once per batch; partials at different resolutions
  never merge: a store of another base_res is refused);
- :func:`read_pyramid` serves the pyramid by re-aggregating the partials
  to base cells (counts/sums are associative — partial merge is exact)
  and rolling ancestors with THE SAME ``pyramid_from_base`` plan the
  batch operator uses, so stream-end state == tile_pyramid(all points)
  by construction (pinned by test, not by trust);
- long streams accrete one directory per batch: compact with
  ``PyramidIndexer.store.compact()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core import cells as C
from ..operators.tiling import pyramid_from_base
from .store import BatchStore


class PyramidIndexer:
    """foreachBatch sink: reduce the batch to base-res cell partials and
    land them under the batch's id."""

    def __init__(
        self, store_dir: str, base_res: int,
        lat: str = "lat", lon: str = "lon", value_col: str = "value",
    ):
        if not 0 <= base_res <= 16:
            raise ValueError(f"base_res {base_res} not in [0, 16]")
        self.store = BatchStore(store_dir, {"base_res": base_res})
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
        self.store.write(partials, batch_id)


def read_pyramid(
    spark: SparkSession, store_dir: str, base_res: int, min_res: int = 0,
) -> DataFrame:
    """Serve the full pyramid from the partial store. Exact: count/sum
    partials merge associatively; the ancestor rollup is the SAME plan as
    the batch operator's."""
    store = BatchStore(store_dir, {"base_res": base_res}).before()
    if store is None:
        raise FileNotFoundError(f"pyramid store {store_dir} does not exist")
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
