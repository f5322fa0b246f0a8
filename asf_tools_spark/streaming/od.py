"""Incremental (streaming) origin-destination matrix — the readStream twin
of operators.trajectory.od_matrix, on a ``streaming.store.BatchStore`` of
per-batch partials (streaming.pyramid's shape).

The per-(user, day) trip endpoints are ASSOCIATIVE: the day's first ping
is the min of per-batch firsts under the (ts, tiebreak) order, and the
last is the max of per-batch lasts — so each micro-batch reduces to ONE
row per (user, day) seen in the batch (bounded by active user-days, never
by pings), partials land under the batch's id (exactly-once replay),
and the reader merges partials with the SAME
struct-ordered min/max before the flow rollup. Stream-end state equals
the batch operator on the union of all batches BY the associativity
argument and BY test.

Late data needs no watermark here: a late ping for an old (user, day)
simply lands in a later batch's partial and the merge still yields the
correct endpoints — the store is a merge-tree, not a window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.spatial import with_cell_col
from .store import BatchStore


class ODIndexer:
    """foreachBatch sink: reduce the batch to per-(user, day) endpoint
    partials and land them under the batch's id."""

    def __init__(
        self, store_dir: str, res: int = 4,
        key: str = "user_id", ts: str = "ts", tiebreak: str = "event_id",
        lat: str = "lat", lon: str = "lon",
    ):
        self.store = BatchStore(store_dir)
        self.res = res
        self.key, self.ts, self.tiebreak = key, ts, tiebreak
        self.lat, self.lon = lat, lon

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        key, ts, tb = self.key, self.ts, self.tiebreak
        tagged = with_cell_col(batch_df, self.lat, self.lon, self.res, "_cell")
        day = F.date_trunc("day", F.col(ts).cast("timestamp_ltz")).cast("date")
        partials = (
            tagged.withColumn("_day", day)
            .groupBy(key, "_day")
            .agg(
                F.min(F.struct(F.col(ts).alias("ts"), F.col(tb).alias("tb"),
                               F.col("_cell").alias("cell"))).alias("first"),
                F.max(F.struct(F.col(ts).alias("ts"), F.col(tb).alias("tb"),
                               F.col("_cell").alias("cell"))).alias("last"),
            )
        )
        self.store.write(partials, batch_id)


def read_od(spark: SparkSession, store_dir: str, key: str = "user_id") -> DataFrame:
    """Serve the O-D flow matrix from the partial store: merge per-batch
    endpoint partials with the same struct-ordered min/max (associative —
    exact regardless of how pings were split across batches), then the
    batch operator's flow rollup."""
    store = BatchStore(store_dir).before()
    if store is None:
        raise FileNotFoundError(f"OD store {store_dir} does not exist")
    trips = (
        store.groupBy(key, "_day")
        .agg(
            F.min("first").getField("cell").alias("o_cell"),
            F.max("last").getField("cell").alias("d_cell"),
        )
    )
    return trips.groupBy("o_cell", "d_cell").agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.countDistinct(key).alias("n_users"),
    )


def start_od(points: DataFrame, store_dir: str, checkpoint_dir: str, **kwargs):
    """availableNow streaming maintenance of the O-D endpoint store."""
    indexer = ODIndexer(store_dir, **kwargs)
    return (
        points.writeStream.outputMode("append")
        .foreachBatch(indexer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
