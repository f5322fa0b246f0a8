"""Streaming geofence alerting — the continuous-ingest twin of the batch
geofence_events operator (queries_geo): entry/exit alerts as pings land,
with cross-batch OPEN-VISIT state.

Semantics (batch-granularity presence, documented honestly):

- a (user, fence) ENTRY alert fires on the first batch where the user has
  an inside ping and no open visit;
- an EXIT alert fires on the first batch where the user HAS pings but
  none inside that fence (absence of the user entirely keeps the visit
  open — no signal is not an exit, exactly the open-at-end convention of
  the batch operator's final is_exit);
- with one ping per micro-batch this reduces to the batch operator's
  ping-level transitions (pinned by test).

State discipline: the open-visit set is written as a FULL SNAPSHOT per
batch (partition batch_id=N, dynamic overwrite). A checkpoint-recovery
replay of batch k reads snapshot k-1 and rewrites exactly snapshot k and
alerts partition k — idempotent, exactly-once. Snapshots are SMALL
(bounded by concurrently-open visits, not by pings), and
:func:`prune_snapshots` deletes all but the newest ``keep`` snapshots
(safe: a replayed batch only ever reads the immediately-preceding one;
pruning never merges, so the band-store compactor's restamping rules
don't apply here).

The per-batch spatial work is the SAME broadcast cover-prune +
crossing-parity refine as the batch path (operators.geometry
pip_candidates) — one plan, bounded by batch hits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import local_frame
from ..operators.geometry import pip_candidates
from ..sources.maintenance import _dir_exists, _fs_and_path


def fence_cover_df(spark: SparkSession, polys: list[dict], res: int = 8) -> DataFrame:
    """(poly_id, cell_id) bbox-cover table (driver-built once per stream —
    bounded by fences x cover cells, broadcast). Thin alias of the shared
    sources.polygons.bbox_cover_df so batch and streaming covers cannot
    diverge."""
    from ..sources.polygons import bbox_cover_df

    return bbox_cover_df(spark, polys, res)


class GeofenceAlertIndexer:
    """foreachBatch sink maintaining open-visit state + an alerts table.

    ``edges`` / ``cover`` are the broadcastable fence tables (built once;
    pinned here, not re-derived per batch). Pings must carry ``key``,
    ``ts``, lat/lon and the res-8 ``cell_id`` column.
    """

    def __init__(
        self, edges: DataFrame, cover: DataFrame, state_dir: str, alerts_dir: str,
        key: str = "user_id", ts: str = "ts",
    ):
        self.edges = edges
        self.cover = cover
        self.state_dir = state_dir
        self.alerts_dir = alerts_dir
        self.key = key
        self.ts = ts

    def _latest_state(self, spark: SparkSession, batch_id: int) -> DataFrame | None:
        """Newest snapshot strictly before ``batch_id``. Every snapshot
        carries a SENTINEL row (user -1 / poly -1), so an all-visits-closed
        snapshot is still visible to the row-level max — without it, an
        empty snapshot contributes no rows and the reader would silently
        fall back to a STALE predecessor and suppress re-entry alerts."""
        if not _dir_exists(spark, self.state_dir):
            return None
        st = spark.read.parquet(self.state_dir).where(F.col("batch_id") < batch_id)
        latest = st.agg(F.max("batch_id").alias("b")).collect()[0].b
        if latest is None:
            return None
        return (
            st.where(F.col("batch_id") == latest)
            .where(~((F.col(self.key) == -1) & (F.col("poly_id") == -1)))
            .drop("batch_id")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key, ts = self.key, self.ts
        batch_df = batch_df.localCheckpoint(eager=True)  # 3 consumers below

        flags = pip_candidates(batch_df, self.edges, key="event_id", cover=self.cover)
        hits = (
            flags.where("inside")
            .select("poly_id", "event_id")
            .join(batch_df.select("event_id", key, ts), "event_id")
            .groupBy(key, "poly_id")
            .agg(F.min(ts).alias("first_ts"))
        )
        users = batch_df.groupBy(key).agg(F.max(ts).alias("last_ts"))
        state = self._latest_state(spark, batch_id)

        if state is None:
            entries = hits.select(key, "poly_id", F.col("first_ts").alias("alert_ts"))
            exits = entries.limit(0)
            new_state = hits.select(key, "poly_id", F.col("first_ts").alias("since_ts"))
        else:
            entries = (
                hits.join(state, [key, "poly_id"], "left_anti")
                .select(key, "poly_id", F.col("first_ts").alias("alert_ts"))
            )
            exits = (
                state.join(users, key)  # only users observed this batch can exit
                .join(hits, [key, "poly_id"], "left_anti")
                .select(key, "poly_id", F.col("last_ts").alias("alert_ts"))
            )
            kept_open = state.join(users, key, "left_anti").select(
                key, "poly_id", "since_ts"
            )
            continued = (
                state.join(users, key, "left_semi")
                .join(hits.select(key, "poly_id"), [key, "poly_id"], "left_semi")
                .select(key, "poly_id", "since_ts")
            )
            opened = hits.join(state, [key, "poly_id"], "left_anti").select(
                key, "poly_id", F.col("first_ts").alias("since_ts")
            )
            new_state = kept_open.unionByName(continued).unionByName(opened)

        alerts = entries.withColumn("kind", F.lit("entry")).unionByName(
            exits.withColumn("kind", F.lit("exit"))
        )
        (
            alerts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.alerts_dir)
        )
        # the sentinel row keeps an all-visits-closed snapshot non-empty
        # (see _latest_state); the direct per-partition path write makes
        # the snapshot dir itself unconditional too, and a replayed batch
        # still rewrites exactly its own dir
        sentinel = new_state.limit(0).unionByName(
            new_state.sparkSession.range(1).select(
                F.lit(-1).cast(dict(new_state.dtypes)[self.key]).alias(self.key),
                F.lit(-1).cast(dict(new_state.dtypes)["poly_id"]).alias("poly_id"),
                F.lit(None).cast(dict(new_state.dtypes)["since_ts"]).alias("since_ts"),
            )
        )
        new_state.unionByName(sentinel).write.mode("overwrite").parquet(
            f"{self.state_dir}/batch_id={batch_id}"
        )


ALERTS_SCHEMA = "user_id long, poly_id int, alert_ts timestamp, kind string, batch_id int"


def read_alerts(spark: SparkSession, alerts_dir: str, key_type: str = "long") -> DataFrame:
    """Schema-safe alerts reader: quiet batches write NO partition under
    dynamic overwrite, so before any alert ever fires the directory is
    absent (or file-less) and a bare spark.read.parquet crashes with
    'unable to infer schema'. Returns a correctly-typed empty frame in
    that case instead."""
    schema = ALERTS_SCHEMA.replace("user_id long", f"user_id {key_type}")
    if not _dir_exists(spark, alerts_dir):
        return local_frame(spark, [], schema)
    try:
        return spark.read.parquet(alerts_dir)
    except Exception:
        return local_frame(spark, [], schema)


def prune_snapshots(spark: SparkSession, state_dir: str, keep: int = 2) -> list[int]:
    """Delete all but the newest ``keep`` state snapshots (a replayed batch
    reads only the immediately-preceding snapshot, so keep >= 2 is always
    recovery-safe). Returns the pruned batch ids."""
    if keep < 2:
        raise ValueError("keep >= 2: a replayed batch must find its predecessor")
    if not _dir_exists(spark, state_dir):
        return []
    ids = sorted(
        r.batch_id
        for r in spark.read.parquet(state_dir).select("batch_id").distinct().collect()
    )
    doomed = ids[:-keep] if len(ids) > keep else []
    fs, root = _fs_and_path(spark, state_dir)
    for b in doomed:
        sub = root.suffix(f"/batch_id={b}")  # type: ignore[attr-defined]
        fs.delete(sub, True)
    return doomed


def start_geofence_alerts(
    pings: DataFrame, edges: DataFrame, cover: DataFrame,
    state_dir: str, alerts_dir: str, checkpoint_dir: str, **kwargs,
):
    indexer = GeofenceAlertIndexer(edges, cover, state_dir, alerts_dir, **kwargs)
    return (
        pings.writeStream.outputMode("append")
        .foreachBatch(indexer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
