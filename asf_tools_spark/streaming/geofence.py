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
batch into a ``streaming.store.BatchStore``, as are the alerts. A
checkpoint-recovery replay of batch k reads the newest snapshot below k
and rewrites exactly snapshot k and alerts batch k — exactly-once. An
all-visits-closed snapshot is an empty frame, which still lands a
schema-only file, so it stays the newest snapshot. Snapshots are SMALL
(bounded by concurrently-open visits, not by pings), and
:func:`prune_snapshots` deletes all but the newest ``keep`` snapshots
(safe: a replayed batch only ever reads the immediately-preceding one).

The per-batch spatial work is the SAME broadcast cover-prune +
crossing-parity refine as the batch path (operators.geometry
pip_candidates) — one plan, bounded by batch hits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import local_frame
from ..operators.geometry import pip_candidates
from .store import BatchStore


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
        self.state = BatchStore(state_dir)
        self.alerts = BatchStore(alerts_dir)
        self.key = key
        self.ts = ts

    def _previous(self, batch_id: int) -> int | None:
        """The newest snapshot's batch id below ``batch_id`` (a listing)."""
        return max((b for b in self.state.batches() if b < batch_id), default=None)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
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
        prev = self._previous(batch_id)

        if prev is None:
            entries = hits.select(key, "poly_id", F.col("first_ts").alias("alert_ts"))
            exits = entries.limit(0)
            new_state = hits.select(key, "poly_id", F.col("first_ts").alias("since_ts"))
        else:
            state = (
                self.state.before(batch_id).where(F.col("batch_id") == prev).drop("batch_id")
            )
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
        self.alerts.write(alerts, batch_id)
        self.state.write(new_state, batch_id)


ALERTS_SCHEMA = "user_id long, poly_id int, alert_ts timestamp, kind string, batch_id int"


def read_alerts(spark: SparkSession, alerts_dir: str, key_type: str = "long") -> DataFrame:
    """The alerts table; a correctly-typed empty frame before the first
    batch lands (a bare spark.read.parquet would fail with 'unable to
    infer schema')."""
    alerts = BatchStore(alerts_dir).before()
    if alerts is None:
        return local_frame(spark, [], ALERTS_SCHEMA.replace("user_id long", f"user_id {key_type}"))
    return alerts


def prune_snapshots(spark: SparkSession, state_dir: str, keep: int = 2) -> list[int]:
    """Delete all but the newest ``keep`` state snapshots (a replayed batch
    reads only the immediately-preceding snapshot, so keep >= 2 is always
    recovery-safe). Returns the pruned batch ids."""
    if keep < 2:
        raise ValueError("keep >= 2: a replayed batch must find its predecessor")
    store = BatchStore(state_dir)
    ids = store.batches()
    if len(ids) <= keep:
        return []
    return store.compact(keep_latest=keep, age_out_below=ids[-keep])["aged_out"]


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
