"""Trajectory analytics over geotagged event streams: per-entity track
statistics and origin-destination flow matrices.

The movement-data face of the geospatial engine (the reference computes
per-tile statistics over static rasters, ref src/asf_tools/tile.py and
hydrosar/flood_map.py's per-label aggregates; a 10^12-row clickstream with
coordinates asks the moving-object versions of the same questions). Both
operators are one-shuffle shapes:

- :func:`track_stats` — consecutive-leg geometry per entity: ONE window
  shuffle keyed by the entity id (ts-ordered lag), haversine leg lengths
  as pure Catalyst expressions, then an entity-keyed hash aggregate that
  rides the SAME partitioning (no second exchange). At 100 TB the only
  data movement is the per-entity sort — entity keys are high-cardinality
  (users), so no hot partition; nothing is all-pairs.
- :func:`od_matrix` — first/last position per (entity, day) via one
  full-frame ordered window (again: the aggregate reuses the window's
  hash partitioning), then a low-cardinality (origin-cell, dest-cell)
  rollup. The O/D keys are res-4 Morton cells (core.cells), so the
  flow matrix is bounded by (4^res)^2, not by user count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.spatial import with_cell_col
from .pairs import block_pairs
from .spatial_join import haversine_km


def track_stats(
    pings: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-entity track statistics from a ping table.

    Returns one row per ``key``: ``n_pings``, ``total_km`` (sum of
    haversine leg lengths in (ts, tiebreak) order), ``max_leg_km``,
    ``span_hours`` (first→last ping, exact integer-microsecond
    arithmetic), and ``avg_kmh`` (NULL for single-ping or zero-span
    tracks — never a divide-by-zero Inf).
    """
    w = Window.partitionBy(key).orderBy("_ts", tiebreak)
    legs = pings.select(
        key,
        tiebreak,
        F.col(ts).cast("timestamp_ltz").alias("_ts"),
        F.col(lat).alias("_lat"),
        F.col(lon).alias("_lon"),
    ).select(
        key,
        "_ts",
        haversine_km(
            F.lag("_lat").over(w),
            F.lag("_lon").over(w),
            F.col("_lat"),
            F.col("_lon"),
        ).alias("_leg"),
    )
    span_us = F.max(F.unix_micros("_ts")) - F.min(F.unix_micros("_ts"))
    out = legs.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.round(F.coalesce(F.sum("_leg"), F.lit(0.0)), 4).alias("total_km"),
        F.round(F.coalesce(F.max("_leg"), F.lit(0.0)), 4).alias("max_leg_km"),
        F.round(span_us / F.lit(3600000000.0), 6).alias("span_hours"),
        F.round(
            F.when(
                span_us > 0,
                F.sum("_leg") / (span_us / F.lit(3600000000.0)),
            ),
            4,
        ).alias("avg_kmh"),
    )
    return out


def od_matrix(
    pings: DataFrame,
    res: int = 4,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Origin-destination flow matrix: per (entity, day), the day's first
    ping cell is the origin and the last is the destination; flows are
    counted per (o_cell, d_cell) with distinct-entity counts. Same-cell
    days are kept (the diagonal is the stay-home signal)."""
    tagged = with_cell_col(pings, lat, lon, res, "_cell")
    day = F.date_trunc("day", F.col(ts).cast("timestamp_ltz")).cast("date")
    w = (
        Window.partitionBy(key, "_day")
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    trips = (
        tagged.withColumn("_day", day)
        .select(
            key,
            "_day",
            F.first("_cell").over(w).alias("o_cell"),
            F.last("_cell").over(w).alias("d_cell"),
        )
        .dropDuplicates([key, "_day"])
    )
    return trips.groupBy("o_cell", "d_cell").agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.countDistinct(key).alias("n_users"),
    )


def trip_segments(
    pings: DataFrame,
    gap_minutes: float = 30.0,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Split each entity's ping sequence into trips at time gaps longer
    than ``gap_minutes`` (the standard trajectory segmentation rule), and
    aggregate per trip.

    trip_id is the running count of gap-exceeding boundaries — ONE
    entity-keyed window shuffle computes the lag, the running sum, AND the
    leg lengths (identical partitioning, Catalyst plans one exchange); the
    per-trip aggregate then re-keys by (entity, trip) which is a strict
    refinement, so AQE keeps it local. Legs that CROSS a gap boundary are
    excluded from trip distance (the vehicle was off the radar).
    """
    gap_us = int(gap_minutes * 60_000_000)
    w = Window.partitionBy(key).orderBy("_ts", tiebreak)
    staged = pings.select(
        key,
        tiebreak,
        F.col(ts).cast("timestamp_ltz").alias("_ts"),
        F.col(lat).alias("_lat"),
        F.col(lon).alias("_lon"),
    ).select(
        key,
        "_ts",
        (F.unix_micros("_ts") - F.unix_micros(F.lag("_ts").over(w))).alias("_gap"),
        haversine_km(
            F.lag("_lat").over(w), F.lag("_lon").over(w),
            F.col("_lat"), F.col("_lon"),
        ).alias("_leg"),
        F.sum(
            F.when(
                F.lag("_ts").over(w).isNull()
                | (F.unix_micros("_ts") - F.unix_micros(F.lag("_ts").over(w)) > gap_us),
                1,
            ).otherwise(0)
        ).over(w).alias("trip_id"),
    )
    in_trip_leg = F.when(F.col("_gap") <= gap_us, F.col("_leg"))
    return staged.groupBy(key, "trip_id").agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.min("_ts").alias("start_ts"),
        F.max("_ts").alias("end_ts"),
        F.round(F.coalesce(F.sum(in_trip_leg), F.lit(0.0)), 4).alias("trip_km"),
    )


def colocation_pairs(
    pings: DataFrame,
    res: int = 6,
    bucket_hours: int = 1,
    key: str = "user_id",
    ts: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Entity pairs observed in the same space-time bucket (res-``res``
    cell x ``bucket_hours`` window) — the contact-graph primitive.

    Never all-pairs: distinct (entity, cell, bucket) occupancy first (one
    aggregate bounded by occupancy, not pings), then a self-equi-join on
    (cell, bucket) — the join fan-out is per-bucket occupancy squared,
    which the space-time bucketing keeps small by construction (the same
    bounded-bucket argument as the LSH band join). Hot buckets (a stadium
    cell at kickoff) are the documented skew lever: shrink the bucket.
    """
    bucket_us = bucket_hours * 3_600_000_000
    occ = (
        with_cell_col(pings, lat, lon, res, "_cell")
        .select(
            key,
            "_cell",
            F.floor(
                F.unix_micros(F.col(ts).cast("timestamp_ltz")) / F.lit(bucket_us)
            ).alias("_bucket"),
        )
        .distinct()
    )
    return (
        block_pairs(occ, occ, key, ["_cell", "_bucket"])
        .groupBy(F.col("key_a").alias("user_a"), F.col("key_b").alias("user_b"))
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.countDistinct("_cell").alias("n_cells"),
        )
    )


def bearing_rose(
    pings: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Global 8-bin compass rose of leg bearings (movement anisotropy —
    the direction-distribution screen run before flow modeling): initial
    great-circle bearing per consecutive leg, binned at 45° centered on
    N/NE/E/..., with leg count and mean leg length per bin. Zero-length
    legs (identical consecutive coordinates) have no bearing — dropped.
    Same one-window shape as track_stats; the rose aggregate is 8 rows.
    """
    w = Window.partitionBy(key).orderBy("_ts", tiebreak)
    staged = pings.select(
        key,
        tiebreak,
        F.col(ts).cast("timestamp_ltz").alias("_ts"),
        F.radians(lat).alias("_rlat"),
        F.radians(lon).alias("_rlon"),
        F.col(lat).alias("_lat"),
        F.col(lon).alias("_lon"),
    ).select(
        haversine_km(
            F.lag("_lat").over(w), F.lag("_lon").over(w),
            F.col("_lat"), F.col("_lon"),
        ).alias("_leg"),
        F.lag("_rlat").over(w).alias("_p_rlat"),
        F.lag("_rlon").over(w).alias("_p_rlon"),
        F.col("_rlat"),
        F.col("_rlon"),
    ).where(F.col("_p_rlat").isNotNull() & (F.col("_leg") > 0.0))
    dlon = F.col("_rlon") - F.col("_p_rlon")
    # initial great-circle bearing (forward azimuth), degrees in (-180, 180]
    deg = F.degrees(
        F.atan2(
            F.sin(dlon) * F.cos("_rlat"),
            F.cos("_p_rlat") * F.sin("_rlat")
            - F.sin("_p_rlat") * F.cos("_rlat") * F.cos(dlon),
        )
    )
    # shift so bin 0 is centered on north: (-180,180] + 360 + 22.5 -> floor/45 mod 8
    bin_ = F.pmod(F.floor((deg + 382.5) / 45.0).cast("long"), F.lit(8))
    return (
        staged.select(bin_.alias("bin"), "_leg")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_legs"),
            F.round(F.avg("_leg"), 4).alias("avg_leg_km"),
        )
    )


def geofence_events(
    flags: DataFrame,
    key: str = "user_id",
    seq: str = "seq",
    ts: str = "ts",
) -> DataFrame:
    """Fence entry/exit transitions from sparse containment hits.

    ``flags`` is the (poly_id, key, seq, ts)-shaped INSIDE-hit table (one
    row per ping x containing fence — the output of the exact PIP refine,
    already sparse). ``seq`` is the ping's position in the entity's global
    timeline (row_number over ts). A hit opens a visit when the previous
    timeline ping was NOT inside (lag(seq) != seq-1) and closes it when
    the next one isn't (lead(seq) != seq+1) — pure lag/lead over the
    (entity, fence)-keyed window; no per-ping dense timeline is ever
    materialized, so the shuffle is bounded by HITS, not pings x fences.
    """
    w = Window.partitionBy(key, "poly_id").orderBy(seq)
    prev_seq, next_seq = F.lag(seq).over(w), F.lead(seq).over(w)
    ev = flags.select(
        key,
        "poly_id",
        seq,
        ts,
        (prev_seq.isNull() | (prev_seq != F.col(seq) - 1)).alias("is_entry"),
        (next_seq.isNull() | (next_seq != F.col(seq) + 1)).alias("is_exit"),
    )
    return ev.where(F.col("is_entry") | F.col("is_exit"))
