"""Geocode + trajectory registry queries: quadkey/geohash rollups over the
geotagged document corpus, and per-user track statistics / O-D flows over
the geotagged event stream.

The web-map serving face of the engine (quadkey/geohash are the public
interchange geocodes; the reference's equivalent is its own tile naming,
functions.spatial.tile_name_col, ref src/asf_tools/dem.py:12) plus the
moving-object face (tracks/flows) the static reference never needed.

Every row has a full-SQL DuckDB oracle. Geocode parity rests on pure
integer/bit arithmetic after one floor() per axis (the Mercator floor is
fenced by ROUND(.., 9) on both engines — functions/geocode.py); the
trajectory rows reuse the haversine/ASIN text already proven cross-engine
by distance_pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import oracle
from .core.io import local_frame, read_table
from .core import cells
from .functions import geocode
from .sources.pages import _with_geotag, geotagged_documents

_QK_Z = 8
_OD_RES = 4


def _geotagged_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + md5-parity lat/lon keyed by event_id (the oracle-checked
    geotag path; value/hand are dropped — trajectory rows don't use them).

    Fanned out off the scan: the md5 geotag chain is narrow, and a
    single-file events scan otherwise computes every hash on one core
    (~0.5-0.9 s single-task stage at the head of EVERY geo query at
    sf0.1; core/parallel.py, no-op at cluster scale)."""
    from .core.parallel import fan_out

    ev = fan_out(read_table(spark, sf_dir, "events"))
    return _with_geotag(ev, F.col("event_id")).drop("value", "hand")


def _geotagged_events_sql() -> str:
    """DuckDB subquery mirroring :func:`_geotagged_events` value-for-value
    (same staged-hash layering as oracle.geotagged_documents_sql)."""
    d = oracle.DUCKDB
    base = "event_id, ts, user_id, event_type"
    hashes = f"""(
      SELECT {base},
             {oracle.hash8_sql("event_id", d, salt="geo-a")} AS _ha,
             {oracle.hash8_sql("event_id", d, salt="geo-b")} AS _hb,
             {oracle.hash8_sql("event_id", d, salt="geo-c")} AS _hc,
             {oracle.hash8_sql("event_id", d, salt="geo-d")} AS _hd
      FROM events
    )"""
    return f"""(
      SELECT {base},
             {oracle.geotag_lat_from_hashes_sql()} AS lat,
             {oracle.geotag_lon_from_hashes_sql()} AS lon
      FROM {hashes} _ge0
    )"""


# ---------------------------------------------------------------------------
# quadkey rollup

def q_quadkey_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quadkey page rollup at zoom 8 (the pre-aggregation a tile
    server keeps per map tile), carrying the zoom-4 parent prefix — the
    quadkey hierarchy IS string prefix, so parent rollups and prefix
    range scans need no geometry at all. Plan shape: geotag map stage +
    ONE hash aggregate; at 100 TB the aggregate is bounded by occupied
    tiles (<= 4^z), not page count."""
    pages = geotagged_documents(spark, sf_dir)
    qk = geocode.with_quadkey_col(pages, z=_QK_Z, out="quadkey")
    return (
        qk.groupBy("quadkey")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .withColumn("parent_qk", F.substring("quadkey", 1, 4))
    )


def _quadkey_oracle() -> str:
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    qk = geocode.quadkey_sql("lat", "lon", _QK_Z)
    return f"""
        SELECT quadkey, COUNT(*) AS n_pages,
               ROUND(SUM(value), 6) AS sum_value,
               SUBSTR(quadkey, 1, 4) AS parent_qk
        FROM (SELECT {qk} AS quadkey, value FROM {docs} _qk0) _qk1
        GROUP BY quadkey
    """


# ---------------------------------------------------------------------------
# geohash rollup

def q_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-geohash-prefix density rollup: encode every page at precision
    6, aggregate at the 4-char prefix (geohash truncation = containment,
    so one encode serves every coarser rollup). Distinct-fine-cell count
    rides the same aggregate (exact — the per-prefix fine-cell set is
    <= 32^2)."""
    pages = geotagged_documents(spark, sf_dir)
    gh = geocode.with_geohash_col(pages, out="gh6")
    return (
        gh.withColumn("gh4", F.substring("gh6", 1, 4))
        .groupBy("gh4")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("gh6").alias("n_cells"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def _geohash_oracle() -> str:
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    gh = geocode.geohash_sql("lat", "lon")
    return f"""
        SELECT SUBSTR(gh6, 1, 4) AS gh4, COUNT(*) AS n_pages,
               COUNT(DISTINCT gh6) AS n_cells,
               ROUND(SUM(value), 6) AS sum_value
        FROM (SELECT {gh} AS gh6, value FROM {docs} _gh0) _gh1
        GROUP BY SUBSTR(gh6, 1, 4)
    """


# ---------------------------------------------------------------------------
# track stats

_HAV = (
    "2.0 * 6371.0088 * ASIN(SQRT(POWER(SIN(RADIANS(lat - _plat) / 2), 2) "
    "+ COS(RADIANS(_plat)) * COS(RADIANS(lat)) "
    "* POWER(SIN(RADIANS(lon - _plon) / 2), 2)))"
)


def q_track_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user track statistics over the geotagged event stream (ONE
    entity-keyed window shuffle; the final aggregate reuses its hash
    partitioning). avg_kmh is NULL for zero-span tracks — never an Inf.
    Oracle: the same LAG/haversine replay in DuckDB (ASIN text proven
    cross-engine by distance_pairs)."""
    from .operators.trajectory import track_stats

    return track_stats(_geotagged_events(spark, sf_dir))


def _track_stats_oracle() -> str:
    ev = _geotagged_events_sql()
    return f"""
        WITH legs AS (
          SELECT user_id, ts,
                 LAG(lat) OVER w AS _plat, LAG(lon) OVER w AS _plon,
                 lat, lon
          FROM {ev} _tr0
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        d AS (
          SELECT user_id, ts,
                 CASE WHEN _plat IS NULL THEN NULL ELSE {_HAV} END AS leg
          FROM legs
        )
        SELECT user_id, COUNT(*) AS n_pings,
               ROUND(COALESCE(SUM(leg), 0.0), 4) AS total_km,
               ROUND(COALESCE(MAX(leg), 0.0), 4) AS max_leg_km,
               ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
                     / CAST(3600000000.0 AS DOUBLE), 6) AS span_hours,
               ROUND(CASE WHEN epoch_us(MAX(ts)) > epoch_us(MIN(ts))
                          THEN SUM(leg) / ((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
                                           / CAST(3600000000.0 AS DOUBLE))
                     END, 4) AS avg_kmh
        FROM d GROUP BY user_id
    """


# ---------------------------------------------------------------------------
# O-D matrix

def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flows between res-4 Morton cells: per (user,
    day) the first/last ping cells, counted per cell pair. The flow
    matrix is bounded by occupied-cell pairs, independent of user count;
    the only wide exchange is the (user, day) window."""
    from .operators.trajectory import od_matrix

    return od_matrix(_geotagged_events(spark, sf_dir), res=_OD_RES)


def _od_matrix_oracle() -> str:
    ev = _geotagged_events_sql()
    celled = cells.cell_layered_select(
        ev, "lat", "lon", _OD_RES, carry=["event_id", "ts", "user_id"], out="cell"
    )
    return f"""
        WITH staged AS (
          SELECT user_id, event_id, ts,
                 CAST(date_trunc('day', ts) AS DATE) AS d, cell
          FROM {celled} _od0
        ),
        ends AS (
          SELECT user_id, d,
                 FIRST_VALUE(cell) OVER w AS o_cell,
                 LAST_VALUE(cell) OVER w AS d_cell
          FROM staged
          WINDOW w AS (PARTITION BY user_id, d ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ),
        trips AS (SELECT DISTINCT user_id, d, o_cell, d_cell FROM ends)
        SELECT o_cell, d_cell, COUNT(*) AS n_trips,
               COUNT(DISTINCT user_id) AS n_users
        FROM trips GROUP BY o_cell, d_cell
    """


# ---------------------------------------------------------------------------
# trip segmentation

_GAP_MIN = 30.0


def q_trip_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based trajectory segmentation (>30 min off-radar splits a
    trip): ONE entity-keyed window computes lag, running boundary count
    AND leg lengths; cross-gap legs are excluded from trip_km. Timestamps
    exported as exact integer epoch-micros (the repo's cross-engine
    timestamp rule)."""
    from .operators.trajectory import trip_segments

    out = trip_segments(_geotagged_events(spark, sf_dir), gap_minutes=_GAP_MIN)
    return out.select(
        "user_id",
        F.col("trip_id").cast("long").alias("trip_id"),
        "n_pings",
        F.unix_micros("start_ts").alias("start_us"),
        F.unix_micros("end_ts").alias("end_us"),
        "trip_km",
    )


def _trip_segments_oracle() -> str:
    ev = _geotagged_events_sql()
    gap_us = int(_GAP_MIN * 60_000_000)
    return f"""
        WITH s AS (
          SELECT user_id, ts, event_id, lat, lon,
                 LAG(lat) OVER w AS _plat, LAG(lon) OVER w AS _plon,
                 LAG(ts) OVER w AS _pts
          FROM {ev} _ts0
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        g AS (
          SELECT user_id, ts,
                 epoch_us(ts) - epoch_us(_pts) AS _gap,
                 CASE WHEN _plat IS NULL THEN NULL ELSE {_HAV} END AS _leg,
                 CAST(SUM(CASE WHEN _pts IS NULL
                                    OR epoch_us(ts) - epoch_us(_pts) > {gap_us}
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      AS BIGINT) AS trip_id
          FROM s
        )
        SELECT user_id, trip_id, COUNT(*) AS n_pings,
               epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
               ROUND(COALESCE(SUM(CASE WHEN _gap <= {gap_us} THEN _leg END),
                              0.0), 4) AS trip_km
        FROM g GROUP BY user_id, trip_id
    """


# ---------------------------------------------------------------------------
# co-location pairs

_COLOC_RES = 6
_COLOC_HOURS = 1


def q_colocation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-cell same-hour entity pairs (contact-graph primitive) —
    distinct space-time occupancy then a bucket-keyed self-join; never
    all-pairs."""
    from .operators.trajectory import colocation_pairs

    return colocation_pairs(
        _geotagged_events(spark, sf_dir), res=_COLOC_RES, bucket_hours=_COLOC_HOURS
    )


def _colocation_oracle() -> str:
    ev = _geotagged_events_sql()
    celled = cells.cell_layered_select(
        ev, "lat", "lon", _COLOC_RES, carry=["event_id", "ts", "user_id"], out="cell"
    )
    bucket_us = _COLOC_HOURS * 3_600_000_000
    return f"""
        WITH occ AS (
          SELECT DISTINCT user_id, cell,
                 CAST(FLOOR(epoch_us(ts) / CAST({float(bucket_us)!r} AS DOUBLE))
                      AS BIGINT) AS bucket
          FROM {celled} _cl0
        )
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               COUNT(*) AS n_windows, COUNT(DISTINCT a.cell) AS n_cells
        FROM occ a JOIN occ b
          ON a.cell = b.cell AND a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    """


# ---------------------------------------------------------------------------
# bearing rose

def q_bearing_rose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bin compass rose of leg bearings over all user tracks (movement
    anisotropy screen). ATAN2/DEGREES algebra identical on both engines;
    bin arithmetic is exact integer floor/mod on the shifted angle."""
    from .operators.trajectory import bearing_rose

    return bearing_rose(_geotagged_events(spark, sf_dir))


def _bearing_oracle() -> str:
    ev = _geotagged_events_sql()
    deg = (
        "DEGREES(ATAN2(SIN(RADIANS(lon) - RADIANS(_plon)) * COS(RADIANS(lat)), "
        "COS(RADIANS(_plat)) * SIN(RADIANS(lat)) "
        "- SIN(RADIANS(_plat)) * COS(RADIANS(lat)) * COS(RADIANS(lon) - RADIANS(_plon))))"
    )
    return f"""
        WITH legs AS (
          SELECT user_id, ts,
                 LAG(lat) OVER w AS _plat, LAG(lon) OVER w AS _plon,
                 lat, lon
          FROM {ev} _br0
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        d AS (
          SELECT {deg} AS deg, {_HAV} AS leg
          FROM legs WHERE _plat IS NOT NULL
        )
        SELECT CAST(FLOOR((deg + CAST(382.5 AS DOUBLE)) / CAST(45.0 AS DOUBLE))
                    AS BIGINT) % 8 AS bin,
               COUNT(*) AS n_legs, ROUND(AVG(leg), 4) AS avg_leg_km
        FROM d WHERE leg > 0.0
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# geofence entry/exit events

def q_geofence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fence entry/exit transitions: exact PIP hits (the flagship
    cover-cell prune + crossing-parity refine, shared with
    pip_page_counts) against the watershed fences, then lag/lead over the
    per-(user, fence) hit sequence — the shuffle is bounded by HITS, not
    pings x fences. The ping timeline position (seq) is a per-user
    row_number computed before the spatial join and carried through."""
    from .operators.geometry import pip_candidates
    from .operators.trajectory import geofence_events
    from .sources.polygons import bbox_cover_df, polygon_edges_df, watershed_polygons
    from pyspark.sql.window import Window

    polys = watershed_polygons()
    edges = polygon_edges_df(spark, polys)
    cover = bbox_cover_df(spark, polys, 8)

    ev = _geotagged_events(spark, sf_dir)
    from .functions.spatial import with_cell_col

    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # eagerly materialized: BOTH the flags branch and the hits join-back
    # consume ev within one action (the lazy multi-branch recompute race
    # documented in sources/maintenance)
    ev = (
        with_cell_col(ev, "lat", "lon", 8, "cell_id")
        .withColumn("seq", F.row_number().over(seq_w).cast("long"))
        .localCheckpoint(eager=True)
    )
    flags = pip_candidates(ev, edges, key="event_id", cover=cover)
    hits = (
        flags.where("inside")
        .select("poly_id", "event_id")
        .join(ev.select("event_id", "user_id", "seq", "ts"), "event_id")
    )
    out = geofence_events(hits, key="user_id", seq="seq", ts="ts")
    return out.select(
        "user_id", "poly_id", "seq",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        "is_entry", "is_exit",
    )


def _geofence_oracle() -> str:
    from .sources.polygons import pip_hits_ctes_sql

    ev = _geotagged_events_sql()
    seqd = f"""(
        SELECT user_id, event_id, ts, lat, lon,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT) AS seq
        FROM {ev} _gf0
    )"""
    ctes = pip_hits_ctes_sql(seqd, "event_id", ["user_id", "seq", "ts"])
    return f"""
        WITH {ctes},
        marked AS (
          SELECT user_id, poly_id, seq, ts,
                 (LAG(seq) OVER w IS NULL OR LAG(seq) OVER w <> seq - 1)
                   AS is_entry,
                 (LEAD(seq) OVER w IS NULL OR LEAD(seq) OVER w <> seq + 1)
                   AS is_exit
          FROM hits
          WINDOW w AS (PARTITION BY user_id, poly_id ORDER BY seq)
        )
        SELECT user_id, poly_id, seq, epoch_us(ts) AS ts_us,
               is_entry, is_exit
        FROM marked WHERE is_entry OR is_exit
    """


# ---------------------------------------------------------------------------
# geofence dwell time

def q_geofence_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, fence) dwell rollup: pair each entry with its visit's
    exit (visit id = running entry count over the transition stream —
    entry/exit rows arrive strictly alternating per (user, fence) by
    construction) and aggregate visit count + total/max dwell hours.
    Rides the geofence_events transition stream, so the added cost is
    one window + one aggregate over TRANSITIONS (already sparse)."""
    from pyspark.sql.window import Window

    tr = q_geofence_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "poly_id").orderBy("seq")
    visits = tr.withColumn(
        "visit", F.sum(F.col("is_entry").cast("int")).over(w)
    )
    per_visit = visits.groupBy("user_id", "poly_id", "visit").agg(
        ((F.max("ts_us") - F.min("ts_us")) / F.lit(3600000000.0)).alias("_dwell_h")
    )
    return per_visit.groupBy("user_id", "poly_id").agg(
        F.count(F.lit(1)).alias("n_visits"),
        F.round(F.sum("_dwell_h"), 6).alias("total_dwell_h"),
        F.round(F.max("_dwell_h"), 6).alias("max_dwell_h"),
    )


def _geofence_dwell_oracle() -> str:
    inner = _geofence_oracle()
    return f"""
        WITH tr AS ({inner}),
        visits AS (
          SELECT user_id, poly_id, ts_us,
                 SUM(CASE WHEN is_entry THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id, poly_id ORDER BY seq) AS visit
          FROM tr
        ),
        pv AS (
          SELECT user_id, poly_id, visit,
                 (MAX(ts_us) - MIN(ts_us)) / CAST(3600000000.0 AS DOUBLE)
                   AS dwell_h
          FROM visits GROUP BY user_id, poly_id, visit
        )
        SELECT user_id, poly_id, COUNT(*) AS n_visits,
               ROUND(SUM(dwell_h), 6) AS total_dwell_h,
               ROUND(MAX(dwell_h), 6) AS max_dwell_h
        FROM pv GROUP BY user_id, poly_id
    """


# ---------------------------------------------------------------------------
# emerging hotspots (Mann-Kendall trend per cell)

_MK_RES = 3


def _daily_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (row, col, day, x) daily event-count cube over occupied res-3
    cells x the observed calendar — shared by the Mann-Kendall and
    space-time Gi* rows (one definition, one checkpoint discipline). The
    only event-scale exchange is the (cell, day) count aggregate; the
    calendar bounds come from the aggregated daily frame (one md5 geotag
    pass), and the in-plan assert_true fails loudly if the span ever
    exceeds the oracle's bounded 10000-day replay calendar."""
    ev = _geotagged_events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts").cast("timestamp_ltz")).cast("date")
    pts = ev.select(
        F.expr(cells.grid_y_sql("lat", _MK_RES)).alias("row"),
        F.expr(cells.grid_x_sql("lon", _MK_RES)).alias("col"),
        day.alias("day"),
    )
    daily = (
        pts.groupBy("row", "col", "day")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # cal, occ and the grid join branch off it
    )
    # the guard is folded into the CONSUMED `hi` expression: aliased to a
    # separate column it gets column-pruned by the very next select and
    # never evaluates (ADVICE r5). assert_true returns NULL (or throws),
    # so when(assert_true(cond).isNull(), hi) IS hi — but the assertion
    # now sits inside the expression the explode consumes. An empty events
    # table leaves lo/hi NULL: the coalesce passes that case through to an
    # empty calendar instead of failing the assertion on a NULL condition
    guarded_hi = F.when(
        F.assert_true(
            F.coalesce(F.datediff("hi", "lo") < 10000, F.lit(True)),
            F.lit("daily cube: event span exceeds the oracle's 10000-day calendar bound"),
        ).isNull(),
        F.col("hi"),
    )
    cal = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select("lo", guarded_hi.alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    occ = daily.select("row", "col").distinct()
    return (
        occ.crossJoin(F.broadcast(cal))
        .join(daily, ["row", "col", "day"], "left")
        .select("row", "col", "day", F.coalesce("n", F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)  # multiple consumers; avoid the lazy-persist race
    )


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hotspot analysis: Mann-Kendall monotonic-trend test
    (Mann 1945 / Kendall 1975, tie-corrected variance) on each occupied
    res-3 cell's gap-filled DAILY event-count series — the space-time
    extension of hotspot_clusters/gi_star (density says where, Gi* says
    how surprising, MK says which cells are HEATING UP). Scale shape:
    the only event-scale exchange is the (cell, day) count aggregate;
    the pair self-join and tie rollup run on the gap-filled series —
    bounded by occupied_cells x T^2 (T = calendar days), independent of
    event count. S is an exact integer (signs of integer diffs); z uses
    the tie-corrected variance and the standard +/-1 continuity
    correction; all-tied series (var 0) are 'no_trend' with NULL z."""
    filled = _daily_cube(spark, sf_dir)
    a, b = filled.alias("a"), filled.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.row") == F.col("b.row")) & (F.col("a.col") == F.col("b.col"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.row").alias("row"), F.col("a.col").alias("col"))
        .agg(
            F.sum(
                F.signum((F.col("b.x") - F.col("a.x")).cast("double")).cast("long")
            ).alias("s")
        )
    )
    tie = (
        filled.groupBy("row", "col", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("row", "col")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias("tie_term"),
            F.sum("t").alias("n_days"),
        )
    )
    j = s.join(tie, ["row", "col"])
    nd = F.col("n_days").cast("double")
    var_s = (
        nd * (nd - 1.0) * (2.0 * nd + 5.0) - F.col("tie_term").cast("double")
    ) / 18.0
    z = F.when(var_s <= 0.0, F.lit(None).cast("double")).otherwise(
        F.when(F.col("s") > 0, (F.col("s") - 1.0) / F.sqrt(var_s))
        .when(F.col("s") < 0, (F.col("s") + 1.0) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "row", "col", "n_days", "s",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(z.isNull(), "no_trend")
        .when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


def _daily_cube_ctes() -> str:
    """SQL twin of :func:`_daily_cube` (pts/daily/bounds/cal/occ/filled
    CTE fragment) — shared by the MK and space-time Gi* oracles."""
    ev = _geotagged_events_sql()
    py = cells.grid_y_sql("lat", _MK_RES)
    px = cells.grid_x_sql("lon", _MK_RES)
    return f"""pts AS (
          SELECT {py} AS row, {px} AS col,
                 CAST(date_trunc('day', ts) AS DATE) AS day
          FROM {ev} _mk0
        ),
        daily AS (SELECT row, col, day, CAST(COUNT(*) AS BIGINT) AS n
                  FROM pts GROUP BY 1, 2, 3),
        bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM pts),
        cal AS (
          SELECT CAST(lo + (g.i * INTERVAL 1 DAY) AS DATE) AS day
          FROM bounds, (SELECT unnest(range(0, 10000)) AS i) g
          WHERE lo + (g.i * INTERVAL 1 DAY) <= hi
        ),
        occ AS (SELECT DISTINCT row, col FROM daily),
        filled AS (
          SELECT o.row, o.col, c.day, COALESCE(d.n, 0) AS x
          FROM occ o CROSS JOIN cal c
          LEFT JOIN daily d ON d.row = o.row AND d.col = o.col AND d.day = c.day
        )"""


def _emerging_oracle() -> str:
    return f"""
        WITH {_daily_cube_ctes()},
        sgn AS (
          SELECT a.row, a.col,
                 CAST(SUM(CAST(SIGN(b.x - a.x) AS BIGINT)) AS BIGINT) AS s
          FROM filled a JOIN filled b
            ON a.row = b.row AND a.col = b.col AND a.day < b.day
          GROUP BY a.row, a.col
        ),
        tie AS (
          SELECT row, col,
                 CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
                 CAST(SUM(t) AS BIGINT) AS n_days
          FROM (SELECT row, col, x, COUNT(*) AS t FROM filled GROUP BY 1, 2, 3) _t
          GROUP BY row, col
        ),
        j AS (
          SELECT sgn.row, sgn.col, tie.n_days, sgn.s,
                 (CAST(tie.n_days AS DOUBLE) * (CAST(tie.n_days AS DOUBLE) - 1.0)
                  * (2.0 * CAST(tie.n_days AS DOUBLE) + 5.0)
                  - CAST(tie.tie_term AS DOUBLE)) / 18.0 AS var_s
          FROM sgn JOIN tie ON sgn.row = tie.row AND sgn.col = tie.col
        ),
        zc AS (
          SELECT row, col, n_days, s, var_s,
                 CASE WHEN var_s <= 0.0 THEN NULL
                      WHEN s > 0 THEN (s - 1.0) / SQRT(var_s)
                      WHEN s < 0 THEN (s + 1.0) / SQRT(var_s)
                      ELSE 0.0 END AS z
          FROM j
        )
        SELECT row, col, n_days, s, ROUND(var_s, 6) AS var_s,
               ROUND(z, 6) AS z,
               CASE WHEN z IS NULL THEN 'no_trend'
                    WHEN z > 1.96 THEN 'increasing'
                    WHEN z < -1.96 THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM zc
    """


# ---------------------------------------------------------------------------
# space-time Gi* (the hotspot half of ESRI's emerging-hotspot pair)

def q_gi_star_spacetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-time Getis-Ord Gi* per (cell, day) bin over the dense daily
    cube: binary 3x3x3 weights (space ring x {t-1, t, t+1}, including
    self) — MK says which cells trend, THIS says which (cell, day) bins
    are locally hot right now; together they are the ESRI emerging-
    hotspot formulation. Same scatter shape as the spatial gi_star row
    (constant 27-fan offset explode + ONE equi-join back), evaluated on
    the cube — bounded by occupied_cells x T, independent of events.
    Oracle: the INDEPENDENT ABS-predicate 3-dim self-join replay."""
    filled = _daily_cube(spark, sf_dir)
    cube = filled.select("row", "col", "day", F.col("x").cast("double").alias("x"))
    offs = F.explode(
        F.array(*[
            F.struct(
                F.lit(dr).alias("dr"), F.lit(dc).alias("dc"), F.lit(dt).alias("dt")
            )
            for dr in (-1, 0, 1) for dc in (-1, 0, 1) for dt in (-1, 0, 1)
        ])
    ).alias("o")
    contrib = cube.select(offs, "row", "col", "day", "x").select(
        (F.col("row") + F.col("o.dr")).alias("row"),
        (F.col("col") + F.col("o.dc")).alias("col"),
        F.date_add("day", F.col("o.dt")).alias("day"),
        F.col("x").alias("x_j"),
    )
    sums = contrib.groupBy("row", "col", "day").agg(
        F.sum("x_j").alias("sum_x"), F.count(F.lit(1)).alias("w_i")
    )
    at_bins = cube.join(sums, ["row", "col", "day"])
    g = cube.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("m"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    j = at_bins.crossJoin(F.broadcast(g))
    s2 = F.col("sxx") / F.col("n") - F.col("m") * F.col("m")
    var_term = (F.col("n") * F.col("w_i") - F.col("w_i") * F.col("w_i")) / (F.col("n") - 1)
    denom = F.sqrt(s2) * F.sqrt(var_term)
    return j.select(
        "row", "col", "day", "w_i",
        F.round("sum_x", 6).alias("sum_x"),
        F.when(
            (F.col("n") >= 2) & (s2 > 0) & (var_term > 0),
            F.round((F.col("sum_x") - F.col("m") * F.col("w_i")) / denom, 6),
        ).alias("gi_z"),
    )


def _gi_spacetime_oracle() -> str:
    return f"""
        WITH {_daily_cube_ctes()},
        cube AS (SELECT row, col, day, CAST(x AS DOUBLE) AS x FROM filled),
        g AS (SELECT COUNT(*) AS n, AVG(x) AS m, SUM(x * x) AS sxx FROM cube),
        nb AS (
          SELECT a.row, a.col, a.day, SUM(b.x) AS sum_x, COUNT(*) AS w_i
          FROM cube a JOIN cube b
            ON ABS(a.row - b.row) <= 1 AND ABS(a.col - b.col) <= 1
           AND ABS(datediff('day', b.day, a.day)) <= 1
          GROUP BY a.row, a.col, a.day
        )
        SELECT nb.row, nb.col, nb.day, nb.w_i,
               ROUND(nb.sum_x, 6) AS sum_x,
               CASE WHEN g.n >= 2 AND g.sxx / g.n - g.m * g.m > 0
                         AND (g.n * nb.w_i - nb.w_i * nb.w_i) / (g.n - 1) > 0
                    THEN ROUND((nb.sum_x - g.m * nb.w_i)
                         / (SQRT(g.sxx / g.n - g.m * g.m)
                            * SQRT(CAST(g.n * nb.w_i - nb.w_i * nb.w_i AS DOUBLE)
                                   / (g.n - 1))), 6)
               END AS gi_z
        FROM nb CROSS JOIN g
    """


# ---------------------------------------------------------------------------
# polygon rasterization (burn fences onto the cell grid)

_RAST_RES = 6


def q_polygon_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed polygon rasterization: burn each watershed ring onto
    the res-6 grid by exact center-in-polygon tests over its bbox-cover
    cells — the engine twin of the reference's GDAL rasterize step
    (hydrosar flood/water masks are burned rasters; ref
    src/asf_tools/vector.py get_features + gdal RasterizeLayer usage).
    Shape: candidates are the BBOX COVER (bounded per poly, built once,
    never a points-scale join); the refine is the shared crossing-parity
    pip_refine, whole-stage codegen. Returns per-poly cover size, burned
    count, and the burned bbox."""
    from .operators.geometry import pip_refine
    from .sources.polygons import polygon_edges_df, watershed_polygons
    import numpy as np

    polys = watershed_polygons()
    edges = polygon_edges_df(spark, polys)
    n = 1 << _RAST_RES
    rows = []
    for p in polys:
        ring = p["ring"]
        cover = cells.cover_bbox(
            float(ring[:, 1].min()), float(ring[:, 0].min()),
            float(ring[:, 1].max()), float(ring[:, 0].max()), _RAST_RES,
        )
        x, y, _ = cells.decode_xy(np.asarray(cover))
        for xi, yi in zip(x.tolist(), y.tolist()):
            rows.append((int(p["poly_id"]), int(yi), int(xi)))
    cand = local_frame(spark, rows, "poly_id int, row long, col long")
    cand = cand.select(
        "poly_id", "row", "col",
        (F.col("row") * n + F.col("col")).alias("cell_key"),
        ((F.col("row") + 0.5) / n * 180.0 - 90.0).alias("lat"),
        ((F.col("col") + 0.5) / n * 360.0 - 180.0).alias("lon"),
    )
    flags = pip_refine(cand, edges, key="cell_key").join(
        cand.select("poly_id", "cell_key", "row", "col"), ["poly_id", "cell_key"]
    )
    burned = F.when(F.col("inside"), 1).otherwise(0)
    return flags.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_cover"),
        F.sum(burned).cast("long").alias("n_burned"),
        # -1 sentinel, not NULL: nothing-burned polys must stay sortable
        # in mixed-type row compares (the repo's no-NULL-in-key rule)
        F.coalesce(F.min(F.when(F.col("inside"), F.col("row"))), F.lit(-1)).alias("min_row"),
        F.coalesce(F.max(F.when(F.col("inside"), F.col("row"))), F.lit(-1)).alias("max_row"),
        F.coalesce(F.min(F.when(F.col("inside"), F.col("col"))), F.lit(-1)).alias("min_col"),
        F.coalesce(F.max(F.when(F.col("inside"), F.col("col"))), F.lit(-1)).alias("max_col"),
    )


def _polygon_raster_oracle() -> str:
    from .sources.polygons import CROSSING_PRED as CROSS_PRED
    from .sources.polygons import edges_values_sql, watershed_polygons

    edges = edges_values_sql(watershed_polygons())
    n = 1 << _RAST_RES
    gx0 = cells.grid_x_sql("b.minx", _RAST_RES)
    gx1 = cells.grid_x_sql("b.maxx", _RAST_RES)
    gy0 = cells.grid_y_sql("b.miny", _RAST_RES)
    gy1 = cells.grid_y_sql("b.maxy", _RAST_RES)
    return f"""
        WITH edges AS (SELECT * FROM {edges} e),
        boxes AS (
          SELECT poly_id,
                 MIN(LEAST(x1, x2)) AS minx, MAX(GREATEST(x1, x2)) AS maxx,
                 MIN(LEAST(y1, y2)) AS miny, MAX(GREATEST(y1, y2)) AS maxy
          FROM edges GROUP BY poly_id
        ),
        grid AS (SELECT gr.i AS row, gc.i AS col
                 FROM (SELECT unnest(range(0, {n})) AS i) gr,
                      (SELECT unnest(range(0, {n})) AS i) gc),
        cand AS (
          SELECT b.poly_id, g.row, g.col,
                 ((g.row + 0.5) / {n} * 180.0 - 90.0) AS lat,
                 ((g.col + 0.5) / {n} * 360.0 - 180.0) AS lon
          FROM boxes b JOIN grid g
            ON g.row >= {gy0} AND g.row <= {gy1}
           AND g.col >= {gx0} AND g.col <= {gx1}
        ),
        par AS (
          SELECT c.poly_id, c.row, c.col, COUNT(*) AS nc
          FROM cand c JOIN edges e ON e.poly_id = c.poly_id
           AND {CROSS_PRED}
          GROUP BY c.poly_id, c.row, c.col
        ),
        flags AS (
          SELECT c.poly_id, c.row, c.col,
                 COALESCE(p.nc % 2 = 1, FALSE) AS inside
          FROM cand c LEFT JOIN par p
            ON p.poly_id = c.poly_id AND p.row = c.row AND p.col = c.col
        )
        SELECT poly_id, COUNT(*) AS n_cover,
               CAST(SUM(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_burned,
               COALESCE(MIN(CASE WHEN inside THEN row END), -1) AS min_row,
               COALESCE(MAX(CASE WHEN inside THEN row END), -1) AS max_row,
               COALESCE(MIN(CASE WHEN inside THEN col END), -1) AS min_col,
               COALESCE(MAX(CASE WHEN inside THEN col END), -1) AS max_col
        FROM flags GROUP BY poly_id
    """


# ---------------------------------------------------------------------------
# track similarity (shared-cell Jaccard)

_TSIM_RES = 4
_TSIM_MIN_J = 0.2


def q_track_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory similarity as Jaccard over visited res-4 cell sets —
    the set-similarity dedup idea (setsim_join/jaccard_pairs) applied to
    movement footprints: candidate pairs come from an INVERTED CELL INDEX
    (cell-keyed self-join of distinct occupancy), never all user pairs;
    |union| = |A| + |B| - |inter| from a broadcast per-user cell-count
    join. This row is the EXACT gate: join volume is sum(u_c^2) over
    cells, and the synthetic corpus is deliberately adversarial (every
    user visits the same 5 hotspot cities -> ~5M intersection rows at
    sf0.1, ~10 s). The 100 TB path is the repo's existing MinHash/LSH
    machinery applied to the cell-id sets (operators/dedup.py — same
    signatures, cell ids instead of shingles), with THIS row as its
    recall oracle, exactly the lsh_recall_report discipline. Emits
    pairs with jaccard >= 0.2."""
    ev = _geotagged_events(spark, sf_dir)
    occ = (
        ev.select(
            "user_id",
            F.expr(cells.grid_y_sql("lat", _TSIM_RES)).alias("row"),
            F.expr(cells.grid_x_sql("lon", _TSIM_RES)).alias("col"),
        )
        .distinct()
        # 3 consumers (sizes + both self-join sides) within one action:
        # eager, or the serialized-md5 geotag re-runs per branch
        .localCheckpoint(eager=True)
    )
    sizes = occ.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_cells"))
    a, b = occ.alias("a"), occ.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.row") == F.col("b.row")) & (F.col("a.col") == F.col("b.col"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("user_id").alias("user_a"), F.col("n_cells").alias("_na"))
    sb = sizes.select(F.col("user_id").alias("user_b"), F.col("n_cells").alias("_nb"))
    j = (
        inter.join(F.broadcast(sa), "user_a")
        .join(F.broadcast(sb), "user_b")
        .select(
            "user_a", "user_b", "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return j.where(F.col("jaccard") >= _TSIM_MIN_J)


def _track_similarity_oracle() -> str:
    ev = _geotagged_events_sql()
    py = cells.grid_y_sql("lat", _TSIM_RES)
    px = cells.grid_x_sql("lon", _TSIM_RES)
    return f"""
        WITH occ AS (
          SELECT DISTINCT user_id, {py} AS row, {px} AS col FROM {ev} _ts0
        ),
        sizes AS (SELECT user_id, COUNT(*) AS n_cells FROM occ GROUP BY user_id),
        inter AS (
          SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS n_inter
          FROM occ a JOIN occ b
            ON a.row = b.row AND a.col = b.col AND a.user_id < b.user_id
          GROUP BY a.user_id, b.user_id
        )
        SELECT i.user_a, i.user_b, i.n_inter,
               ROUND(CAST(i.n_inter AS DOUBLE)
                     / CAST(sa.n_cells + sb.n_cells - i.n_inter AS DOUBLE), 6)
                 AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.user_id = i.user_a
        JOIN sizes sb ON sb.user_id = i.user_b
        WHERE ROUND(CAST(i.n_inter AS DOUBLE)
              / CAST(sa.n_cells + sb.n_cells - i.n_inter AS DOUBLE), 6)
              >= {oracle.dbl(_TSIM_MIN_J)}
    """


# ---------------------------------------------------------------------------
# buffered spatial split

_SPLIT_RES = 5
_SPLIT_FOLDS = 5


def q_spatial_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffered spatial train/test split (the GEOGRAPHIC leakage control;
    the text twin is split_leakage): occupied res-5 cells are hashed into
    folds, fold 0 is TEST, every non-test cell touching a test cell's 3x3
    ring becomes BUFFER (excluded from training — spatial autocorrelation
    leaks across cell borders; Roberts et al. 2017 blocked CV), the rest
    is TRAIN. Outputs per-split doc and cell counts. All joins are on the
    bounded occupied-cell table; docs are labeled with ONE broadcast
    join — the doc table is never shuffled."""
    pages = geotagged_documents(spark, sf_dir)
    n = 1 << _SPLIT_RES
    pts = pages.select(
        F.expr(cells.grid_y_sql("lat", _SPLIT_RES)).alias("row"),
        F.expr(cells.grid_x_sql("lon", _SPLIT_RES)).alias("col"),
    )
    occ = pts.distinct().withColumn(
        "fold",
        F.pmod(
            F.expr(oracle.hash8_sql(f"(row * {n} + col)", oracle.SPARK, salt="fold")),
            F.lit(_SPLIT_FOLDS),
        ),
    )
    test = occ.where(F.col("fold") == 0)
    offs = F.explode(
        F.array(*[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
            for dr in (-1, 0, 1) for dc in (-1, 0, 1)
        ])
    ).alias("o")
    nbrs = (
        test.select(offs, "row", "col")
        .select(
            (F.col("row") + F.col("o.dr")).alias("row"),
            (F.col("col") + F.col("o.dc")).alias("col"),
        )
        .distinct()
    )
    labeled = (
        occ.join(nbrs.withColumn("_near", F.lit(True)), ["row", "col"], "left")
        .select(
            "row", "col",
            F.when(F.col("fold") == 0, "test")
            .when(F.col("_near"), "buffer")
            .otherwise("train")
            .alias("split"),
        )
    )
    docs = pts.join(F.broadcast(labeled), ["row", "col"])
    return docs.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("row", "col").alias("n_cells"),
    )


def _spatial_split_oracle() -> str:
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    n = 1 << _SPLIT_RES
    py = cells.grid_y_sql("lat", _SPLIT_RES)
    px = cells.grid_x_sql("lon", _SPLIT_RES)
    fold = oracle.hash8_sql(f"(row * {n} + col)", oracle.DUCKDB, salt="fold")
    return f"""
        WITH pts AS (SELECT {py} AS row, {px} AS col FROM {docs} _sp0),
        occ AS (
          SELECT row, col, ({fold}) % {_SPLIT_FOLDS} AS fold
          FROM (SELECT DISTINCT row, col FROM pts) _sp1
        ),
        offs AS (SELECT a.i AS dr, b.i AS dc
                 FROM (SELECT unnest([-1, 0, 1]) AS i) a,
                      (SELECT unnest([-1, 0, 1]) AS i) b),
        nbrs AS (
          SELECT DISTINCT t.row + o.dr AS row, t.col + o.dc AS col
          FROM occ t, offs o WHERE t.fold = 0
        ),
        labeled AS (
          SELECT o.row, o.col,
                 CASE WHEN o.fold = 0 THEN 'test'
                      WHEN nb.row IS NOT NULL THEN 'buffer'
                      ELSE 'train' END AS split
          FROM occ o LEFT JOIN nbrs nb
            ON nb.row = o.row AND nb.col = o.col
        )
        SELECT l.split, COUNT(*) AS n_docs,
               COUNT(DISTINCT (p.row, p.col)) AS n_cells
        FROM pts p JOIN labeled l ON l.row = p.row AND l.col = p.col
        GROUP BY l.split
    """


# ---------------------------------------------------------------------------
# zonal statistics

def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (the classic GIS op; the reference's per-label
    NMAD/logstat aggregates are its raster-label cousin — ref
    src/asf_tools/hydrosar/flood_map.py per-label stats): per watershed,
    mean/variance of page value over the pages EXACTLY inside the ring.
    PIP machinery shared with pip_page_counts (cover prune + crossing
    refine); the value joins back on the page key (co-partitioned at
    scale); variance via explicit sum/sumsq algebra — identical text
    both engines, no stddev built-in semantics to reconcile."""
    from .operators.geometry import pip_candidates
    from .sources.polygons import bbox_cover_df, polygon_edges_df, watershed_polygons

    from .functions.spatial import with_cell_col
    from .sources.pages import _with_geotag

    polys = watershed_polygons()
    edges = polygon_edges_df(spark, polys)
    cover = bbox_cover_df(spark, polys, 8)
    # events, not documents: 20x the points at every sf — the zonal means
    # rest on a non-trivial population per zone. fan_out: broadcast PIP
    # keeps the stream side's partitioning, so a single-file scan would
    # run geotag + crossing refine on one core (core/parallel.py)
    from .core.parallel import fan_out

    ev = fan_out(read_table(spark, sf_dir, "events"))
    # 2 consumers in one action (PIP prune/refine + the value join-back):
    # eager, or the whole geotag+cell subtree re-executes per branch
    pings = with_cell_col(
        _with_geotag(ev, F.col("event_id")).drop("hand"), "lat", "lon", 8, "cell_id"
    ).select("event_id", "lat", "lon", "cell_id", "value").localCheckpoint(eager=True)
    hits = (
        pip_candidates(pings, edges, key="event_id", cover=cover)
        .where("inside")
        .join(pings.select("event_id", "value"), "event_id")
    )
    n = F.count(F.lit(1)).cast("double")
    s = F.sum("value")
    s2 = F.sum(F.col("value") * F.col("value"))
    return hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_inside"),
        F.round(s / n, 6).alias("mean_value"),
        F.round(
            F.when(n > 1.0, (s2 - s * s / n) / (n - 1.0)), 9
        ).alias("var_value"),
    )


def _zonal_events_sql() -> str:
    """_geotagged_events_sql + the hash-derived value field (same algebra
    as oracle.synth_value_sql, staged off the _hv hash)."""
    d = oracle.DUCKDB
    base = "event_id, ts, user_id"
    hashes = f"""(
      SELECT {base},
             {oracle.hash8_sql("event_id", d, salt="geo-a")} AS _ha,
             {oracle.hash8_sql("event_id", d, salt="geo-b")} AS _hb,
             {oracle.hash8_sql("event_id", d, salt="geo-c")} AS _hc,
             {oracle.hash8_sql("event_id", d, salt="geo-d")} AS _hd,
             {oracle.hash8_sql("event_id", d, salt="val")} AS _hv
      FROM events
    )"""
    u = f"(_hv % 1000000) / {oracle.dbl(1000000.0)}"
    return f"""(
      SELECT {base},
             {oracle.geotag_lat_from_hashes_sql()} AS lat,
             {oracle.geotag_lon_from_hashes_sql()} AS lon,
             POWER({u}, {oracle.dbl(3.0)}) * {oracle.dbl(2.0)} + {oracle.dbl(0.000001)} AS value
      FROM {hashes} _ze0
    )"""


def _zonal_oracle() -> str:
    from .sources.polygons import pip_hits_ctes_sql

    ctes = pip_hits_ctes_sql(_zonal_events_sql(), "event_id", ["value"])
    return f"""
        WITH {ctes}
        SELECT poly_id, COUNT(*) AS n_inside,
               ROUND(SUM(value) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_value,
               ROUND(CASE WHEN COUNT(*) > 1 THEN
                 (SUM(value * value)
                  - SUM(value) * SUM(value) / CAST(COUNT(*) AS DOUBLE))
                 / (CAST(COUNT(*) AS DOUBLE) - 1.0) END, 9) AS var_value
        FROM hits GROUP BY poly_id
    """


# ---------------------------------------------------------------------------
# vector tiles (clip rings to grid tiles)

_VT_RES = 5


def q_vector_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-tile generation: Sutherland-Hodgman clip of every watershed
    ring against each res-5 tile its bbox covers (the vector twin of
    tile_pyramid; a tile server's cut step). Ring assembly is one
    collect_list per polygon; the bbox->tile fan-out is an in-plan
    explode; the clip is Arrow-batched mapInPandas (numpy per-boundary
    arithmetic). Oracle: an INDEPENDENT pure-python scalar replay
    (sources/polygons.clip_ring_py) emitted as VALUES fresh each build —
    two implementations, one spec, bit-identical IEEE expressions."""
    from .operators.geometry import clip_rings_to_tiles
    from .sources.polygons import polygon_vertices_df, watershed_polygons

    verts = polygon_vertices_df(spark, watershed_polygons())
    return clip_rings_to_tiles(verts, _VT_RES)


def _vector_tiles_oracle() -> str:
    from .sources.polygons import clip_tiles_values_sql, watershed_polygons

    vals = clip_tiles_values_sql(watershed_polygons(), _VT_RES)
    return f"SELECT poly_id, row, col, n_input, n_clip, area FROM {vals} vt"


# ---------------------------------------------------------------------------
# time-decayed tile ranking

_DECAY_RES = 4
_DECAY_HALF_LIFE_DAYS = 7.0
_DECAY_TOP_K = 20


def q_tile_decay_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-cache planning: exponentially time-decayed event mass per
    res-4 cell (half-life 7 days, decayed to the corpus max timestamp),
    top-20 tiles — the freshness-weighted popularity a tile cache
    prewarms by. Decay weights are computed per event from EXACT integer
    microsecond ages (2^(-age/half_life), identical libm exp2/pow text
    both engines), partially aggregated map-side; the rank is a sort
    over the bounded cell table. The 1-row max-ts aggregate broadcasts
    (scalar BNLJ, allowlisted like the other global-moment joins)."""
    ev = _geotagged_events(spark, sf_dir)
    pts = ev.select(
        F.expr(cells.grid_y_sql("lat", _DECAY_RES)).alias("row"),
        F.expr(cells.grid_x_sql("lon", _DECAY_RES)).alias("col"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("_us"),
    )
    bounds = pts.agg(F.max("_us").alias("_max_us"))
    half_us = _DECAY_HALF_LIFE_DAYS * 86400.0 * 1e6
    w = F.pow(F.lit(2.0), -((F.col("_max_us") - F.col("_us")) / F.lit(half_us)))
    ranked = (
        pts.crossJoin(F.broadcast(bounds))
        .select("row", "col", w.alias("_w"))
        .groupBy("row", "col")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("_w"), 6).alias("decayed_mass"),
        )
        .orderBy(F.col("decayed_mass").desc(), "row", "col")
        .limit(_DECAY_TOP_K)
    )
    return ranked


def _tile_decay_oracle() -> str:
    ev = _geotagged_events_sql()
    py = cells.grid_y_sql("lat", _DECAY_RES)
    px = cells.grid_x_sql("lon", _DECAY_RES)
    half_us = _DECAY_HALF_LIFE_DAYS * 86400.0 * 1e6
    return f"""
        WITH pts AS (
          SELECT {py} AS row, {px} AS col, epoch_us(ts) AS _us
          FROM {ev} _td0
        ),
        bounds AS (SELECT MAX(_us) AS _max_us FROM pts),
        wts AS (
          SELECT row, col,
                 POWER(CAST(2.0 AS DOUBLE),
                       -((b._max_us - _us) / {oracle.dbl(half_us)})) AS w
          FROM pts CROSS JOIN bounds b
        )
        SELECT row, col, COUNT(*) AS n_events,
               ROUND(SUM(w), 6) AS decayed_mass
        FROM wts GROUP BY row, col
        ORDER BY decayed_mass DESC, row, col
        LIMIT {_DECAY_TOP_K}
    """


# ---------------------------------------------------------------------------
# per-cell top sources

_TOPSRC_RES = 3
_TOPSRC_K = 3


def q_cell_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regional top content: the top-3 sources per occupied res-3 cell by
    page count (deterministic (count DESC, source) tie-break) — the
    per-region leaderboard every geo dashboard serves. Shape: one
    (cell, source) hash aggregate at event scale, then the rank window
    runs on the AGGREGATED table (bounded by cells x sources, never
    pages)."""
    from pyspark.sql.window import Window

    pages = geotagged_documents(spark, sf_dir)
    cc = (
        pages.select(
            F.expr(cells.grid_y_sql("lat", _TOPSRC_RES)).alias("row"),
            F.expr(cells.grid_x_sql("lon", _TOPSRC_RES)).alias("col"),
            "source",
        )
        .groupBy("row", "col", "source")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    w = Window.partitionBy("row", "col").orderBy(
        F.col("n_pages").desc(), F.col("source")
    )
    return (
        cc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPSRC_K)
        .select("row", "col", "rank", "source", "n_pages")
    )


def _cell_top_sources_oracle() -> str:
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    py = cells.grid_y_sql("lat", _TOPSRC_RES)
    px = cells.grid_x_sql("lon", _TOPSRC_RES)
    return f"""
        WITH cc AS (
          SELECT row, col, source, CAST(COUNT(*) AS BIGINT) AS n_pages
          FROM (SELECT {py} AS row, {px} AS col, source FROM {docs} _ts0) _ts1
          GROUP BY row, col, source
        ),
        ranked AS (
          SELECT row, col, source, n_pages,
                 ROW_NUMBER() OVER (PARTITION BY row, col
                                    ORDER BY n_pages DESC, source) AS rank
          FROM cc
        )
        SELECT row, col, CAST(rank AS INT) AS rank, source, n_pages
        FROM ranked WHERE rank <= {_TOPSRC_K}
    """


# ---------------------------------------------------------------------------
# Hilbert range rollup

_HIL_ORDER = 8


def q_hilbert_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-index range rollup: order-8 Hilbert index per page (the
    locality-superior alternative to the engine's Morton cells —
    consecutive d are ALWAYS grid-adjacent, so d-ranges are contiguous
    map regions; the layout key a 100 TB spatial table would Z-ORDER —
    here H-order — its files by), rolled up into 256-cell d-ranges with
    per-range page counts and d extents. Entirely whole-stage codegen
    (functions/geocode.with_hilbert_col unrolls the 8 rotation levels as
    staged columns — no UDF). Oracle: an INDEPENDENT pure-python replay
    (hashlib geotag + scalar rotate-accumulate Hilbert) emitted as
    per-doc VALUES fresh each build, rolled up by DuckDB itself. Like
    the BPE goldens, the replay is pinned to the sf0.01 gate scale (the
    driver's compare scale) — regenerate-by-rerun if testdata moves."""
    from .functions.geocode import with_hilbert_col

    pages = geotagged_documents(spark, sf_dir)
    h = with_hilbert_col(pages, order=_HIL_ORDER, out="d")
    return (
        h.withColumn("d_range", F.shiftright("d", 8))
        .groupBy("d_range")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
        )
    )


_HILBERT_ORACLE_SF = "/root/testdata/sf0.01/documents.parquet"


def _hilbert_oracle() -> str | None:
    """VALUES oracle replaying the Hilbert encode in pure Python over the
    driver's sf0.01 fixture. Returns None (rows-only fallback) when the
    fixture is absent, matching the simhash64/embedding fixture-pinned
    oracles — a hardcoded read here would otherwise break building ALL
    oracles in any environment without that exact file."""
    import math
    import os

    import pyarrow.parquet as pq

    from .functions.geocode import hilbert_xy2d_py

    if not os.path.exists(_HILBERT_ORACLE_SF):
        return None
    n = 1 << _HIL_ORDER
    doc_ids = pq.read_table(
        _HILBERT_ORACLE_SF, columns=["doc_id"]
    )["doc_id"].to_pylist()
    rows = []
    for did in doc_ids:
        lat, lon = oracle.geotag_py(int(did))
        x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        y = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
        rows.append(hilbert_xy2d_py(_HIL_ORDER, x, y))
    vals = ", ".join(f"(CAST({d} AS BIGINT))" for d in rows)
    return f"""
        SELECT d >> 8 AS d_range, COUNT(*) AS n_pages,
               MIN(d) AS min_d, MAX(d) AS max_d
        FROM (VALUES {vals}) AS t(d)
        GROUP BY d >> 8
    """


# ---------------------------------------------------------------------------
# fence boundary distance

_FDIST_MARGIN = 2.0


def q_fence_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-fence boundary distance per page within a 2-degree search
    band: candidates come from the MARGIN-INFLATED bbox cover (equi
    broadcast join — never points x all fences), the clamped-projection
    point-to-segment distance runs in codegen over the broadcast edge
    table, and the per-page nearest fence is a deterministic
    (dist, poly_id) window pick. Pages outside every inflated bbox are
    ABSENT (documented band semantics — the proximity query, not a
    global transform). Distance is to the RING, so interior pages get
    boundary distance (compose with pip for inside-ness)."""
    from pyspark.sql.window import Window

    from .core import cells as C
    from .operators.geometry import boundary_distance
    from .sources.polygons import polygon_edges_df, watershed_polygons

    polys = watershed_polygons()
    edges = polygon_edges_df(spark, polys)
    m = _FDIST_MARGIN
    cover_rows = [
        (int(p["poly_id"]), int(c))
        for p in polys
        for c in C.cover_bbox(
            float(p["ring"][:, 1].min()) - m, float(p["ring"][:, 0].min()) - m,
            float(p["ring"][:, 1].max()) + m, float(p["ring"][:, 0].max()) + m, 8,
        )
    ]
    cover = local_frame(spark, cover_rows, "poly_id int, cell_id long")
    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    cand = (
        pages.select("doc_id", "lat", "lon", "cell_id")
        .join(F.broadcast(cover), "cell_id")
        .select("poly_id", "doc_id", "lat", "lon")
    )
    d = boundary_distance(cand, edges, key="doc_id")
    w = Window.partitionBy("doc_id").orderBy("dist_deg", "poly_id")
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", F.col("poly_id").alias("nearest_poly"), "dist_deg")
    )


def _fence_distance_oracle() -> str:
    from .core import cells as C
    from .sources.polygons import edges_values_sql, watershed_polygons

    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    polys = watershed_polygons()
    edges = edges_values_sql(polys)
    m = _FDIST_MARGIN
    cover_rows = ", ".join(
        f"({int(p['poly_id'])}, CAST({int(c)} AS BIGINT))"
        for p in polys
        for c in C.cover_bbox(
            float(p["ring"][:, 1].min()) - m, float(p["ring"][:, 0].min()) - m,
            float(p["ring"][:, 1].max()) + m, float(p["ring"][:, 0].max()) + m, 8,
        )
    )
    return f"""
        WITH edges AS (SELECT * FROM {edges} e0),
        cover AS (SELECT * FROM (VALUES {cover_rows}) AS t(poly_id, cell_id)),
        cand AS (
          SELECT cv.poly_id, p.doc_id, p.lat, p.lon
          FROM {docs} p JOIN cover cv ON cv.cell_id = p.cell_id
        ),
        seg AS (
          SELECT c.poly_id, c.doc_id,
                 CASE WHEN (e.x2 - e.x1) * (e.x2 - e.x1)
                           + (e.y2 - e.y1) * (e.y2 - e.y1) > 0.0
                      THEN ((c.lon - e.x1) * (e.x2 - e.x1)
                            + (c.lat - e.y1) * (e.y2 - e.y1))
                           / ((e.x2 - e.x1) * (e.x2 - e.x1)
                              + (e.y2 - e.y1) * (e.y2 - e.y1))
                      ELSE 0.0 END AS t,
                 c.lon, c.lat, e.x1, e.y1, e.x2, e.y2
          FROM cand c JOIN edges e ON e.poly_id = c.poly_id
        ),
        clamped AS (
          SELECT poly_id, doc_id,
                 lon - (x1 + LEAST(GREATEST(t, 0.0), 1.0) * (x2 - x1)) AS dx,
                 lat - (y1 + LEAST(GREATEST(t, 0.0), 1.0) * (y2 - y1)) AS dy
          FROM seg
        ),
        dist AS (
          -- dx*dx, not POWER(dx, 2): libm pow may differ from multiply in
          -- the last ulp, and the Spark side multiplies
          SELECT poly_id, doc_id, SQRT(dx * dx + dy * dy) AS d FROM clamped
        ),
        per_poly AS (
          SELECT poly_id, doc_id, ROUND(MIN(d), 6) AS dist_deg
          FROM dist GROUP BY poly_id, doc_id
        ),
        ranked AS (
          SELECT doc_id, poly_id AS nearest_poly, dist_deg,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY dist_deg, poly_id) AS rn
          FROM per_poly
        )
        SELECT doc_id, nearest_poly, dist_deg FROM ranked WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# per-source geographic spread

_SPREAD_RES = 5


def q_domain_geo_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source geographic footprint: occupied res-5 cells, Shannon
    spatial entropy (H = ln n - sum(c ln c)/n — the one-pass algebraic
    form, so no per-cell p=c/n division feeds the cross-engine sum), and
    the top-cell concentration share. The webtext x geo blend: is a
    source geographically diffuse (global CDN crawl) or pinned (a city
    portal)? Two hash aggregates, both keyed well below event scale."""
    from .functions.spatial import with_cell_col

    pages = geotagged_documents(spark, sf_dir)
    cc = (
        with_cell_col(pages, "lat", "lon", _SPREAD_RES, "_cell")
        .groupBy("source", "_cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    slc = F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
    return cc.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.log(n) - slc / n, 6).alias("entropy"),
        F.round(F.max("c").cast("double") / n, 6).alias("top_cell_share"),
    )


def _domain_spread_oracle() -> str:
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    cell = cells.morton_cell_sql("lat", "lon", _SPREAD_RES)
    return f"""
        WITH cc AS (
          SELECT source, {cell} AS _cell, CAST(COUNT(*) AS BIGINT) AS c
          FROM {docs} _ds0 GROUP BY 1, 2
        )
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               ROUND(LN(CAST(SUM(c) AS DOUBLE))
                     - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)))
                       / CAST(SUM(c) AS DOUBLE), 6) AS entropy,
               ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
                 AS top_cell_share
        FROM cc GROUP BY source
    """


def _oracle_sqls() -> dict[str, str]:
    out = {
        "quadkey_rollup": _quadkey_oracle(),
        "geohash_rollup": _geohash_oracle(),
        "track_stats": _track_stats_oracle(),
        "od_matrix": _od_matrix_oracle(),
        "trip_segments": _trip_segments_oracle(),
        "colocation_pairs": _colocation_oracle(),
        "bearing_rose": _bearing_oracle(),
        "geofence_events": _geofence_oracle(),
        "emerging_hotspots": _emerging_oracle(),
        "gi_star_spacetime": _gi_spacetime_oracle(),
        "polygon_raster": _polygon_raster_oracle(),
        "geofence_dwell": _geofence_dwell_oracle(),
        "vector_tiles": _vector_tiles_oracle(),
        "zonal_stats": _zonal_oracle(),
        "spatial_split": _spatial_split_oracle(),
        "track_similarity": _track_similarity_oracle(),
        "domain_geo_spread": _domain_spread_oracle(),
        "fence_distance": _fence_distance_oracle(),
        "cell_top_sources": _cell_top_sources_oracle(),
        "tile_decay_rank": _tile_decay_oracle(),
    }
    # fixture-pinned VALUES oracle: None (absent fixture) -> rows-only
    hil = _hilbert_oracle()
    if hil is not None:
        out["hilbert_rollup"] = hil
    return out
