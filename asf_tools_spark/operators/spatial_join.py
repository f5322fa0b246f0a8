"""Spatial joins: page x polygon broadcast join + PIP refine; kNN via
cell-ring expansion.

Spark mapping of the reference's nested-loop geometry joins
(ref: src/asf_tools/vector.py:15-29, SURVEY §2.3 J1/J2) and covering-tile
lookups (ref: generate_worldcover_tiles.py:143-188, J5):

1. build side: polygon layer -> covering cells at the index resolution
   (driver-side, layers are small) -> an Arrow ``LocalRelation``
   (``core.io.local_frame``, so no execution starts a Python worker) ->
   ``broadcast`` DataFrame;
2. probe side: pages carry ``cell_id`` (pure JVM expression);
3. equi-join on cell_id (BroadcastHashJoin — no shuffle of the big side);
4. exact refine. Boxes: every cover cell carries its box bounds and the
   inclusive box test is the join condition, so each page is probed once.
   Rings: vectorized crossing-number point-in-polygon in an Arrow-batched
   pandas UDF (only rows that survived the cell filter).

At 10^12 rows the only wide exchange is the optional final aggregate. A
caller's ``count``/``sum``/``avg`` per key needs no salt for hotspot
mega-cells: Spark's map-side partial aggregate already cuts every key to
one row per map task before the exchange, so a salt would only add a
second exchange (measured on the flagship, 4M pages on a 4-core host at
local[4]: ~0.06 s of ~0.8 s per run).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType

from ..core import cells, geometry
from ..core.io import local_frame


_BOUNDS = ("min_lat", "min_lon", "max_lat", "max_lon")


def polygon_cover_df(spark, polygons: list[dict], res: int) -> DataFrame:
    """The broadcast build side: one row per covering cell of each polygon.

    Rings give (poly_id, cell_id). Boxes give (poly_id, cell_id, min_lat,
    min_lon, max_lat, max_lon): each cover cell carries its box's bounds,
    so the join itself can apply the exact box test."""
    if "ring" in polygons[0]:
        rows = [
            (int(p["poly_id"]), int(c))
            for p in polygons for c in geometry.polygon_cover_cells(p["ring"], res)
        ]
        return local_frame(spark, rows, "poly_id int, cell_id long")
    rows = [
        (int(p["poly_id"]), int(c), *(float(p[b]) for b in _BOUNDS))
        for p in polygons for c in cells.cover_bbox(*(p[b] for b in _BOUNDS), res)
    ]
    return local_frame(
        spark, rows, "poly_id int, cell_id long, " + ", ".join(f"{b} double" for b in _BOUNDS)
    )


def _pip_udf(polygons: list[dict]):
    """Arrow-batched exact point-in-polygon against a broadcast ring dict."""
    rings = {int(p["poly_id"]): np.asarray(p["ring"], dtype=np.float64) for p in polygons}

    @F.pandas_udf(BooleanType())
    def contains(lat: pd.Series, lon: pd.Series, poly_id: pd.Series) -> pd.Series:
        out = np.zeros(len(lat), dtype=bool)
        la, lo, pid = lat.to_numpy(), lon.to_numpy(), poly_id.to_numpy()
        for p in np.unique(pid):
            sel = pid == p
            out[sel] = geometry.points_in_ring(la[sel], lo[sel], rings[int(p)])
        return pd.Series(out)

    return contains


def spatial_join_polygons(
    pages: DataFrame,
    polygons: list[dict],
    res: int = 8,
    how: str = "inner",
) -> DataFrame:
    """pages x polygon-layer join (J2 generalized): one output row per
    (page, containing polygon). ``how='left_semi'`` reproduces the boolean
    existence test of ref vector.py:15-19 (J1).

    Boxes: one BroadcastHashJoin on cell_id against the cover cells, each
    carrying its box bounds; the inclusive box test is the join condition.
    Output: poly_id, cell_id, then the other page columns. Rings: the cover
    join, then the point-in-polygon UDF; output: cell_id, the other page
    columns, poly_id."""
    spark = pages.sparkSession
    cover = F.broadcast(polygon_cover_df(spark, polygons, res))
    if "ring" in polygons[0]:
        refined = pages.join(cover, "cell_id", "inner").where(
            _pip_udf(polygons)(F.col("lat"), F.col("lon"), F.col("poly_id"))
        )
    else:
        # boxes are SQL-expressible: the inclusive box test is the condition
        # of the cell_id BroadcastHashJoin, so each page is probed once and
        # the refine stays JVM-side
        in_box = (
            (F.col("lat") >= F.col("min_lat")) & (F.col("lat") <= F.col("max_lat"))
            & (F.col("lon") >= F.col("min_lon")) & (F.col("lon") <= F.col("max_lon"))
        )
        refined = pages.join(cover, (pages["cell_id"] == cover["cell_id"]) & in_box, "inner").select(
            cover["poly_id"], pages["cell_id"], *[pages[c] for c in pages.columns if c != "cell_id"]
        )
    if how == "left_semi":
        return pages.join(refined.select("cell_id", "lat", "lon").distinct(), ["cell_id", "lat", "lon"], "left_semi")
    return refined


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance (km) as a pure Catalyst expression."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) ** 2
    return 2.0 * 6371.0088 * F.asin(F.sqrt(a))


def knn_join(
    points: DataFrame,
    targets: list[dict],
    k: int = 3,
    res: int = 6,
    max_ring: int = 3,
    point_key: str = "url",
) -> DataFrame:
    """k nearest targets per point via cell-ring expansion (J5 at k>0).

    targets: small list [{target_id, lat, lon}]. Build side: every target is
    replicated into all cells within ``max_ring`` Chebyshev rings of its own
    cell (broadcast). Probe side joins on cell_id, computes exact haversine,
    and keeps the k nearest per point. Points farther than ``max_ring``
    cells from every target get no rows — ring coverage is the recall knob,
    exactly like the reference's covering-tile lookup generalized to k>0.
    """
    spark = points.sparkSession
    rows = []
    for t in targets:
        c = int(cells.encode(np.array([t["lat"]]), np.array([t["lon"]]), res)[0])
        for cc in cells.k_ring(c, max_ring):
            rows.append((int(t["target_id"]), float(t["lat"]), float(t["lon"]), int(cc)))
    ringed = F.broadcast(
        local_frame(spark, rows, "target_id int, t_lat double, t_lon double, cell_id long")
    )
    from ..functions.spatial import with_cell_col

    pts = with_cell_col(points, "lat", "lon", res, out="_knn_cell")
    joined = pts.join(ringed, pts["_knn_cell"] == ringed["cell_id"], "inner").drop("cell_id")
    dist = haversine_km(F.col("lat"), F.col("lon"), F.col("t_lat"), F.col("t_lon"))
    from pyspark.sql.window import Window

    w = Window.partitionBy(point_key).orderBy(F.col("dist_km").asc(), F.col("target_id").asc())
    return (
        joined.withColumn("dist_km", dist)
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
        .drop("_knn_cell", "t_lat", "t_lon")
    )


def distance_band_join(
    points: DataFrame,
    radius_km: float,
    res: int,
    key: str = "doc_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """All pairs of points within ``radius_km`` great-circle km — the
    distance-band join (DBSCAN's eps-neighborhood / spatial-weights-by-
    distance primitive; J5's band sibling: kNN bounds the COUNT, this
    bounds the RADIUS).

    Never all-pairs: each point lands in its res-level grid cell; the
    LEFT side explodes the 3x3 neighbor offsets (constant fan-out) and
    ONE equi-join on (row, col) against the unexploded side enumerates
    only co-located candidates; the exact haversine refine runs on those.
    COVERAGE PRECONDITION (caller picks res): any two points within
    radius_km must differ by < 1 cell in both axes, i.e.
    radius_km <= 111.19 * min(180/2^res, (360/2^res) * cos(lat_max)).
    The registry row documents its margin; no antimeridian wraparound
    (the synthetic corpus is bounded to lon [-175, 175]).

    Each unordered pair is found twice (a exploded onto b's cell and
    vice versa); ``key_a < key_b`` keeps exactly one. At 10^12 pages the
    exchange is the (row, col) hash join; skewed mega-cells are the
    same cells hotspot_clusters bounds — the candidate set within a
    cell is quadratic in that CELL's population only, which is the
    operator's intrinsic output bound (a dense clump genuinely has that
    many qualifying pairs).
    """
    from ..core import cells as C

    offs = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr in (-1, 0, 1) for dc in (-1, 0, 1)
    ])
    base = points.select(
        F.col(key), F.col(lat).alias("_lat"), F.col(lon).alias("_lon"),
        F.expr(C.grid_y_sql(lat, res)).alias("_gy"),
        F.expr(C.grid_x_sql(lon, res)).alias("_gx"),
    )
    left = (
        base.withColumn("_o", F.explode(offs))
        .select(
            F.col(key).alias("key_a"),
            F.col("_lat").alias("lat_a"), F.col("_lon").alias("lon_a"),
            (F.col("_gy") + F.col("_o.dr")).alias("_gy"),
            (F.col("_gx") + F.col("_o.dc")).alias("_gx"),
        )
    )
    right = base.select(
        F.col(key).alias("key_b"),
        F.col("_lat").alias("lat_b"), F.col("_lon").alias("lon_b"),
        "_gy", "_gx",
    )
    dist = haversine_km(
        F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
    )
    return (
        left.join(right, ["_gy", "_gx"])
        .where(F.col("key_a") < F.col("key_b"))
        .withColumn("dist_km", dist)
        .where(F.col("dist_km") <= F.lit(float(radius_km)))
        .select("key_a", "key_b", F.round("dist_km", 4).alias("dist_km"))
    )
