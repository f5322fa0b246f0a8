"""Wave-3 query registry: the raster CORE under the DuckDB oracle.

Round-1 verdict: W3 labeling, W1 slope, A11 segment areas, P4/P5 threshold
classify and A12 EM were pytest-verified only — these are the operators the
reference tests hardest (ref tests/hydrosar/test_water_map.py:41-66 golden
raster; test_threshold.py:6-10). This module gives each a registry row
whose result the driver compares row-for-row against an ANSI-SQL oracle:

- the dense synthetic grid is emitted by one shared emitter in BOTH dialects
  (Spark expression tree / DuckDB SQL), values rounded to 6dp before any
  threshold per the repo parity rule;
- connected components get a recursive-CTE min-reachability oracle (exact,
  feasible at the 48x48 oracle scale; the Spark side is the production
  tile+merge operator);
- EM thresholds compare against the reference's golden fixture values
  (ref tests/hydrosar/data/em_thresholds.npz re-expressed in
  tests/fixtures/em_thresholds.parquet) as literal rows.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.fuzzy_ops import slope_magnitude_col
from .operators.labeling import label_connected, segment_areas

_H, _W = 48, 48
_LABEL_TILE = (16, 16)  # 3x3 tiles -> real cross-tile merges at 48x48
_FIXTURES = Path(__file__).resolve().parent.parent / "tests" / "fixtures"

# ref water_map.py goldens (tests/hydrosar/conftest.py:12-13 transform)
_EM_SCALING = 8.732284197109262

# hillshade constants (GDAL defaults): az 315 / alt 45 / pixel 30 m; the
# zen/az trig factors are evaluated ONCE in python so both engines consume
# the identical double literal (repr round-trips exactly)
_HS_PIXEL = 30.0
_HS_COS_ZEN = float(np.cos(np.radians(90.0 - 45.0)))
_HS_SIN_ZEN = float(np.sin(np.radians(90.0 - 45.0)))
_HS_AZ_MATH = float(np.radians(360.0 - 315.0 + 90.0))


def _grid_df(spark: SparkSession) -> DataFrame:
    """Dense deterministic 48x48 grid: blobby transcendental field (rounded
    6dp for cross-engine parity) + a modular validity mask."""
    df = spark.range(_H * _W).select(
        (F.col("id") / _W).cast("int").alias("row"),
        (F.col("id") % _W).cast("int").alias("col"),
    )
    v = F.round(
        F.sin(F.col("row") * F.lit(0.35)) * F.cos(F.col("col") * F.lit(0.21))
        + F.sin((F.col("row") + F.col("col")) * F.lit(0.13)),
        6,
    )
    valid = ((F.col("row") * 31 + F.col("col") * 17) % 11) != 0
    return df.select("row", "col", v.alias("v"), valid.alias("valid"))


def _grid_sql() -> str:
    """The DuckDB twin of :func:`_grid_df` (bare literals are DOUBLE in
    DuckDB; the Spark side uses F.lit floats, so no DECIMAL hazard)."""
    return f"""(
      SELECT row, col,
             ROUND(SIN(row * 0.35) * COS(col * 0.21) + SIN((row + col) * 0.13), 6) AS v,
             ((row * 31 + col * 17) % 11) <> 0 AS valid
      FROM (
        SELECT CAST(id // {_W} AS INT) AS row, CAST(id % {_W} AS INT) AS col
        FROM generate_series(0, {_H * _W - 1}) t(id)
      )
    )"""


_WATER_THR = -0.5


def q_threshold_water_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5 (ref water_map.py:312-313 threshold classify; :149-157
    format_raster_data): water = v <= thr AND valid, padded/invalid -> 255,
    else uint8 0/1."""
    g = _grid_df(spark)
    water = (F.col("v") <= F.lit(_WATER_THR)) & F.col("valid")
    formatted = F.when(~F.col("valid"), 255).otherwise(water.cast("int"))
    return g.select("row", "col", formatted.alias("water"))


def q_slope_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (ref water_map.py:93-97): np.gradient-along-rows slope in degrees
    via window lead/lag (central differences inside, one-sided at edges)."""
    g = _grid_df(spark).select("row", "col", F.col("v").alias("value"))
    out = slope_magnitude_col(g, "value", pixel_size=30.0)
    return out.select("row", "col", F.round("slope", 6).alias("slope"))


def q_hillshade_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn (1981) hillshade over the synthetic DEM-ish grid — the GDAL
    `gdaldem hillshade` companion to W1 slope (the reference's DEM stack
    consumes GDAL derivatives; slope half is ref water_map.py:93-97).
    The Horn derivatives come from one tile+halo pass (a numpy kernel
    per 128x128 tile with its one-cell ring; no BETWEEN self-join/BNLJ);
    interior cells only. Oracle replays the stencil + closed form in SQL;
    the azimuth/zenith trig factors are shared python-double literals,
    and the closed form stays a Spark expression, so the only per-row
    transcendentals are the same ATAN/SIN/COS/ATAN2 tree both engines
    evaluate (rounded 6dp per the parity rule)."""
    from .operators.fuzzy_ops import hillshade_horn

    g = _grid_df(spark).select("row", "col", F.col("v").alias("value"))
    out = hillshade_horn(g, "value", pixel_size=_HS_PIXEL)
    return out.select("row", "col", F.round("hillshade", 6).alias("hillshade"))


def q_aspect_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`gdaldem aspect` over the same DEM-ish grid — compass azimuth of
    steepest descent from the SAME Horn stencil hillshade rides
    (operators.fuzzy_ops.horn_derivatives: one tile+halo pass; no BNLJ).
    Exactly-flat cells (both Horn derivatives 0.0 — an exact double
    test, identical in both engines) get the -1.0 sentinel, as GDAL
    emits nodata. Oracle replays the stencil + closed form over the
    shared CTE text."""
    from .operators.fuzzy_ops import aspect_horn

    g = _grid_df(spark).select("row", "col", F.col("v").alias("value"))
    out = aspect_horn(g, "value", pixel_size=_HS_PIXEL)
    return out.select("row", "col", F.round("aspect", 6).alias("aspect"))


def _water_grid(spark: SparkSession) -> DataFrame:
    g = _grid_df(spark)
    return g.select(
        "row", "col", ((F.col("v") <= F.lit(_WATER_THR)) & F.col("valid")).alias("water")
    )


def _canonicalize(labeled: DataFrame) -> DataFrame:
    """Canonical relabel: component id = min(row*W+col) over the component,
    so ids are engine-independent — ONE definition for every grid query."""
    pid = F.col("row").cast("long") * _W + F.col("col")
    comp = labeled.groupBy("label").agg(F.min(pid).alias("comp_id"))
    return labeled.join(comp, "label")


def _canonical_labels(spark: SparkSession) -> DataFrame:
    labeled = label_connected(_water_grid(spark), "water", _LABEL_TILE)
    return _canonicalize(labeled).select("row", "col", "comp_id")


def q_grid_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (ref water_map.py:170,352; flood_map.py:265 — skimage/ndimage
    label, connectivity=2): per-tile pandas labeling + cross-tile union-find
    merge, canonicalized to min-pixel-id components."""
    return _canonical_labels(spark)


def q_segment_areas_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (ref water_map.py:118 np.bincount of segments): pixel count per
    connected component."""
    return segment_areas(
        _canonical_labels(spark).withColumnRenamed("comp_id", "label")
    ).select(F.col("label").alias("comp_id"), "area")


def q_label_bboxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (ref flood_map.py:266 ndimage.find_objects): per-component
    bounding boxes — groupBy(label).agg(min/max row/col) over the canonical
    connected components."""
    return _canonical_labels(spark).groupBy("comp_id").agg(
        F.min("row").alias("min_row"), F.max("row").alias("max_row"),
        F.min("col").alias("min_col"), F.max("col").alias("max_col"),
    )


_HOLE_MOD = 37  # scattered single-pixel NaN holes: (row*7+col*13) % 37 == 0


def q_label_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector bridge: per-component boundary extraction — a
    labeled pixel is BOUNDARY if any 4-neighbor is missing (non-water or
    off-grid) or carries a different label (the marching-squares edge
    set; ref flood_map's perimeter reasoning over ndimage labels).
    Scatter shape: constant 4-fan offset explode + ONE left equi-join
    back to the label table + a per-component rollup — never a dense
    neighborhood window. Interior = cells - boundary."""
    labels = _canonical_labels(spark)
    offs = F.explode(
        F.array(*[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
            for dr, dc in ((-1, 0), (1, 0), (0, -1), (0, 1))
        ])
    ).alias("o")
    probes = labels.select(offs, "row", "col", "comp_id").select(
        "row", "col", "comp_id",
        (F.col("row") + F.col("o.dr")).alias("nrow"),
        (F.col("col") + F.col("o.dc")).alias("ncol"),
    )
    nb = labels.select(
        F.col("row").alias("nrow"), F.col("col").alias("ncol"),
        F.col("comp_id").alias("n_comp"),
    )
    flagged = (
        probes.join(nb, ["nrow", "ncol"], "left")
        .groupBy("row", "col", "comp_id")
        .agg(
            F.max(
                F.when(F.col("n_comp").isNull() | (F.col("n_comp") != F.col("comp_id")), 1)
                .otherwise(0)
            ).alias("is_boundary")
        )
    )
    return flagged.groupBy("comp_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("is_boundary").cast("long").alias("n_boundary"),
        (F.count(F.lit(1)) - F.sum("is_boundary")).cast("long").alias("n_interior"),
    )


def q_gaussian_infill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (ref hand/calculate.py:25-37 fill_nan / astropy
    interpolate_replace_nans): Gaussian-kernel weighted-mean NaN infill via
    tiling.halo_fixpoint rounds of the core kernel pass over each tile and
    its 4-sigma halo. Holes are scattered single pixels (density 1/37), so
    ONE round fills everything and stops, and the fixpoint equals the
    single-pass SQL oracle (join against the kernel offsets, Σw·v/Σw over
    non-NaN neighbors)."""
    from .operators.regrid import fill_nan_distributed

    g = _grid_df(spark)
    hole = ((F.col("row") * 7 + F.col("col") * 13) % _HOLE_MOD) == 0
    grid = g.select(
        "row", "col",
        F.when(hole, F.lit(float("nan"))).otherwise(F.col("v")).alias("value"),
    )
    out = fill_nan_distributed(grid, (_H, _W), stddev=1.0)
    return out.select("row", "col", F.round("value", 6).alias("value"))


def q_mask_union_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/J6 (ref water_map.py:350 np.logical_or; flood_map.py:255
    known-water overlay): full-outer union of two pixel masks with
    bool_or — the combine step of every dual-pol / known-water merge."""
    g = _grid_df(spark)
    m1 = g.where((F.col("v") <= F.lit(_WATER_THR)) & F.col("valid")).select("row", "col")
    m2 = g.where((F.col("row") * 5 + F.col("col") * 3) % 17 == 0).select("row", "col")
    return (
        m1.withColumn("src", F.lit(1))
        .unionByName(m2.withColumn("src", F.lit(2)))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("n_sources"))
    )


def q_scaling_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (ref water_map.py:300): global Gaussian scaling
    256 / (mean + 3*std) over the scene — one scalar aggregate row."""
    _register_li(spark, sf_dir)
    g = F.log10("l_extendedprice") + 30.0
    return (
        spark.table("lineitem").where(F.col("l_extendedprice") > 0)
        .select(g.alias("g"))
        .agg(F.round(256.0 / (F.avg("g") + 3.0 * F.stddev_pop("g")), 6).alias("scaling"))
    )


def _register_li(spark: SparkSession, sf_dir: str) -> None:
    from .core.io import register_views

    register_views(spark, sf_dir, "lineitem")


def q_flood_depth_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full flood-depth plan (ref flood_map.py:183-331 via
    plans.flood_map.make_flood_map_grid): water mask -> distributed
    labeling -> per-label 'numpy' estimator (nanmean + 3*nanstd inside the
    grouped UDF) -> depth = max(wh - hand, 0). The oracle recomputes the
    same thing as AVG + 3*STDDEV_POP per recursive-CTE component. Labels
    canonicalized to min pixel id."""
    from .plans.flood_map import make_flood_map_grid

    g = _grid_df(spark)
    water = g.where((F.col("v") <= F.lit(_WATER_THR)) & F.col("valid")).select("row", "col")
    vv_valid = g.select("row", "col", "valid")
    hand_df = g.select("row", "col", (F.col("v") + 2.5).alias("value"))
    out = make_flood_map_grid(water, None, vv_valid, hand_df, _LABEL_TILE, estimator="numpy")
    return _canonicalize(out).select(
        "row", "col", "comp_id",
        F.round("water_height", 6).alias("water_height"),
        F.round("flood_depth", 6).alias("flood_depth"),
    )


_ACC_THR = 20.0


def _flow_df(spark: SparkSession):
    from .operators.hand import flow_direction

    g = _grid_df(spark).select("row", "col", F.col("v").alias("elev"))
    return flow_direction(g)


def q_flow_direction_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6a (ref hand/calculate.py:119-120 pysheds flowdir): steepest-descent
    D8 direction over the deterministic grid; sinks keep NULL targets.
    Elevations are pre-rounded (6dp), so the drop comparisons are identical
    IEEE arithmetic in both engines."""
    return _flow_df(spark).select("row", "col", "to_row", "to_col")


def q_flow_accum_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6b (ref calculate.py:122-123 accumulation): cells draining through
    each cell (incl. itself) — tile-local forest sums on the Spark side,
    recursive path closure + count on the oracle side."""
    from .operators.hand import flow_accumulation

    return flow_accumulation(_flow_df(spark)).select(
        "row", "col", F.col("acc").cast("double").alias("acc")
    )


def q_hand_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6c (ref calculate.py:129 compute_hand): height above the first
    drainage cell (acc > thr) on each cell's flow path; never-draining
    cells stay NULL."""
    from .operators.hand import compute_hand

    flow = _flow_df(spark).localCheckpoint(eager=True)
    out = compute_hand(flow, acc_threshold=_ACC_THR)
    return out.select("row", "col", F.round("hand", 6).alias("hand"))


def _em_expected() -> list[tuple[int, float]]:
    exp = pd.read_parquet(_FIXTURES / "em_thresholds.parquet")
    return [(int(r.tile_id), round(float(r.threshold), 6)) for r in exp.itertuples()]


def q_em_fixture_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 (ref threshold.py:40-133 EM fit; water_map.py:84-90): per-tile EM
    threshold on the reference's golden backscatter tiles (log10+30
    transform per ref tests/hydrosar/conftest.py:12-13), via grouped-map
    applyInPandas — compared against the golden threshold rows."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from .core.em import em_threshold

    tiles = spark.read.parquet(str(_FIXTURES / "em_tiles.parquet"))
    schema = StructType([
        StructField("tile_id", LongType()),
        StructField("threshold", DoubleType()),
    ])

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = np.full((100, 100), np.nan)
        mask = np.ones((100, 100), dtype=bool)
        vals[pdf["row"], pdf["col"]] = pdf["value"]
        mask[pdf["row"], pdf["col"]] = ~pdf["valid"].to_numpy()
        tile = np.ma.MaskedArray(vals, mask=mask)
        with np.errstate(divide="ignore", invalid="ignore"):
            tile = np.ma.log10(tile) + 30.0
        thr = em_threshold(np.ma.around(tile * _EM_SCALING).astype(int))
        return pd.DataFrame({
            "tile_id": [int(pdf["tile_id"].iloc[0])],
            "threshold": [round(float(thr), 6)],
        })

    return tiles.groupBy("tile_id").applyInPandas(fit, schema=schema)


def _oracle_sqls() -> dict[str, str]:
    grid = _grid_sql()
    water = f"""(
      SELECT row, col, (v <= {_WATER_THR} AND valid) AS water FROM {grid} g
    )"""
    labels = f"""(
      WITH RECURSIVE wet AS (
        SELECT row, col, CAST(row * {_W} + col AS BIGINT) AS pid
        FROM {water} w WHERE water
      ),
      e AS (
        SELECT a.pid AS src, b.pid AS dst
        FROM wet a JOIN wet b
          ON ABS(a.row - b.row) <= 1 AND ABS(a.col - b.col) <= 1
         AND a.pid <> b.pid
      ),
      reach(pid, r) AS (
        SELECT pid, pid FROM wet
        UNION
        SELECT reach.pid, e.dst FROM reach JOIN e ON e.src = reach.r
      )
      SELECT w.row, w.col, m.comp_id
      FROM wet w JOIN (SELECT pid, MIN(r) AS comp_id FROM reach GROUP BY pid) m
        ON w.pid = m.pid
    )"""
    sqls: dict[str, str] = {}
    sqls["threshold_water_map"] = f"""
        SELECT row, col,
               CASE WHEN NOT valid THEN 255
                    WHEN v <= {_WATER_THR} THEN 1 ELSE 0 END AS water
        FROM {grid} g
    """
    sqls["slope_rows"] = f"""
        WITH d AS (
          SELECT row, col, v AS value,
                 LAG(v)  OVER (PARTITION BY col ORDER BY row) AS prev,
                 LEAD(v) OVER (PARTITION BY col ORDER BY row) AS nxt
          FROM {grid} g
        )
        SELECT row, col,
               ROUND(ATAN(ABS(
                 CASE WHEN prev IS NULL AND nxt IS NULL THEN 0.0
                      WHEN prev IS NULL THEN nxt - value
                      WHEN nxt IS NULL THEN value - prev
                      ELSE (nxt - prev) / 2.0 END
               ) / 30.0) / 3.141592653589793 * 180.0, 6) AS slope
        FROM d
    """
    sqls["grid_labels"] = f"SELECT row, col, comp_id FROM {labels} l"
    sqls["label_boundaries"] = f"""
        WITH lab AS (SELECT row, col, comp_id FROM {labels} l0),
        offs AS (SELECT * FROM (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) AS t(dr, dc)),
        flagged AS (
          SELECT a.row, a.col, a.comp_id,
                 MAX(CASE WHEN b.comp_id IS NULL
                               OR b.comp_id <> a.comp_id THEN 1 ELSE 0 END)
                   AS is_boundary
          FROM lab a CROSS JOIN offs o
          LEFT JOIN lab b ON b.row = a.row + o.dr AND b.col = a.col + o.dc
          GROUP BY a.row, a.col, a.comp_id
        )
        SELECT comp_id, COUNT(*) AS n_cells,
               CAST(SUM(is_boundary) AS BIGINT) AS n_boundary,
               CAST(COUNT(*) - SUM(is_boundary) AS BIGINT) AS n_interior
        FROM flagged GROUP BY comp_id
    """
    sqls["segment_areas_grid"] = f"""
        SELECT comp_id, COUNT(*) AS area FROM {labels} l GROUP BY comp_id
    """
    sqls["label_bboxes"] = f"""
        SELECT comp_id, MIN(row) AS min_row, MAX(row) AS max_row,
               MIN(col) AS min_col, MAX(col) AS max_col
        FROM {labels} l GROUP BY comp_id
    """
    sqls["mask_union_grid"] = f"""
        WITH m1 AS (SELECT row, col FROM {grid} g WHERE v <= {_WATER_THR} AND valid),
        m2 AS (SELECT row, col FROM {grid} g WHERE (row * 5 + col * 3) % 17 = 0),
        u AS (SELECT row, col FROM m1 UNION ALL SELECT row, col FROM m2)
        SELECT row, col, COUNT(*) AS n_sources FROM u GROUP BY row, col
    """
    sqls["scaling_factor"] = """
        SELECT ROUND(256.0 / (AVG(LOG10(l_extendedprice) + 30.0)
                              + 3.0 * STDDEV_POP(LOG10(l_extendedprice) + 30.0)), 6) AS scaling
        FROM lineitem WHERE l_extendedprice > 0
    """
    sqls["flood_depth_grid"] = f"""
        WITH lab AS (SELECT row, col, comp_id FROM {labels} l),
        px AS (
          SELECT lab.row, lab.col, lab.comp_id, g.v + 2.5 AS hand
          FROM lab JOIN {grid} g ON g.row = lab.row AND g.col = lab.col
        ),
        heights AS (
          SELECT comp_id, AVG(hand) + 3.0 * STDDEV_POP(hand) AS wh
          FROM px GROUP BY comp_id
        )
        SELECT px.row, px.col, px.comp_id,
               ROUND(h.wh, 6) AS water_height,
               ROUND(GREATEST(h.wh - px.hand, 0.0), 6) AS flood_depth
        FROM px JOIN heights h ON h.comp_id = px.comp_id
    """
    from .core.infill import gaussian_kernel

    k = gaussian_kernel(1.0)
    half = k.shape[0] // 2
    krows = ", ".join(
        f"({dr - half}, {dc - half}, CAST({float(k[dr, dc])!r} AS DOUBLE))"
        for dr in range(k.shape[0]) for dc in range(k.shape[1])
    )
    sqls["gaussian_infill"] = f"""
        WITH g AS (
          SELECT row, col, v, ((row * 7 + col * 13) % {_HOLE_MOD}) = 0 AS hole
          FROM {grid} q
        ),
        kernel(dr, dc, w) AS (SELECT * FROM (VALUES {krows})),
        hole_fill AS (
          SELECT h.row, h.col, SUM(k.w * n.v) / SUM(k.w) AS fv
          FROM g h
          JOIN kernel k ON h.hole
          JOIN g n ON n.row = h.row + k.dr AND n.col = h.col + k.dc AND NOT n.hole
          GROUP BY h.row, h.col
        )
        SELECT g.row, g.col, ROUND(COALESCE(f.fv, g.v), 6) AS value
        FROM g LEFT JOIN hole_fill f ON f.row = g.row AND f.col = g.col
    """
    from .operators.hand import D8

    offs = ", ".join(
        f"({i}, {dr}, {dc}, CAST({1.4142135623730951 if dr and dc else 1.0!r} AS DOUBLE))"
        for i, (dr, dc) in enumerate(D8)
    )
    flow = f"""(
      WITH eg AS (SELECT row, col, v AS elev FROM {grid} gg),
      offs(d8, dr, dc, dist) AS (SELECT * FROM (VALUES {offs})),
      nbr AS (
        SELECT a.row, a.col, o.d8, b.row AS nrow, b.col AS ncol,
               (a.elev - b.elev) / o.dist AS drop
        FROM eg a CROSS JOIN offs o
        JOIN eg b ON b.row = a.row + o.dr AND b.col = a.col + o.dc
        WHERE (a.elev - b.elev) / o.dist > 0
      ),
      best AS (
        SELECT row, col, nrow, ncol,
               ROW_NUMBER() OVER (PARTITION BY row, col ORDER BY drop DESC, d8 ASC) AS rk
        FROM nbr
      )
      SELECT g2.row, g2.col, g2.elev, b.nrow AS to_row, b.ncol AS to_col
      FROM eg g2 LEFT JOIN best b ON b.row = g2.row AND b.col = g2.col AND b.rk = 1
    )"""
    sqls["flow_direction_grid"] = f"SELECT row, col, to_row, to_col FROM {flow} f"
    sqls["flow_accum_grid"] = f"""
        WITH RECURSIVE fl AS (SELECT * FROM {flow} f0),
        reach(sr, sc, r, c) AS (
          SELECT row, col, row, col FROM fl
          UNION
          SELECT reach.sr, reach.sc, f.to_row, f.to_col
          FROM reach JOIN fl f ON f.row = reach.r AND f.col = reach.c
          WHERE f.to_row IS NOT NULL
        )
        SELECT r AS row, c AS col, CAST(COUNT(*) AS DOUBLE) AS acc
        FROM reach GROUP BY r, c
    """
    sqls["hand_grid"] = f"""
        WITH RECURSIVE fl AS (SELECT * FROM {flow} f0),
        reach(sr, sc, r, c) AS (
          SELECT row, col, row, col FROM fl
          UNION
          SELECT reach.sr, reach.sc, f.to_row, f.to_col
          FROM reach JOIN fl f ON f.row = reach.r AND f.col = reach.c
          WHERE f.to_row IS NOT NULL
        ),
        acc AS (SELECT r, c, COUNT(*) AS acc FROM reach GROUP BY r, c),
        drain AS (SELECT r, c FROM acc WHERE acc > {_ACC_THR!r}),
        walk(sr, sc, r, c, k) AS (
          SELECT row, col, row, col, 0 FROM fl
          UNION ALL
          SELECT walk.sr, walk.sc, f.to_row, f.to_col, walk.k + 1
          FROM walk JOIN fl f ON f.row = walk.r AND f.col = walk.c
          WHERE f.to_row IS NOT NULL
        ),
        hits AS (
          SELECT w.sr, w.sc, w.k, w.r, w.c
          FROM walk w JOIN drain d ON d.r = w.r AND d.c = w.c
        ),
        first_hit AS (SELECT sr, sc, MIN(k) AS k0 FROM hits GROUP BY sr, sc),
        resolved AS (
          SELECT h.sr, h.sc, e2.elev AS drain_elev
          FROM first_hit fh
          JOIN hits h ON h.sr = fh.sr AND h.sc = fh.sc AND h.k = fh.k0
          JOIN fl e2 ON e2.row = h.r AND e2.col = h.c
        )
        SELECT g3.row, g3.col,
               CASE WHEN r2.drain_elev IS NULL THEN NULL
                    ELSE ROUND(GREATEST(g3.elev - r2.drain_elev, 0.0), 6) END AS hand
        FROM {flow} g3 LEFT JOIN resolved r2 ON r2.sr = g3.row AND r2.sc = g3.col
    """
    # morph_open_grid: neighbor-JOIN formulation (vs Spark's explode
    # stencil). Zero padding => erosion is 0 on the boundary ring and
    # MIN over the full 3x3 elsewhere; dilation is MAX over whatever
    # in-bounds neighbors exist (padded zeros never win a MAX).
    wg = f"""(
      SELECT row, col,
             CASE WHEN v <= {_WATER_THR} AND valid THEN 1 ELSE 0 END AS water
      FROM {grid} g0
    )"""
    nbr = (
        "b.row BETWEEN a.row - 1 AND a.row + 1 "
        "AND b.col BETWEEN a.col - 1 AND a.col + 1"
    )
    interior = (
        f"a.row >= 1 AND a.row <= {_H - 2} AND a.col >= 1 AND a.col <= {_W - 2}"
    )
    sqls["morph_open_grid"] = f"""
        WITH wg AS (SELECT * FROM {wg} w0),
        er AS (
          SELECT a.row, a.col,
                 CASE WHEN {interior} THEN MIN(b.water) ELSE 0 END AS w
          FROM wg a JOIN wg b ON {nbr}
          GROUP BY a.row, a.col
        ),
        opened AS (
          SELECT a.row, a.col, MAX(b.w) AS w
          FROM er a JOIN er b ON {nbr}
          GROUP BY a.row, a.col
        ),
        di AS (
          SELECT a.row, a.col, MAX(b.water) AS w
          FROM wg a JOIN wg b ON {nbr}
          GROUP BY a.row, a.col
        ),
        closed AS (
          SELECT a.row, a.col,
                 CASE WHEN {interior} THEN MIN(b.w) ELSE 0 END AS w
          FROM di a JOIN di b ON {nbr}
          GROUP BY a.row, a.col
        )
        SELECT wg.row, wg.col, wg.water,
               opened.w AS opened, closed.w AS closed
        FROM wg
        JOIN opened ON opened.row = wg.row AND opened.col = wg.col
        JOIN closed ON closed.row = wg.row AND closed.col = wg.col
    """
    # hillshade/aspect: az/alt trig factors are pre-evaluated python doubles
    # whose repr round-trips exactly in BOTH engines (no cross-libm
    # cos(zen) drift); the Horn stencil CTEs are shared verbatim
    cz, sz, az = repr(_HS_COS_ZEN), repr(_HS_SIN_ZEN), repr(_HS_AZ_MATH)
    horn_ctes = f"""
        WITH offs(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                     (0,1),(1,-1),(1,0),(1,1)),
        cand AS (
          SELECT g.row - o.dr AS trow, g.col - o.dc AS tcol,
                 o.dr, o.dc, CAST(g.v AS DOUBLE) AS v
          FROM {grid} g CROSS JOIN offs o
        ),
        nine AS (
          SELECT trow, tcol,
                 MAX(CASE WHEN dr=-1 AND dc=-1 THEN v END) AS wa,
                 MAX(CASE WHEN dr=-1 AND dc=0  THEN v END) AS wb,
                 MAX(CASE WHEN dr=-1 AND dc=1  THEN v END) AS wc,
                 MAX(CASE WHEN dr=0  AND dc=-1 THEN v END) AS wd,
                 MAX(CASE WHEN dr=0  AND dc=1  THEN v END) AS wf,
                 MAX(CASE WHEN dr=1  AND dc=-1 THEN v END) AS wg,
                 MAX(CASE WHEN dr=1  AND dc=0  THEN v END) AS wh,
                 MAX(CASE WHEN dr=1  AND dc=1  THEN v END) AS wi,
                 COUNT(*) AS n
          FROM cand GROUP BY trow, tcol
        ),
        deriv AS (
          SELECT trow, tcol,
                 ((wc + 2.0*wf + wi) - (wa + 2.0*wd + wg))
                   / CAST({8.0 * _HS_PIXEL} AS DOUBLE) AS dzdx,
                 ((wg + 2.0*wh + wi) - (wa + 2.0*wb + wc))
                   / CAST({8.0 * _HS_PIXEL} AS DOUBLE) AS dzdy
          FROM nine WHERE n = 9
        )
    """
    sqls["hillshade_grid"] = f"""
        {horn_ctes}
        SELECT trow AS row, tcol AS col,
               CASE WHEN dzdx IS NOT NULL AND dzdy IS NOT NULL THEN
               ROUND(GREATEST(CAST(0 AS DOUBLE),
                 255.0 * ({cz} * COS(ATAN(SQRT(dzdx*dzdx + dzdy*dzdy)))
                        + {sz} * SIN(ATAN(SQRT(dzdx*dzdx + dzdy*dzdy)))
                             * COS({az} - ATAN2(dzdy, -dzdx)))), 6) END AS hillshade
        FROM deriv
    """
    sqls["aspect_grid"] = f"""
        {horn_ctes}
        SELECT trow AS row, tcol AS col,
               CASE WHEN dzdx = 0.0 AND dzdy = 0.0 THEN CAST(-1.0 AS DOUBLE)
                    ELSE ROUND((((90.0 - DEGREES(ATAN2(dzdy, -dzdx)))
                                 % 360.0) + 360.0) % 360.0, 6)
               END AS aspect
        FROM deriv
    """
    values = ", ".join(f"({tid}, {thr!r})" for tid, thr in _em_expected())
    sqls["em_fixture_thresholds"] = f"""
        SELECT CAST(tile_id AS BIGINT) AS tile_id,
               CAST(threshold AS DOUBLE) AS threshold
        FROM (VALUES {values}) AS t(tile_id, threshold)
    """
    return sqls


def q_morph_open_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary morphology on the thresholded water mask (3x3 element, zero
    padding): opening drops sub-element speckle (the pixel-scale sibling
    of remove_small_segments, ref water_map.py:145-147), closing fills
    pinholes before segmentation. Spark side is one tile+halo pass per
    erosion or dilation (a numpy 3x3 kernel per tile, one shuffle per
    pass, no 9-way self-join); the oracle is the INDEPENDENT
    neighbor-join formulation, so the stencil algebra is cross-verified."""
    from .operators.morphology import binary_close, binary_open

    g = _grid_df(spark)
    water = ((F.col("v") <= F.lit(_WATER_THR)) & F.col("valid")).cast("int")
    wg = g.select("row", "col", water.alias("water"))
    opened = binary_open(wg, "water", _H, _W).withColumnRenamed("water", "opened")
    closed = binary_close(wg, "water", _H, _W).withColumnRenamed("water", "closed")
    return wg.join(opened, ["row", "col"]).join(closed, ["row", "col"])
