"""Distributed fuzzy-membership operators (Catalyst expressions + window
stencils) — the Spark half of ref water_map.py:93-136 semantics whose numpy
twins live in core.fuzzy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.membership import zmf_col


def _zmf(x: float, a: float, b: float) -> float:
    """``zmf_col`` on one Python float, with its exact operation order (so
    a value computed here equals the Catalyst expression bit for bit)."""
    if b == a:
        return 1.0 if x <= a else 0.0
    if x <= a:
        return 1.0
    if x <= (a + b) / 2.0:
        t = (x - a) / (b - a)
        return 1.0 - (t * 2.0) * t
    if x < b:
        u = (x - b) / (b - a)
        return (u * 2.0) * u
    return 0.0


def _d(v: float) -> str:
    """A Spark SQL double literal: ``repr`` round-trips every finite double
    exactly, and the ``D`` suffix keeps it DOUBLE (a bare ``1.5`` parses
    as DECIMAL)."""
    return f"({v!r}D)"


def _double_array(values: list[float]) -> str:
    """A literal array<double> in SQL as one string literal split and cast:
    three expression nodes however long the list, which the optimizer
    folds to one literal; the cast parses each ``repr`` back exactly."""
    return f"CAST(split('{','.join(repr(v) for v in values)}', ',') AS ARRAY<DOUBLE>)"


def interp_membership_col(
    x: str, start: float, stop: float, step: float, a: float, b: float
) -> Column:
    """np.interp(x, arange(start, stop, step), zmf(grid, a, b)) over the
    column named ``x``, as a Catalyst table lookup (ref
    water_map.py:110-114 ``min_max_membership``: the reference
    interpolates zmf sampled on a quantized grid rather than evaluating
    the closed form — we reproduce the sampled-grid values).

    zmf is evaluated once per grid point ``g_k = start + k*step`` on the
    driver (``_zmf``, same float operations as ``zmf_col``) into two
    literal arrays: ``zmf(g_k)`` and ``zmf(g_k + step)`` — the latter, not
    ``zmf(g_{k+1})``, because the two can differ in the last bit. Each
    value then costs one bucket index and two array reads. With fewer
    than two grid points the closed form is used. The expression is one
    SQL string, so building it is one ``F.expr`` call (a tree of Column
    calls costs a py4j round trip per node, ~290 per membership).

    ``start/stop/step`` come from global min/max aggregates (tiny scalars
    collected by the driver, like the reference's array.min()/max()).
    """
    npts = len(np.arange(start, stop, step))
    if npts < 2:
        return zmf_col(F.col(x), a, b)
    start, step, a, b = float(start), float(step), float(a), float(b)
    last = start + (npts - 1) * step
    grid = [start + k * step for k in range(npts - 1)]
    act = _double_array([_zmf(g, a, b) for g in grid])
    nxt = _double_array([_zmf(g + step, a, b) for g in grid])
    x = f"`{x}`"
    i = f"least(greatest(floor(({x} - {_d(start)}) / {_d(step)}), 0), {npts - 2})"
    g_i = f"({_d(start)} + (CAST({i} AS DOUBLE) * {_d(step)}))"
    k = f"CAST(({i} + 1) AS INT)"
    act_i = f"element_at({act}, {k})"
    t = f"(({x} - {g_i}) / {_d(step)})"
    interp = f"({act_i} + ({t} * (element_at({nxt}, {k}) - {act_i})))"
    # NaN guard first: Spark orders NaN greater than everything (x >= last
    # would fire), numpy comparisons with NaN are all False and the pixel is
    # dropped downstream — NULL here reproduces the numpy outcome
    return F.expr(
        f"CASE WHEN isnan({x}) THEN CAST(NULL AS DOUBLE)"
        f" WHEN {x} <= {_d(start)} THEN {_d(_zmf(start, a, b))}"
        f" WHEN {x} >= {_d(last)} THEN {_d(_zmf(last, a, b))}"
        f" ELSE {interp} END"
    )


def slope_magnitude_col(grid: DataFrame, value_col: str = "value",
                        pixel_size: float = 30.0, out: str = "slope") -> DataFrame:
    """np.gradient-along-rows slope in degrees (ref water_map.py:93-97,
    including the |d/drow|-only quirk — see core.fuzzy) as window lead/lag
    partitioned by column: central differences inside, one-sided at edges.
    lag/lead are bound to columns first: each use of a windowed Column in
    the CASE chain would otherwise be its own window expression."""
    w = Window.partitionBy("col").orderBy("row")
    v = F.col(value_col)
    grid = grid.withColumns({"_prev": F.lag(v).over(w), "_nxt": F.lead(v).over(w)})
    prev, nxt = F.col("_prev"), F.col("_nxt")
    dx = (
        F.when(prev.isNull() & nxt.isNull(), F.lit(0.0))
        .when(prev.isNull(), nxt - v)
        .when(nxt.isNull(), v - prev)
        .otherwise((nxt - prev) / 2.0)
    )
    mag = F.abs(dx) / F.lit(pixel_size)
    return grid.withColumn(out, F.atan(mag) / float(np.pi) * 180.0).drop("_prev", "_nxt")


def horn_derivatives(
    grid: DataFrame, value_col: str = "value", pixel_size: float = 30.0,
) -> DataFrame:
    """Horn (1981) 3x3 finite differences — the shared stencil under
    hillshade/aspect (ref prepare_hand stack reads GDAL DEM derivatives;
    slope half is water_map.py:93-97):

        dz/dx = ((c + 2f + i) - (a + 2d + g)) / (8 * pixel)
        dz/dy = ((g + 2h + i) - (a + 2b + c)) / (8 * pixel)

    Shape: scatter-stencil — each pixel is exploded to the 9 windows it
    participates in (one narrow shuffle keyed by target cell), the 3x3
    window is rebuilt by conditional aggregation (each slot has exactly
    one contributor, so max() is the identity pick). No UDF, and no
    BETWEEN self-join (which would plan BNLJ). Interior cells only
    (count(*) = 9): edge conventions vary per tool, and at 100 TB the
    halo exchange for tile borders is this same explode with tile-id
    keys. Expected rows per input row: exactly 9 — linear, skew-free
    (grid keys are unique). Returns (trow, tcol, _dzdx, _dzdy)."""
    v = F.col(value_col).cast("double")
    offs = F.explode(F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr in (-1, 0, 1) for dc in (-1, 0, 1)
    ])).alias("o")
    # source sits at relative offset (dr, dc) FROM the target window center
    cand = grid.select(F.col("row"), F.col("col"), v.alias("_v"), offs).select(
        (F.col("row") - F.col("o.dr")).alias("trow"),
        (F.col("col") - F.col("o.dc")).alias("tcol"),
        F.col("o.dr").alias("_dr"), F.col("o.dc").alias("_dc"), "_v",
    )

    def slot(dr: int, dc: int) -> Column:
        return F.max(
            F.when((F.col("_dr") == dr) & (F.col("_dc") == dc), F.col("_v"))
        )

    nine = cand.groupBy("trow", "tcol").agg(
        slot(-1, -1).alias("_a"), slot(-1, 0).alias("_b"), slot(-1, 1).alias("_c"),
        slot(0, -1).alias("_d"), slot(0, 1).alias("_f"),
        slot(1, -1).alias("_g"), slot(1, 0).alias("_h"), slot(1, 1).alias("_i"),
        F.count(F.lit(1)).alias("_n"),
    ).where(F.col("_n") == 9)
    eight_px = F.lit(8.0 * pixel_size)
    dzdx = ((F.col("_c") + 2.0 * F.col("_f") + F.col("_i"))
            - (F.col("_a") + 2.0 * F.col("_d") + F.col("_g"))) / eight_px
    dzdy = ((F.col("_g") + 2.0 * F.col("_h") + F.col("_i"))
            - (F.col("_a") + 2.0 * F.col("_b") + F.col("_c"))) / eight_px
    return nine.select(
        "trow", "tcol", dzdx.alias("_dzdx"), dzdy.alias("_dzdy")
    )


def hillshade_horn(
    grid: DataFrame, value_col: str = "value", pixel_size: float = 30.0,
    azimuth_deg: float = 315.0, altitude_deg: float = 45.0,
    z_factor: float = 1.0, out: str = "hillshade",
) -> DataFrame:
    """Horn hillshade — the `gdaldem hillshade` closed form over
    :func:`horn_derivatives`:

        shade = 255 * (cos(zen) * cos(slope)
                       + sin(zen) * sin(slope) * cos(az_math - aspect))

    with slope = atan(z * hypot(dz/dx, dz/dy)), aspect = atan2(dzdy,
    -dzdx), zen = radians(90 - altitude), az_math = radians(360 -
    azimuth + 90), clamped at 0 (GDAL/ESRI convention; cos is even and
    periodic so aspect needs no branch normalization). Pure
    whole-stage-codegen expression on top of the stencil aggregate."""
    nine = horn_derivatives(grid, value_col, pixel_size)
    slope_r = F.atan(F.lit(z_factor) * F.sqrt(
        F.col("_dzdx") * F.col("_dzdx") + F.col("_dzdy") * F.col("_dzdy")))
    aspect_r = F.atan2(F.col("_dzdy"), -F.col("_dzdx"))
    zen = float(np.radians(90.0 - altitude_deg))
    azm = float(np.radians(360.0 - azimuth_deg + 90.0))
    shade = F.lit(255.0) * (
        F.lit(float(np.cos(zen))) * F.cos(slope_r)
        + F.lit(float(np.sin(zen))) * F.sin(slope_r) * F.cos(F.lit(azm) - aspect_r)
    )
    return nine.select(
        F.col("trow").alias("row"), F.col("tcol").alias("col"),
        F.greatest(F.lit(0.0), shade).alias(out),
    )


def aspect_horn(
    grid: DataFrame, value_col: str = "value", pixel_size: float = 30.0,
    flat_sentinel: float = -1.0, out: str = "aspect",
) -> DataFrame:
    """`gdaldem aspect` companion over the same :func:`horn_derivatives`
    stencil: compass azimuth of steepest descent in degrees (0 = north,
    clockwise),

        aspect = ((90 - degrees(atan2(dzdy, -dzdx))) % 360 + 360) % 360

    with exactly-flat cells (dzdx = dzdy = 0 — an EXACT double test: both
    derivatives are the same closed form over the same rounded inputs in
    any engine) mapped to ``flat_sentinel`` (GDAL emits nodata there).
    The double-% keeps the result in [0, 360) under Java's and DuckDB's
    shared sign-of-dividend fmod semantics."""
    nine = horn_derivatives(grid, value_col, pixel_size)
    deg = F.lit(90.0) - F.degrees(F.atan2(F.col("_dzdy"), -F.col("_dzdx")))
    az = (deg % F.lit(360.0) + F.lit(360.0)) % F.lit(360.0)
    flat = (F.col("_dzdx") == 0.0) & (F.col("_dzdy") == 0.0)
    return nine.select(
        F.col("trow").alias("row"), F.col("tcol").alias("col"),
        F.when(flat, F.lit(flat_sentinel)).otherwise(az).alias(out),
    )
