"""Distributed fuzzy-membership operators (Catalyst expressions + window
stencils) — the Spark half of ref water_map.py:93-136 semantics whose numpy
twins live in core.fuzzy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.membership import zmf_col
from . import tiling


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

    One ``tiling.halo_pass`` over ``tiling.HALO_TILE`` tiles with a
    one-cell halo; a numpy kernel evaluates both sums in this operation
    order. Cells whose nine window cells are all present (rows of
    ``grid``, unique per cell) only: edge conventions vary per tool. A
    NaN in the window gives NaN derivatives, a NULL gives NULL ones.
    Returns (row, col, _dzdx, _dzdy)."""
    v = F.col(value_col).cast("double")
    cells = grid.select("row", "col", v.alias("v"), v.isNull().cast("double").alias("null"))
    eight_px = 8.0 * pixel_size

    def derivatives(core, arrays, present):
        tr, tc = core[0].shape

        def window(x):  # the nine (tr, tc) views a..i, row-major around each centre e
            return [x[dr:dr + tr, dc:dc + tc] for dr in range(3) for dc in range(3)]

        a, b, c, d, _, f, g, h, i = window(arrays["v"])
        na, nb, nc, nd, _, nf, ng, nh, ni = window(arrays["null"] == 1.0)
        dzdx = ((c + 2.0 * f + i) - (a + 2.0 * d + g)) / eight_px
        dzdy = ((g + 2.0 * h + i) - (a + 2.0 * b + c)) / eight_px
        return np.logical_and.reduce(window(present)), {
            "_dzdx": np.ma.array(dzdx, mask=nc | nf | ni | na | nd | ng),
            "_dzdy": np.ma.array(dzdy, mask=ng | nh | ni | na | nb | nc),
        }

    return tiling.halo_pass(cells, 1, tiling.HALO_TILE, derivatives, "row int, col int, _dzdx double, _dzdy double")


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
    periodic so aspect needs no branch normalization). A window holding a
    NULL elevation shades NULL, as its aspect is NULL (``greatest`` alone
    would skip the NULL and shade it 0). A Spark expression over the
    derivatives, so its transcendentals are the JVM's, as in the SQL
    oracle."""
    deriv = horn_derivatives(grid, value_col, pixel_size)
    slope_r = F.atan(F.lit(z_factor) * F.sqrt(
        F.col("_dzdx") * F.col("_dzdx") + F.col("_dzdy") * F.col("_dzdy")))
    aspect_r = F.atan2(F.col("_dzdy"), -F.col("_dzdx"))
    zen = float(np.radians(90.0 - altitude_deg))
    azm = float(np.radians(360.0 - azimuth_deg + 90.0))
    shade = F.lit(255.0) * (
        F.lit(float(np.cos(zen))) * F.cos(slope_r)
        + F.lit(float(np.sin(zen))) * F.sin(slope_r) * F.cos(F.lit(azm) - aspect_r)
    )
    return deriv.select("row", "col", F.when(shade.isNotNull(), F.greatest(F.lit(0.0), shade)).alias(out))


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
    deriv = horn_derivatives(grid, value_col, pixel_size)
    deg = F.lit(90.0) - F.degrees(F.atan2(F.col("_dzdy"), -F.col("_dzdx")))
    az = (deg % F.lit(360.0) + F.lit(360.0)) % F.lit(360.0)
    flat = (F.col("_dzdx") == 0.0) & (F.col("_dzdy") == 0.0)
    return deriv.select("row", "col", F.when(flat, F.lit(flat_sentinel)).otherwise(az).alias(out))
