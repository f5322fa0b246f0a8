"""Re-gridding join + distributed Gaussian NaN infill.

- ``regrid``: map source pixels onto a target grid (the Spark mapping of
  ref prepare.py:53-86 ``prepare_hand_for_raster`` warp, SURVEY §2.1 S6):
  each source pixel lands in a destination pixel via an affine
  (scale + offset) mapping; overlaps aggregate (mean for 'average',
  closest-center for 'nearest'). A groupBy on the destination key — no
  indexed join.
- ``fill_nan_distributed``: per-tile Gaussian infill (ref
  calculate.py:25-37 ``fill_nan``, SURVEY §2.5 W2): rounds of the core
  kernel pass over each tile and its halo (``tiling.halo_fixpoint``)
  until the fill stops.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core.infill import gaussian_kernel, interpolate_replace_nans
from . import tiling


def regrid(
    src: DataFrame,
    row_scale: float,
    col_scale: float,
    row_off: float = 0.0,
    col_off: float = 0.0,
    method: str = "average",
) -> DataFrame:
    """(row,col,value) -> destination grid: dst_row = floor(row*scale+off).

    'average': mean of contributing source pixels (area-style resampling);
    'nearest': the source pixel whose center maps closest to the destination
    pixel center wins (deterministic tie-break by source row/col).
    """
    dst_r = F.floor(F.col("row") * row_scale + row_off).cast("int")
    dst_c = F.floor(F.col("col") * col_scale + col_off).cast("int")
    mapped = src.select(dst_r.alias("row"), dst_c.alias("col"), "value",
                        F.col("row").alias("src_row"), F.col("col").alias("src_col"))
    if method == "average":
        return mapped.groupBy("row", "col").agg(F.avg("value").alias("value"))
    if method == "nearest":
        from pyspark.sql.window import Window

        center_r = (F.col("row") + 0.5 - row_off) / row_scale
        center_c = (F.col("col") + 0.5 - col_off) / col_scale
        d = (F.col("src_row") + 0.5 - center_r) ** 2 + (F.col("src_col") + 0.5 - center_c) ** 2
        w = Window.partitionBy("row", "col").orderBy(
            d.asc(), F.col("src_row").asc(), F.col("src_col").asc()
        )
        return (
            mapped.withColumn("rk", F.row_number().over(w))
            .where("rk = 1")
            .select("row", "col", "value")
        )
    if method == "lanczos":
        return _regrid_lanczos(src, row_scale, col_scale, row_off, col_off)
    raise ValueError(f"unknown method {method}")


_LANCZOS_A = 3  # kernel radius, matching GDAL's lanczos (the ref default,
# prepare.py:53-86 resampling_method='lanczos')


def _lanczos_w(t, a: int = _LANCZOS_A):
    """Windowed sinc L(t) = sinc(t)·sinc(t/a) for |t| < a — pure Catalyst."""
    pi_t = F.lit(float(np.pi)) * t
    val = (F.sin(pi_t) / pi_t) * (F.sin(pi_t / a) / (pi_t / a))
    return F.when(F.abs(t) < 1e-12, 1.0).when(F.abs(t) < a, val).otherwise(0.0)


def _regrid_lanczos(
    src: DataFrame, row_scale: float, col_scale: float, row_off: float, col_off: float
) -> DataFrame:
    """Separable Lanczos-3 remap as a scatter + weighted aggregate.

    Each source pixel is exploded into the destination pixels whose centers
    (mapped back to source coordinates) fall within the a=3 kernel support —
    ≤ (2a·scale+1)² candidates per pixel, all JVM-side (sequence/explode +
    sin expressions), then one groupBy(dst) computing Σw·v / Σw (edge-
    normalized, like GDAL). Kernel distances are measured between pixel
    CENTERS in source coordinates — exact for identity/upsampling warps (the
    reference's HAND-onto-scene-grid case); for heavy downsampling use
    'average' (Lanczos without kernel rescaling aliases there by design).
    """
    a = _LANCZOS_A
    sr = F.col("row") + 0.5
    sc = F.col("col") + 0.5
    r_lo = F.ceil((sr - a) * row_scale + row_off - 0.5).cast("int")
    r_hi = F.floor((sr + a) * row_scale + row_off - 0.5).cast("int")
    c_lo = F.ceil((sc - a) * col_scale + col_off - 0.5).cast("int")
    c_hi = F.floor((sc + a) * col_scale + col_off - 0.5).cast("int")
    cand = (
        src.select("row", "col", "value",
                   F.explode(F.sequence(r_lo, r_hi)).alias("dst_row"),
                   c_lo.alias("_clo"), c_hi.alias("_chi"))
        .select("row", "col", "value", "dst_row",
                F.explode(F.sequence(F.col("_clo"), F.col("_chi"))).alias("dst_col"))
    )
    t_r = (F.col("dst_row") + 0.5 - row_off) / row_scale - (F.col("row") + 0.5)
    t_c = (F.col("dst_col") + 0.5 - col_off) / col_scale - (F.col("col") + 0.5)
    w = _lanczos_w(t_r) * _lanczos_w(t_c)
    return (
        cand.withColumn("_w", w)
        .where(F.col("_w") != 0.0)
        .groupBy(F.col("dst_row").alias("row"), F.col("dst_col").alias("col"))
        .agg((F.sum(F.col("_w") * F.col("value")) / F.sum("_w")).alias("value"))
    )


def fill_nan_distributed(grid: DataFrame, grid_shape: tuple[int, int], stddev: float = 3.0) -> DataFrame:
    """Gaussian NaN infill of the (row, col, value) grid with extent
    ``grid_shape`` = (H, W): ``core.infill.fill_nan``'s rounds as a
    ``tiling.halo_fixpoint`` over ``tiling.HALO_TILE`` tiles whose halo is
    the kernel radius (4 ``stddev``, at most the tile edge). Each round
    runs one ``interpolate_replace_nans`` pass per tile and emits every
    in-extent cell of each tile that has input; NULL and missing cells
    count as NaN. The output does not depend on the tile shape.

    A round fills every NaN within the radius of a value, so the rounds
    stop when no tile that filled a cell still holds a NaN in the extent,
    and at once when a round fills nothing (an all-NaN grid comes back
    all NaN, as from ``fill_nan``). The fill front moves at least one
    radius per round: more than ceil(max(H, W) / radius) + 1 rounds
    raises RuntimeError."""
    rows_n, cols_n = grid_shape
    kernel = gaussian_kernel(stddev)
    halo = kernel.shape[0] // 2

    def fill_tile(core, a, present):
        v = a["value"]
        out = interpolate_replace_nans(v, kernel)
        pr = np.arange(v.shape[0]) + core[0][0, 0] - halo
        pc = np.arange(v.shape[1]) + core[1][0, 0] - halo
        inside = ((pr >= 0) & (pr < rows_n))[:, None] & ((pc >= 0) & (pc < cols_n))[None, :]
        c = slice(halo, v.shape[0] - halo), slice(halo, v.shape[1] - halo)
        filled = np.isnan(v[c]) & ~np.isnan(out[c])
        return inside[c], {"value": out[c], "changed": filled & np.isnan(out[inside]).any()}

    cells = grid.select("row", "col", F.col("value").cast("double"))
    max_rounds = -(-max(rows_n, cols_n) // max(halo, 1)) + 1
    out = tiling.halo_fixpoint(
        cells, halo, tiling.HALO_TILE, fill_tile, "row int, col int, value double, changed boolean", max_rounds
    )
    return out.select("row", "col", F.coalesce(F.col("value"), F.lit(float("nan"))).alias("value"))
