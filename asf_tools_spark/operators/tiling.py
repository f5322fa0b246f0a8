"""Long-form grid tiling operators: per-tile statistics + EM classification.

Spark re-expression of the tile-stack math in ref water_map.py:
- ``hand_tile_stats``        (A3, ref water_map.py:43-59)
- ``backscatter_tile_stats`` (A1/A2, ref water_map.py:34-40,62-68)
- ``select_tiles``           (both selections from one stats collect)
- ``determine_em_threshold_distributed`` (ref water_map.py:84-90 +
  threshold.py:40-133 via core.em, fitted on the driver)

and the one tile+halo mechanism of every grid neighbourhood operator
(HAND conditioning and D8, Gaussian infill, Horn derivatives,
morphology): ``halo_pass`` and its round loop ``halo_fixpoint``.

Grids are long-form DataFrames ``(tile_id,row,col,value,valid)`` (see
core.tiles.grid_to_long). Tile ids are derived keys — tiling moves no data;
aggregation is the only shuffle and is partial/final (map-side combine).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..core import tiles as core_tiles
from ..core.em import em_threshold
from ..core.io import local_frame
from ..core.selection import select_backscatter_tiles_from_stats, select_hand_tiles_from_stats


_TILE_STRIDE = 1 << 31


def tile_key(row: Column, col: Column, tile_shape: tuple[int, int]) -> Column:
    """Key of the ``tile_shape`` tile holding cell (row, col):
    ``floor(row / tr) * 2^31 + floor(col / tc)``. Floor division keeps
    negative coordinates in their own tiles. The grouping key of every
    tile-local pass (raster labeling, the HAND chain, ``halo_pass``)."""
    tr, tc = tile_shape
    return F.floor(row / tr).cast("long") * _TILE_STRIDE + F.floor(col / tc).cast("long")


def on_tile_edge(row: Column, col: Column, tile_shape: tuple[int, int]) -> Column:
    """Whether cell (row, col) lies on the edge of its tile. pmod, not %:
    Java % is negative for negative coordinates and would miss the edges
    of negative-index tiles."""
    tr, tc = tile_shape
    return F.pmod(row, tr).isin(0, tr - 1) | F.pmod(col, tc).isin(0, tc - 1)


HALO_TILE = (128, 128)  # the tiles of the stencil passes: Horn, morphology, infill


def halo_pass(cells: DataFrame, halo: int, tile_shape: tuple[int, int], kernel, schema: str) -> DataFrame:
    """One grouped-map pass over the ``tile_shape`` tiles of the long-form
    grid ``cells`` (``row, col`` and value columns; one row per cell), each
    tile seen together with the ring of cells within ``halo`` of it.

    Each cell goes to the distinct tiles of (row ± halo, col ± halo): its
    own and, near a tile edge, each neighbour whose ring holds it (at most
    4 tiles while 2 halo <= the tile edge, else up to 9). One shuffle
    groups them.
    Per tile, ``kernel(core, arrays, present)`` gets ``core`` = (rows,
    cols), the (tr, tc) coordinates of the tile's cells (the origin is
    ``rows[0, 0], cols[0, 0]``), and per value column a (tr + 2 halo,
    tc + 2 halo) float64 array whose ``[halo, halo]`` is the origin, NaN
    where ``present`` is false (no row) or the value is NULL. It returns
    ``(keep, out)``: a (tr, tc) mask of the cells to emit and one (tr, tc)
    array per output column after ``row, col``, in ``schema`` order. A
    plain array's NaN come out NULL; a masked array's masked cells come
    out NULL and its NaN stay NaN. Tiles that only hold ring cells run the
    kernel too. Tile keys decode while |col / tc| < 2^30."""
    if not 0 <= halo <= min(tile_shape):
        raise ValueError(f"halo {halo} must lie in [0, {min(tile_shape)}], the tile edge")
    tr, tc = tile_shape
    names = [c for c in cells.columns if c not in ("row", "col")]
    offsets = np.indices((tr, tc))

    def run(key, pdf):
        ti = (int(key[0]) + _TILE_STRIDE // 2) // _TILE_STRIDE
        r0, c0 = ti * tr, (int(key[0]) - ti * _TILE_STRIDE) * tc
        r = pdf["row"].to_numpy(np.int64) - (r0 - halo)
        c = pdf["col"].to_numpy(np.int64) - (c0 - halo)
        present = np.zeros((tr + 2 * halo, tc + 2 * halo), dtype=bool)
        present[r, c] = True
        arrays = {}
        for name in names:
            arrays[name] = np.full(present.shape, np.nan)
            arrays[name][r, c] = pdf[name].to_numpy(np.float64, na_value=np.nan)
        rows, cols = offsets[0] + r0, offsets[1] + c0
        keep, out = kernel((rows, cols), arrays, present)
        return pd.DataFrame({"row": rows[keep], "col": cols[keep], **{k: _column(v[keep]) for k, v in out.items()}})

    row, col = F.col("row"), F.col("col")
    keys = F.array_distinct(F.array(*[
        tile_key(row + dr, col + dc, tile_shape) for dr in (-halo, 0, halo) for dc in (-halo, 0, halo)
    ]))
    return cells.select("*", F.explode(keys).alias("_tile")).groupBy("_tile").applyInPandas(run, schema)


def _column(v: np.ndarray):
    """A kernel output column: a masked array becomes a pandas nullable
    array (masked = NULL, NaN kept); a plain one passes through."""
    if not isinstance(v, np.ma.MaskedArray):
        return v
    mask = np.ma.getmaskarray(v)
    if v.dtype.kind == "f":
        return pd.arrays.FloatingArray(v.data.astype(np.float64), mask)
    return pd.arrays.IntegerArray(v.data.astype(np.int32), mask)


def halo_fixpoint(cells: DataFrame, halo: int, tile_shape: tuple[int, int], kernel, schema: str,
                  max_rounds: int) -> DataFrame:
    """``halo_pass`` repeated on its own output until a round changes
    nothing: the kernel emits a boolean ``changed`` column last, and the
    output without it is the next round's input. Each round is one
    ``localCheckpoint`` and one ``limit(1).count()`` of ``changed``.
    Raises RuntimeError when ``max_rounds`` rounds all changed a cell: a
    caller's bound on rounds is an invariant, and a half-converged grid
    must not pass for a result."""
    for _ in range(max_rounds):
        out = halo_pass(cells, halo, tile_shape, kernel, schema).localCheckpoint(eager=True)
        cells = out.drop("changed")
        if out.where("changed").limit(1).count() == 0:
            return cells
    raise RuntimeError(f"halo_fixpoint did not converge within {max_rounds} rounds")


def long_grid_df(spark: SparkSession, array, tile_shape: tuple[int, int], pad_value=np.nan) -> DataFrame:
    """2D (masked) numpy array -> long-form grid DataFrame (test/bench aid)."""
    cols = core_tiles.grid_to_long(array, tile_shape, pad_value)
    return local_frame(
        spark, pd.DataFrame(cols), "tile_id long, row int, col int, value double, valid boolean"
    )


def hand_tile_stats(grid: DataFrame, hand_threshold: float, tile_pixels: int) -> DataFrame:
    """Per-tile fraction of (valid & hand < threshold) pixels over the FULL
    padded tile pixel count (ref water_map.py:56-59 semantics)."""
    low = (F.col("valid") & (F.col("value") < F.lit(hand_threshold))).cast("long")
    return grid.groupBy("tile_id").agg(
        (F.sum(low) / F.lit(float(tile_pixels))).alias("low_frac"),
        F.max(F.when(F.col("valid") & (F.abs("value") > 1e-8), 1).otherwise(0)).alias("any_nonzero"),
    )


# Above this many tiles the exact driver-side selection (one collected row
# per tile) is replaced by the distributed ladder: a 100k x 100k scene at
# 100 x 100 tiles is 10^6 stats rows — never collect that to the driver.
DRIVER_EXACT_MAX_TILES = 100_000


def _hand_selection(stats: list, hand_fraction: float) -> np.ndarray:
    """Exact driver-side selection over collected ``hand_tile_stats`` rows."""
    stats = sorted(stats, key=lambda r: r.tile_id)
    tile_ids = np.array([r.tile_id for r in stats])
    fracs = np.array([r.low_frac for r in stats])
    all_zero = not any(r.any_nonzero for r in stats)
    return select_hand_tiles_from_stats(tile_ids, fracs, all_zero, hand_fraction)


def _backscatter_selection(stats: list, hand_candidates: np.ndarray, n_tiles: int) -> np.ndarray:
    """Exact driver-side ladder over collected ``backscatter_tile_stats``
    rows; a tile with no row keeps NaN std and a masked median."""
    sub_std = np.full(n_tiles, np.nan)
    medians = np.ma.masked_all(n_tiles)
    for r in stats:
        sub_std[r.tile_id] = r.sub_std if r.sub_std is not None else np.nan
        if r.tile_median is not None:
            medians[r.tile_id] = r.tile_median
    return select_backscatter_tiles_from_stats(sub_std, medians, hand_candidates)


def select_hand_tiles(grid: DataFrame, hand_threshold: float, hand_fraction: float,
                      tile_pixels: int, n_tiles: int | None = None) -> np.ndarray:
    """Distributed stats + exact driver-side selection (one row per tile).
    Above DRIVER_EXACT_MAX_TILES callers should switch to
    ``hand_candidate_tiles_df`` and keep the candidate set distributed."""
    return _hand_selection(hand_tile_stats(grid, hand_threshold, tile_pixels).collect(), hand_fraction)


def select_tiles(hand_grid: DataFrame, bs_grid: DataFrame, hand_threshold: float,
                 hand_fraction: float, tile_shape: tuple[int, int], n_tiles: int) -> tuple:
    """HAND candidates + the <=5 selected backscatter tiles, as
    (hand_candidates, hand_candidates_df, selected). Up to
    DRIVER_EXACT_MAX_TILES: ONE collect of the two per-tile stats tables
    full-joined on tile_id feeds both exact ladders (the df is None).
    Above it the candidates stay a DataFrame and only the winners are
    collected (hand_candidates is None)."""
    tile_pixels = tile_shape[0] * tile_shape[1]
    bs_stats = backscatter_tile_stats(bs_grid, tile_shape)
    if n_tiles > DRIVER_EXACT_MAX_TILES:
        hand_df = hand_candidate_tiles_df(hand_grid, hand_threshold, hand_fraction, tile_pixels)
        sel = backscatter_selection_df(bs_stats, hand_df).collect()
        return None, hand_df, np.array([int(r.tile_id) for r in sel], dtype=np.int64)
    stats = hand_tile_stats(hand_grid, hand_threshold, tile_pixels).join(bs_stats, "tile_id", "full").collect()
    hand = _hand_selection([r for r in stats if r.low_frac is not None], hand_fraction)
    return hand, None, _backscatter_selection(stats, hand, n_tiles)


def hand_candidate_tiles_df(grid: DataFrame, hand_threshold: float, hand_fraction: float,
                            tile_pixels: int) -> DataFrame:
    """Distributed select_hand_tiles: candidate tile ids as a DataFrame —
    no O(n_tiles) collect. The reference's all-zero guard costs one scalar
    aggregate job."""
    stats = hand_tile_stats(grid, hand_threshold, tile_pixels)
    nz = stats.agg(F.max("any_nonzero").alias("nz")).collect()[0].nz
    if not nz:
        raise ValueError(
            "All pixels in scene have a HAND value of 0.0 (all water); "
            "scene is not a good candidate for water mapping."
        )
    return stats.where(F.col("low_frac") > F.lit(hand_fraction)).select("tile_id")


def backscatter_tile_stats(grid: DataFrame, tile_shape: tuple[int, int]) -> DataFrame:
    """Per-tile (median of valid>0 pixels, std of the four sub-tile means).

    Sub-tile means count masked/<=0 pixels as 0 with a constant denominator
    (``filled(0)``, ref water_map.py:38); the median ignores them
    (np.ma.median). Two-level partial/final aggregate (A2).
    """
    tr, tc = tile_shape
    sub_pixels = (tr // 2) * (tc // 2)
    masked_val = F.when(F.col("valid") & (F.col("value") > 0.0), F.col("value"))
    g = grid.withColumn(
        "subtile_id",
        F.expr(core_tiles.subtile_id_sql("row", "col", tile_shape)),
    )
    sub = g.groupBy("tile_id", "subtile_id").agg(
        (F.sum(F.coalesce(masked_val, F.lit(0.0))) / F.lit(float(sub_pixels))).alias("sub_mean"),
    )
    sub_stats = sub.groupBy("tile_id").agg(F.stddev_pop("sub_mean").alias("sub_std"))
    med = grid.groupBy("tile_id").agg(F.median(masked_val).alias("tile_median"))
    return sub_stats.join(med, "tile_id")


def select_backscatter_tiles(grid: DataFrame, hand_candidates: np.ndarray,
                             tile_shape: tuple[int, int], n_tiles: int) -> np.ndarray:
    """Per-tile stats + reference selection ladder (ref water_map.py:62-81).

    n_tiles <= DRIVER_EXACT_MAX_TILES: exact driver path (collect one stats
    row per tile, run core.selection's literal numpy ladder). Above the
    guard: the distributed re-expression (``backscatter_selection_df``) —
    only the <=5 winning rows ever reach the driver."""
    if n_tiles <= DRIVER_EXACT_MAX_TILES:
        return _backscatter_selection(backscatter_tile_stats(grid, tile_shape).collect(),
                                      hand_candidates, n_tiles)
    spark = grid.sparkSession
    hand = local_frame(spark, [(int(t),) for t in hand_candidates], "tile_id long")
    sel = backscatter_selection_df(backscatter_tile_stats(grid, tile_shape), hand)
    return np.array([int(r.tile_id) for r in sel.collect()], dtype=np.int64)


def backscatter_selection_df(stats: DataFrame, hand: DataFrame) -> DataFrame:
    """The reference's 95th->5th percentile relaxation ladder
    (ref water_map.py:62-81) as ONE distributed plan, no O(n_tiles) collect.

    Key identity: the ladder walks thresholds t_95 >= ... >= t_5 (percentiles
    of tile_variance over ALL tiles, np.nanpercentile linear interpolation =
    Spark exact ``percentile``) and stops at the first with
    |{potential candidates with variance > t}| >= 5. count(v > t) is
    monotone non-increasing in t, so the chosen threshold is exactly the
    LARGEST ladder value strictly below the 5th-largest potential-candidate
    variance — one percentile aggregate + one top-5 instead of a 91-step
    driver loop. Ties in sub_std break by higher tile_id, matching
    np.argsort(stable)[::-1].

    ``stats``: (tile_id, sub_std, tile_median); ``hand``: (tile_id,)
    candidate ids. Returns <=5 rows (tile_id, sub_std) ordered like the
    reference (sub_std desc). Note: tile_median is > 0 by construction
    (median over valid > 0 pixels), so the variance division cannot hit
    Spark's divide-by-zero -> NULL vs numpy's inf divergence.
    """
    v = F.col("sub_std") / F.col("tile_median")
    sv = stats.withColumn("variance", F.when(v.isNotNull() & ~F.isnan(v), v))
    hand_ids = hand.select("tile_id")

    # percentile thresholds over ALL tiles (nanpercentile semantics: NaN
    # variances were nulled above and percentile() ignores nulls)
    ladder = sv.agg(
        F.percentile("variance", F.array(*[F.lit(p / 100.0) for p in range(5, 96)])).alias("ths")
    ).select(F.explode("ths").alias("t"))

    # potential candidates = hand ∩ (median < masked-median of hand medians)
    lm = (
        sv.join(hand_ids, "tile_id", "left_semi")
        .agg(F.median("tile_median").alias("lm"))
    )
    potential = (
        sv.join(hand_ids, "tile_id", "left_semi")
        .crossJoin(F.broadcast(lm))
        .where((F.col("tile_median") < F.col("lm")) & F.col("variance").isNotNull())
    )

    # 5th-largest candidate variance (v5); k < 5 candidates -> no selection
    top5 = (
        potential.select("variance")
        .orderBy(F.col("variance").desc())
        .limit(5)
        .agg(F.min("variance").alias("v5"), F.count(F.lit(1)).alias("k"))
    )
    chosen = (
        ladder.crossJoin(F.broadcast(top5))
        .where((F.col("k") >= 5) & (F.col("t") < F.col("v5")))
        .agg(F.max("t").alias("th"))
    )
    return (
        potential.crossJoin(F.broadcast(chosen))
        .where(F.col("variance") > F.col("th"))  # th NULL -> empty, like the ladder exhausting
        .orderBy(F.col("sub_std").desc(), F.col("tile_id").desc())
        .limit(5)
        .select("tile_id", "sub_std")
    )


def determine_em_threshold_distributed(
    grid: DataFrame, selected: np.ndarray, scaling: float, tile_shape: tuple[int, int]
) -> float:
    """Median of the 4 lowest per-tile EM thresholds (ref water_map.py:84-90).
    Only the <=5 selected tiles reach the driver (SURVEY §4): ONE Arrow
    collect of at most 5 x tile_pixels rows, whatever the scene size, then
    the per-tile numpy fit — a grouped-map UDF paid a shuffle and a Python
    worker round trip for ~20 ms of numpy per tile."""
    tr, tc = tile_shape
    pdf = (
        grid.where(F.col("tile_id").isin([int(t) for t in selected]))
        .select("tile_id", "row", "col", "value", "valid")
        .toPandas()
    )
    thresholds = []
    for _, t in pdf.groupby("tile_id"):
        vals = np.full((tr, tc), np.nan)
        mask = np.ones((tr, tc), dtype=bool)
        r_in = t["row"].to_numpy() % tr
        c_in = t["col"].to_numpy() % tc
        vals[r_in, c_in] = t["value"].to_numpy()
        mask[r_in, c_in] = ~t["valid"].to_numpy()
        tile = np.ma.MaskedArray(vals, mask=mask)
        test_tile = np.ma.around(tile * scaling).astype(int)
        thresholds.append(em_threshold(test_tile) / scaling)
    return float(np.median(np.sort(thresholds)[:4]))


def tile_pyramid(
    points: DataFrame, base_res: int, lat: str = "lat", lon: str = "lon",
    value_col: str = "value", min_res: int = 0,
) -> DataFrame:
    """Web-map tile-pyramid rollup (the multi-zoom z/x/y aggregate a tile
    server pre-computes; hypertable-rollup shape): counts + value sums per
    grid cell at every resolution ``min_res..base_res``.

    Scale shape: the point table is scanned EXACTLY ONCE — the base-zoom
    aggregate (partial/final, map-side combine) is the only shuffle that
    touches the 10^12 rows. Every coarser zoom derives from the base
    cells: each base cell explodes into its (base_res-min_res+1) ancestor
    keys (constant fan-out over at most 4^base_res rows — independent of
    point count) and ONE second hash aggregate rolls all levels at once.
    A naive per-level cascade would either re-scan the points per zoom or
    need L materialization barriers; the ancestor-explode is one plan,
    two exchanges, zero caching.

    Returns (res, row, col, n_pages, sum_value); ``row``/``col`` are the
    equirectangular grid indices of core.cells at each ``res``.
    """
    from ..core import cells as C

    if not 0 <= min_res <= base_res <= 16:
        # an empty res range would build F.array() with zero elements and
        # the explode would SILENTLY drop every row — fail loudly instead
        raise ValueError(
            f"need 0 <= min_res ({min_res}) <= base_res ({base_res}) <= 16"
        )

    base = (
        points.select(
            F.expr(C.grid_y_sql(lat, base_res)).alias("row"),
            F.expr(C.grid_x_sql(lon, base_res)).alias("col"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_v").alias("_s"))
    )
    return pyramid_from_base(base, base_res, min_res)


def pyramid_from_base(base: DataFrame, base_res: int, min_res: int = 0) -> DataFrame:
    """Roll base-res cell partials (row, col, _n, _s) up to every level in
    ``min_res..base_res`` — the second half of :func:`tile_pyramid`, shared
    with the incremental maintainer (streaming.pyramid), so the batch and
    streaming pyramids are the same plan by construction."""
    if not 0 <= min_res <= base_res <= 16:
        raise ValueError(
            f"need 0 <= min_res ({min_res}) <= base_res ({base_res}) <= 16"
        )
    anc = F.explode(F.array(*[
        F.struct(
            F.lit(res).alias("res"),
            F.shiftright(F.col("row"), base_res - res).alias("prow"),
            F.shiftright(F.col("col"), base_res - res).alias("pcol"),
        )
        for res in range(min_res, base_res + 1)
    ])).alias("a")
    return (
        base.select(anc, "_n", "_s")
        .groupBy(
            F.col("a.res").alias("res"),
            F.col("a.prow").alias("row"),
            F.col("a.pcol").alias("col"),
        )
        .agg(
            F.sum("_n").cast("long").alias("n_pages"),
            F.sum("_s").alias("sum_value"),
        )
    )
