"""Distributed water-extent map — the full make_water_map pipeline.

Spark re-expression of ref: src/asf_tools/hydrosar/water_map.py:191-362,
stage for stage (SURVEY §3.1), over aligned long-form grids
``(tile_id,row,col,value,valid)``:

1. HAND candidate tiles          — distributed agg + exact driver selection
2. backscatter tile selection    — two-level agg + reference ladder (VH only,
                                   reused for VV, ref :291-293)
3. per-tile EM threshold         — applyInPandas on the <=5 selected tiles
4. initial threshold water map   — pure Catalyst predicate
5. fuzzy refinement              — distributed CC labeling + membership
                                   expressions + window slope stencil
6. VH|VV combine + small-segment removal

Tested against core.watermap_mirror (the golden-pinned numpy spec) in
tests/test_water_pipeline.py. Scale notes: the only pixel-wide shuffles are
the per-tile aggregates (partial/final), the labeling groupBy, and the
slope window (partitioned by column); selections/thresholds/limits are tiny
scalar collects, exactly like the reference's driver-side decisions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..operators import tiling
from ..operators.fuzzy_ops import interp_membership_col, slope_magnitude_col
from ..operators.labeling import label_connected, remove_small_segments, segment_areas
from ..functions.membership import zmf_col


def _isclose0(c):
    return F.abs(c) <= 1e-8  # np.isclose(x, 0.0)


def make_water_map_grid(
    vv_grid: DataFrame,
    vh_grid: DataFrame,
    hand_grid: DataFrame,
    grid_shape: tuple[int, int],
    tile_shape: tuple[int, int] = (100, 100),
    max_vv_threshold: float = -15.5,
    max_vh_threshold: float = -23.0,
    hand_threshold: float = 15.0,
    hand_fraction: float = 0.8,
    membership_threshold: float = 0.45,
    pixel_size: float = 30.0,
) -> dict:
    """Returns dict with 'water_map' DataFrame (row, col) of water pixels
    plus per-stage intermediates (thresholds, selections) for testing."""
    if tile_shape[0] % 2 or tile_shape[1] % 2:
        raise ValueError(f"tile_shape {tile_shape} requires even values.")
    rows_n, cols_n = grid_shape
    tile_pixels = tile_shape[0] * tile_shape[1]
    n_tiles = tiling.core_tiles.n_tiles(grid_shape, tile_shape)

    # below the guard: exact driver-side selection (reference parity path);
    # above it: the candidate set stays a DataFrame end-to-end — only the
    # <=5 winning backscatter tiles ever reach the driver
    if n_tiles <= tiling.DRIVER_EXACT_MAX_TILES:
        hand_candidates = tiling.select_hand_tiles(hand_grid, hand_threshold, hand_fraction, tile_pixels)
        hand_df = None
    else:
        hand_candidates = None
        hand_df = tiling.hand_candidate_tiles_df(hand_grid, hand_threshold, hand_fraction, tile_pixels)
    # stable contract: 'hand_candidates' is ALWAYS an ndarray-or-None (None
    # above the guard, where collecting every candidate is the thing we
    # avoid); the lazy frame lives under its own key so consumers can't
    # np.array_equal a DataFrame by surprise
    out: dict = {"hand_candidates": hand_candidates, "hand_candidates_df": hand_df}

    # unpadded-extent hand with slope (stencil over the real array only);
    # persisted: every membership join and scalar aggregate reuses it
    hand_real = hand_grid.where((F.col("row") < rows_n) & (F.col("col") < cols_n))
    hand_sloped = slope_magnitude_col(hand_real, "value", pixel_size, out="slope").select(
        "row", "col", F.col("value").alias("hand"), F.col("valid"), "slope"
    ).persist()

    # one aggregate job for every global scalar over hand/slope. The
    # scalars -> limit_stats chain runs on a helper thread so its two
    # sequential collect jobs overlap the tile-selection jobs below —
    # they are independent until the fuzzy stage (guide §2.6: the driver
    # calling actions sequentially is the only reason jobs serialize).
    def _hand_stats() -> tuple:
        scalars = hand_sloped.agg(
            F.min(F.when(F.col("valid"), F.col("hand"))).alias("h_lo"),
            F.max(F.when(F.col("valid"), F.col("hand"))).alias("h_hi"),
            F.min(F.when(~F.isnan("slope"), F.col("slope"))).alias("s_lo"),
            F.max(F.when(~F.isnan("slope"), F.col("slope"))).alias("s_hi"),
            F.percentile(F.when(F.col("valid") & (F.abs("hand") > 1e-8), F.col("hand")), 0.9).alias("h_p90"),
        ).collect()[0]
        limit_stats = (
            hand_sloped.where(F.col("valid") & (F.abs("hand") > 1e-8) & (F.col("hand") <= F.lit(scalars.h_p90)))
            .agg(F.median("hand").alias("med"), F.stddev_pop("hand").alias("sd"))
            .collect()[0]
        )
        return scalars, limit_stats

    from concurrent.futures import ThreadPoolExecutor

    # tile selection (VH only, reused for VV — ref :291-293) overlaps the
    # hand-stats thread; leaving the block joins that thread on every path,
    # so a failed selection does not leave it running
    bs_vh = vh_grid.withColumn("valid_bs", F.col("valid") & (F.col("value") > 0.0))
    with ThreadPoolExecutor(max_workers=1) as stats_pool:
        stats_fut = stats_pool.submit(_hand_stats)
        if hand_candidates is not None:
            selected_tiles = tiling.select_backscatter_tiles(bs_vh, hand_candidates, tile_shape, n_tiles)
        else:
            sel = tiling.backscatter_selection_df(
                tiling.backscatter_tile_stats(bs_vh, tile_shape), hand_df
            )
            selected_tiles = np.array([int(r.tile_id) for r in sel.collect()], dtype=np.int64)
        out["selected_tiles"] = selected_tiles
        scalars, limit_stats = stats_fut.result()
    hand_limits = (float(limit_stats.med), float(limit_stats.med) + 3.0 * float(limit_stats.sd) + 5.0)
    out["hand_limits"] = hand_limits
    hand_minmax = (scalars.h_lo, scalars.h_hi)
    slope_minmax = (scalars.s_lo, scalars.s_hi)

    def _per_pol(max_db_threshold: float, grid: DataFrame, pol: str) -> tuple:
        """One polarization branch: threshold + initial map + fuzzy chain.
        The two branches share nothing but read-only inputs, so they run
        on a small thread pool and their jobs interleave on the cluster
        (guide §2.6) — identical computations, identical results."""
        bs = bs_vh if pol == "VH" else grid.withColumn(
            "valid_bs", F.col("valid") & (F.col("value") > 0.0)
        )
        g = bs.withColumn("g", F.when(F.col("valid_bs"), F.log10("value") + 30.0)).persist()
        max_gaussian_threshold = max_db_threshold / 10.0 + 30.0
        # one job for all global g scalars (scaling stats + interp grid range)
        gstats = g.agg(
            F.avg("g").alias("m"), F.stddev_pop("g").alias("s"),
            F.min("g").alias("glo"), F.max("g").alias("ghi"),
        ).collect()[0]
        scaling = None
        if selected_tiles.size:
            scaling = 256.0 / (gstats.m + 3.0 * gstats.s)
            g_as_grid = g.select("tile_id", "row", "col", F.col("g").alias("value"), F.col("valid_bs").alias("valid"))
            gaussian_threshold = tiling.determine_em_threshold_distributed(
                g_as_grid, selected_tiles, scaling, tile_shape
            )
            gaussian_threshold = min(gaussian_threshold, max_gaussian_threshold)
        else:
            gaussian_threshold = max_gaussian_threshold

        # initial map (ref :312-313): masked (<=0) pixels start True, then
        # AND with nodata validity; padding is excluded by the extent filter
        water = g.withColumn(
            "water",
            F.col("valid")
            & (~F.col("valid_bs") | (F.col("g") <= F.lit(gaussian_threshold))),
        ).where((F.col("row") < rows_n) & (F.col("col") < cols_n))
        water = water.persist()
        initial = water.where("water").select("row", "col")

        # gaussian lower limit (ref :325-326): median POWER over water pixels
        # ref :325-326: median POWER over water & ~nodata (masked_where mask)
        med = water.where(F.col("water") & F.col("valid")).agg(F.median("value").alias("m")).collect()[0].m
        gaussian_lower_limit = float(np.log10(med) + 30.0) if med is not None else gaussian_threshold

        fuzzy = _fuzzy_refinement(
            water,
            hand_sloped,
            gaussian_thresholds=(gaussian_lower_limit, gaussian_threshold),
            hand_limits=hand_limits,
            hand_minmax=(hand_minmax[0], hand_minmax[1]),
            slope_minmax=(slope_minmax[0], slope_minmax[1]),
            g_minmax=(float(gstats.glo), float(gstats.ghi)),
            tile_shape=tile_shape,
            membership_threshold=membership_threshold,
        )
        # eagerly checkpoint the fuzzy output INSIDE the branch thread:
        # pre-threading this was measured a wash (one extra serial job),
        # but with both polarizations on the pool the two chains now
        # materialize CONCURRENTLY and the final combined labeling job
        # reads two checkpoints instead of executing both chains serially
        return scaling, gaussian_threshold, initial, fuzzy.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=2) as _pol_pool:
        pol_results = list(_pol_pool.map(
            lambda args: _per_pol(*args),
            ((max_vh_threshold, vh_grid, "VH"), (max_vv_threshold, vv_grid, "VV")),
        ))
    fuzzy_maps = []
    for (scaling, gaussian_threshold, initial, fuzzy), pol in zip(pol_results, ("VH", "VV")):
        if scaling is not None:
            out[f"scaling_{pol}"] = scaling
        out[f"gaussian_threshold_{pol}"] = gaussian_threshold
        out[f"initial_{pol}"] = initial
        fuzzy_maps.append(fuzzy)

    combined = (
        fuzzy_maps[0].select("row", "col")
        .unionByName(fuzzy_maps[1].select("row", "col"))
        .distinct()
    )
    labeled = label_connected(combined.withColumn("flag", F.lit(True)), "flag", tile_shape)
    final = remove_small_segments(labeled, min_area=3)
    out["water_map"] = final.select("row", "col")
    return out


def _fuzzy_refinement(
    water: DataFrame,
    hand_sloped: DataFrame,
    gaussian_thresholds: tuple[float, float],
    hand_limits: tuple[float, float],
    hand_minmax: tuple[float, float],
    slope_minmax: tuple[float, float],
    g_minmax: tuple[float, float],
    tile_shape: tuple[int, int],
    membership_threshold: float,
) -> DataFrame:
    """ref water_map.py:160-188 — memberships evaluated on water pixels only
    (the final map is ANDed with the initial water mask anyway, ref :336),
    with global scalars computed over the full arrays like the reference."""
    glower, gthr = gaussian_thresholds

    # 1. segment-size membership: label initial water, area per segment,
    #    membership via the closed form of core.fuzzy (groupBy + join)
    wpix = water.where("water").select("row", "col", "g", "valid_bs")
    labeled = label_connected(wpix.withColumn("flag", F.lit(True)), "flag", tile_shape)
    areas = segment_areas(labeled)
    seg_mem = areas.withColumn(
        "seg_mem",
        F.when(F.col("area") > 10, F.lit(1.0)).when(
            F.col("area") >= 3, 1.0 - zmf_col(F.col("area").cast("double"), 3.0, 10.0)
        ).otherwise(F.lit(0.0)),
    ).select("label", "seg_mem")
    # seg_mem is one row per label (tiny) — broadcast, never shuffle px
    px = labeled.join(F.broadcast(seg_mem), "label").select("row", "col", "seg_mem")

    px = px.join(wpix, ["row", "col"]).join(
        hand_sloped.select("row", "col", "hand", "slope"), ["row", "col"], "left"
    )

    # 2-4. gaussian / hand / slope memberships (quantized-grid interp);
    # grid ranges are precomputed scalars — no extra aggregate jobs here
    px = px.withColumn(
        "g_mem",
        interp_membership_col(F.col("g"), g_minmax[0], g_minmax[1], 0.005, glower, gthr),
    )
    px = px.withColumn(
        "h_mem",
        interp_membership_col(
            F.col("hand"), float(hand_minmax[0]), float(hand_minmax[1]), 0.1,
            hand_limits[0], hand_limits[1],
        ),
    )
    px = px.withColumn(
        "s_mem",
        interp_membership_col(
            F.col("slope"), float(slope_minmax[0]), float(slope_minmax[1]), 0.1, 0.0, 15.0
        ),
    )

    weights = (F.col("g_mem") + F.col("h_mem") + F.col("s_mem") + F.col("seg_mem")) / 4.0
    return px.where(
        ~_isclose0(F.col("seg_mem"))
        & ~_isclose0(F.col("g_mem"))
        & ~_isclose0(F.col("h_mem"))
        & ~_isclose0(F.col("s_mem"))
        & (weights >= F.lit(membership_threshold))
        & F.col("valid_bs")  # ref :336 final AND with the backscatter mask
    ).select("row", "col")
