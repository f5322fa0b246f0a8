"""Distributed water-extent map — the full make_water_map pipeline.

Spark re-expression of ref: src/asf_tools/hydrosar/water_map.py:191-362,
stage for stage (SURVEY §3.1), over aligned long-form grids
``(tile_id,row,col,value,valid)``:

1-2. HAND + backscatter tiles    — one collect of both per-tile stats, exact
                                   driver ladders (VH only, reused for VV,
                                   ref :291-293); distributed above the guard
3. per-tile EM threshold         — one bounded collect of the <=5 selected
                                   tiles, numpy fit on the driver
4. initial threshold water map   — pure Catalyst predicate
5. fuzzy refinement              — distributed CC labeling + membership
                                   expressions + window slope stencil
6. VH|VV combine + small-segment removal

Schedule: one thread pool starts the hand stats, both polarizations' g
stats and the tile selection at t=0; each polarization then waits only for
what it reads (EM: selection + its g stats; the lower-limit median runs
beside the labeling of its initial water; memberships: hand stats + median).

Tested against core.watermap_mirror (the golden-pinned numpy spec) in
tests/test_water_pipeline.py. Scale notes: the only pixel-wide shuffles are
the per-tile aggregates (partial/final), the labeling groupBy, and the
slope window (partitioned by column); selections/thresholds/limits are tiny
scalar collects, exactly like the reference's driver-side decisions.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.util import inheritable_thread_target

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
    plus per-stage intermediates (thresholds, selections) for testing.
    Its caches are released on every path; the map reads only checkpoints."""
    if tile_shape[0] % 2 or tile_shape[1] % 2:
        raise ValueError(f"tile_shape {tile_shape} requires even values.")
    rows_n, cols_n = grid_shape
    n_tiles = tiling.core_tiles.n_tiles(grid_shape, tile_shape)
    in_extent = (F.col("row") < rows_n) & (F.col("col") < cols_n)

    # unpadded-extent hand with slope (stencil over the real array only);
    # persisted: every membership join and scalar aggregate reuses it
    hand_sloped = slope_magnitude_col(hand_grid.where(in_extent), "value", pixel_size, out="slope").select(
        "row", "col", F.col("value").alias("hand"), F.col("valid"), "slope"
    ).persist()
    max_db = {"VH": max_vh_threshold, "VV": max_vv_threshold}
    gs = {
        pol: grid.withColumn("valid_bs", F.col("valid") & (F.col("value") > 0.0))
        .withColumn("g", F.when(F.col("valid_bs"), F.log10("value") + 30.0)).persist()
        for pol, grid in (("VH", vh_grid), ("VV", vv_grid))
    }
    cached = [hand_sloped, *gs.values()]

    def hand_stats() -> tuple:
        # one aggregate job for every global scalar over hand/slope
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
        med, sd = float(limit_stats.med), float(limit_stats.sd)
        hand_limits = (med, med + 3.0 * sd + 5.0)
        # the hand and slope membership expressions need nothing else:
        # built here, off the branches' path
        return hand_limits, {
            "h_mem": interp_membership_col(
                "hand", float(scalars.h_lo), float(scalars.h_hi), 0.1, hand_limits[0], hand_limits[1]
            ),
            "s_mem": interp_membership_col("slope", float(scalars.s_lo), float(scalars.s_hi), 0.1, 0.0, 15.0),
        }

    def g_stats(pol: str):
        # one job for all global g scalars (scaling stats + interp grid range)
        return gs[pol].agg(
            F.avg("g").alias("m"), F.stddev_pop("g").alias("s"),
            F.min("g").alias("glo"), F.max("g").alias("ghi"),
        ).collect()[0]

    def per_pol(pol: str) -> tuple:
        """One polarization branch: threshold + initial map + fuzzy chain.
        Returns its output keys and its checkpointed fuzzy map."""
        g = gs[pol]
        # selection first: its errors (the all-zero-HAND ValueError) are
        # the ones the caller sees
        selected_tiles = selection.result()[2]
        gstats = g_stats_futs[pol].result()
        keys = {}
        gaussian_threshold = max_db[pol] / 10.0 + 30.0
        if selected_tiles.size:
            scaling = keys[f"scaling_{pol}"] = 256.0 / (gstats.m + 3.0 * gstats.s)
            g_as_grid = g.select("tile_id", "row", "col", F.col("g").alias("value"), F.col("valid_bs").alias("valid"))
            gaussian_threshold = min(
                tiling.determine_em_threshold_distributed(g_as_grid, selected_tiles, scaling, tile_shape),
                gaussian_threshold,
            )

        # initial map (ref :312-313): masked (<=0) pixels start True, then
        # AND with nodata validity; padding is excluded by the extent filter
        water = g.withColumn(
            "water",
            F.col("valid")
            & (~F.col("valid_bs") | (F.col("g") <= F.lit(gaussian_threshold))),
        ).where(in_extent).persist()
        cached.append(water)
        keys[f"gaussian_threshold_{pol}"] = gaussian_threshold
        keys[f"initial_{pol}"] = water.where("water").select("row", "col")

        # gaussian lower limit (ref :325-326): median POWER over water &
        # ~nodata (masked_where mask), collected beside the labeling
        median = submit(lambda: water.where(F.col("water") & F.col("valid"))
                        .agg(F.median("value").alias("m")).collect()[0].m)
        px = _segment_membership(water, tile_shape)
        med = median.result()
        gaussian_lower_limit = float(np.log10(med) + 30.0) if med is not None else gaussian_threshold
        fuzzy = _fuzzy_refinement(px, hand_sloped, (gaussian_lower_limit, gaussian_threshold),
                                  hand_stats_fut.result()[1], gstats, membership_threshold)
        # eager checkpoint inside the branch: the two chains materialize
        # concurrently and the combined labeling reads two checkpoints
        return keys, fuzzy.localCheckpoint(eager=True)

    try:
        # 8 = every task that can be in flight (hand stats, 2 g stats,
        # selection, 2 branches, 2 medians): none queues, so none waits on
        # a task behind it
        with ThreadPoolExecutor(max_workers=8) as pool:
            spark = hand_grid.sparkSession

            def submit(fn, *args):
                # the caller's job group and tags follow the task
                return pool.submit(inheritable_thread_target(spark)(fn), *args)

            hand_stats_fut = submit(hand_stats)
            g_stats_futs = {pol: submit(g_stats, pol) for pol in gs}
            selection = submit(tiling.select_tiles, hand_grid, vh_grid, hand_threshold,
                               hand_fraction, tile_shape, n_tiles)
            pol_futs = [submit(per_pol, pol) for pol in gs]

            # 'hand_candidates' is ALWAYS an ndarray-or-None: the lazy frame
            # above the guard lives under its own key
            out = dict(zip(("hand_candidates", "hand_candidates_df", "selected_tiles"), selection.result()))
            fuzzy_maps = []
            for f in pol_futs:
                keys, fuzzy = f.result()
                out.update(keys)
                fuzzy_maps.append(fuzzy.select("row", "col"))
            out["hand_limits"] = hand_stats_fut.result()[0]
    finally:
        # leaving the pool joined every task, and nothing returned reads
        # these caches
        for df in cached:
            df.unpersist()

    combined = fuzzy_maps[0].unionByName(fuzzy_maps[1]).distinct()
    labeled = label_connected(combined.withColumn("flag", F.lit(True)), "flag", tile_shape)
    final = remove_small_segments(labeled, min_area=3)
    out["water_map"] = final.select("row", "col")
    return out


def _segment_membership(water: DataFrame, tile_shape: tuple[int, int]) -> DataFrame:
    """ref water_map.py:160-170 segment-size membership of the initial
    water pixels: label them, area per segment, membership via the closed
    form of core.fuzzy (groupBy + join). Returns the water pixels
    (row, col, g, valid_bs) with their ``seg_mem``."""
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
    return px.join(wpix, ["row", "col"])


def _fuzzy_refinement(
    px: DataFrame,
    hand_sloped: DataFrame,
    gaussian_thresholds: tuple[float, float],
    hand_mems: dict,
    gstats,
    membership_threshold: float,
) -> DataFrame:
    """ref water_map.py:160-188 — memberships evaluated on water pixels only
    (the final map is ANDed with the initial water mask anyway, ref :336),
    with global scalars computed over the full arrays like the reference
    (the g range in ``gstats``). ``px`` is ``_segment_membership``'s
    output; ``hand_mems`` holds the h_mem and s_mem expressions."""
    glower, gthr = gaussian_thresholds
    # 2-4. gaussian / hand / slope memberships (quantized-grid interp);
    # grid ranges are precomputed scalars — no extra aggregate jobs here
    px = px.join(hand_sloped.select("row", "col", "hand", "slope"), ["row", "col"], "left").withColumns({
        "g_mem": interp_membership_col("g", float(gstats.glo), float(gstats.ghi), 0.005, glower, gthr),
        **hand_mems,
    })

    weights = (F.col("g_mem") + F.col("h_mem") + F.col("s_mem") + F.col("seg_mem")) / 4.0
    return px.where(
        ~_isclose0(F.col("seg_mem"))
        & ~_isclose0(F.col("g_mem"))
        & ~_isclose0(F.col("h_mem"))
        & ~_isclose0(F.col("s_mem"))
        & (weights >= F.lit(membership_threshold))
        & F.col("valid_bs")  # ref :336 final AND with the backscatter mask
    ).select("row", "col")
