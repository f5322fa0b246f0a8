"""Distributed backscatter tile-selection ladder vs the exact driver path.

The reference ladder (ref water_map.py:62-81) walks 95th->5th percentile
variance thresholds on the driver over one collected row per tile; the
distributed plan (tiling.backscatter_selection_df) must pick the identical
tiles with zero O(n_tiles) collects.
"""

import numpy as np
import pandas as pd
import pytest

from asf_tools_spark.operators import tiling


def _scene(seed: int, shape=(120, 160)):
    rng = np.random.default_rng(seed)
    rows, cols = shape
    rr, cc = np.meshgrid(np.arange(rows), np.arange(cols), indexing="ij")
    hand = 18.0 * (1 + np.sin(rr / 23.0) * np.cos(cc / 31.0)) + rng.uniform(0, 4, shape)
    water = (rr - 40) ** 2 + (cc - 50) ** 2 < 28**2
    hand[water] *= 0.05
    vh = rng.lognormal(mean=-2.3, sigma=0.4, size=shape)
    vh[water] = rng.lognormal(mean=-5.2, sigma=0.25, size=shape)[water]
    nodata = np.zeros(shape, dtype=bool)
    nodata[:8, :12] = True
    return np.ma.MaskedArray(vh, mask=nodata), np.ma.MaskedArray(hand, mask=np.zeros(shape, bool))


def _exact(bs, hand_candidates, tile_shape, n_tiles):
    stats = tiling.backscatter_tile_stats(bs, tile_shape).collect()
    sub_std = np.full(n_tiles, np.nan)
    medians = np.ma.masked_all(n_tiles)
    for r in stats:
        sub_std[r.tile_id] = r.sub_std if r.sub_std is not None else np.nan
        if r.tile_median is not None:
            medians[r.tile_id] = r.tile_median
    return tiling.select_backscatter_tiles_from_stats(sub_std, medians, hand_candidates)


@pytest.mark.parametrize("seed", [123, 7, 2026])
def test_distributed_ladder_matches_exact(spark, seed):
    tile = (20, 20)
    shape = (120, 160)
    vh, hand = _scene(seed, shape)
    n_tiles = tiling.core_tiles.n_tiles(shape, tile)

    hand_g = tiling.long_grid_df(spark, hand, tile, pad_value=np.nan)
    cand = tiling.select_hand_tiles(hand_g, 15.0, 0.8, tile[0] * tile[1])
    assert cand.size  # scene is built to have low-HAND tiles

    bs = tiling.long_grid_df(spark, vh, tile, pad_value=0.0).withColumn(
        "valid_bs", tiling.F.col("valid") & (tiling.F.col("value") > 0.0)
    )
    exact = _exact(bs, cand, tile, n_tiles)

    hand_df = spark.createDataFrame(pd.DataFrame({"tile_id": cand.astype(np.int64)}))
    dist = tiling.backscatter_selection_df(
        tiling.backscatter_tile_stats(bs, tile), hand_df
    ).collect()
    assert [int(r.tile_id) for r in dist] == [int(t) for t in exact]


def test_hand_candidates_df_matches_exact(spark):
    tile = (20, 20)
    vh, hand = _scene(11)
    hand_g = tiling.long_grid_df(spark, hand, tile, pad_value=np.nan)
    exact = tiling.select_hand_tiles(hand_g, 15.0, 0.8, tile[0] * tile[1])
    dist = tiling.hand_candidate_tiles_df(hand_g, 15.0, 0.8, tile[0] * tile[1])
    assert sorted(r.tile_id for r in dist.collect()) == sorted(int(t) for t in exact)


def test_guard_dispatch_avoids_full_collect(spark, monkeypatch):
    """Above DRIVER_EXACT_MAX_TILES select_backscatter_tiles must not run the
    exact numpy ladder (which implies an O(n_tiles) collect)."""
    tile = (20, 20)
    shape = (120, 160)
    vh, hand = _scene(123, shape)
    n_tiles = tiling.core_tiles.n_tiles(shape, tile)
    hand_g = tiling.long_grid_df(spark, hand, tile, pad_value=np.nan)
    cand = tiling.select_hand_tiles(hand_g, 15.0, 0.8, tile[0] * tile[1])
    bs = tiling.long_grid_df(spark, vh, tile, pad_value=0.0).withColumn(
        "valid_bs", tiling.F.col("valid") & (tiling.F.col("value") > 0.0)
    )
    expected = tiling.select_backscatter_tiles(bs, cand, tile, n_tiles)

    def _boom(*a, **k):
        raise AssertionError("exact driver ladder used above the guard")

    monkeypatch.setattr(tiling, "DRIVER_EXACT_MAX_TILES", 1)
    monkeypatch.setattr(tiling, "select_backscatter_tiles_from_stats", _boom)
    got = tiling.select_backscatter_tiles(bs, cand, tile, n_tiles)
    assert [int(t) for t in got] == [int(t) for t in expected]


@pytest.mark.parametrize("seed,shape", [(123, (120, 160)), (7, (120, 160)), (7, (130, 170))])
def test_fused_selection_matches_separate(spark, monkeypatch, seed, shape):
    """select_tiles (one collect of both stats tables) picks what
    select_hand_tiles + select_backscatter_tiles pick, also when the scene
    is not a whole number of tiles; above the guard it picks the same
    tiles and keeps the candidates a DataFrame."""
    tile = (20, 20)
    vh, hand = _scene(seed, shape)
    n_tiles = tiling.core_tiles.n_tiles(shape, tile)
    hand_g = tiling.long_grid_df(spark, hand, tile, pad_value=np.nan)
    vh_g = tiling.long_grid_df(spark, vh, tile, pad_value=0.0)
    cand = tiling.select_hand_tiles(hand_g, 15.0, 0.8, tile[0] * tile[1])
    sel = tiling.select_backscatter_tiles(vh_g, cand, tile, n_tiles)
    got_cand, got_df, got_sel = tiling.select_tiles(hand_g, vh_g, 15.0, 0.8, tile, n_tiles)
    assert got_df is None
    assert np.array_equal(got_cand, cand)
    assert np.array_equal(got_sel, sel)
    if seed == 7:
        assert sel.size == 5  # the ladder picks tiles on these scenes

    monkeypatch.setattr(tiling, "DRIVER_EXACT_MAX_TILES", 1)
    none, cand_df, dist_sel = tiling.select_tiles(hand_g, vh_g, 15.0, 0.8, tile, n_tiles)
    assert none is None
    assert sorted(r.tile_id for r in cand_df.collect()) == sorted(int(t) for t in cand)
    assert np.array_equal(dist_sel, sel)


def test_em_threshold_one_job(spark, em_tiles, count_jobs):
    """The EM fit is one bounded collect of the selected tiles, and its
    median equals the per-tile numpy fit exactly."""
    from asf_tools_spark.core.em import determine_em_threshold

    scaling = 8.732284197109262
    tile = (100, 100)
    scene = np.ma.concatenate(list(em_tiles), axis=1)  # (100, 500): tiles 0..4
    grid = tiling.long_grid_df(spark, scene, tile).localCheckpoint(eager=True)
    got, jobs = count_jobs(
        lambda: tiling.determine_em_threshold_distributed(grid, np.arange(5), scaling, tile)
    )
    assert jobs == 1
    assert got == determine_em_threshold(em_tiles, scaling)
