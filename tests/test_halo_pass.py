"""tiling.halo_pass / halo_fixpoint vs a numpy padded-array reference."""

import numpy as np
import pytest

from asf_tools_spark.operators.tiling import halo_fixpoint, halo_pass


def _window_sums(halo):
    """Kernel: for each present cell of the tile, the sum of the values and
    the number of present cells in its (2 halo + 1)^2 window, read from the
    tile's padded arrays (a NULL value reads as NaN)."""
    k = 2 * halo + 1

    def kernel(core, a, present):
        tr, tc = core[0].shape
        v = np.where(present, a["v"], 0.0)
        s = sum(v[dr:dr + tr, dc:dc + tc] for dr in range(k) for dc in range(k))
        n = sum(present[dr:dr + tr, dc:dc + tc].astype(np.int64) for dr in range(k) for dc in range(k))
        return present[halo:halo + tr, halo:halo + tc], {"s": s, "n": n}

    return kernel


@pytest.mark.parametrize("halo,tile_shape,shape,off", [
    (1, (4, 4), (10, 13), (0, 0)),       # extent not a multiple of the tile
    (4, (8, 8), (19, 23), (-21, -5)),    # negative coordinates
    (4, (4, 4), (11, 9), (-3, 7)),       # halo == tile edge: up to 9 tiles per cell
    (3, (3, 5), (8, 17), (2, -11)),      # non-square tile, halo == its short edge
])
def test_halo_pass_matches_numpy(spark, halo, tile_shape, shape, off):
    rng = np.random.default_rng(sum(shape) + halo)
    vals = rng.integers(0, 100, shape).astype(float)  # integer sums: exact in any order
    present = rng.random(shape) > 0.1
    null = present & (rng.random(shape) < 0.03)
    cells = [
        (int(r) + off[0], int(c) + off[1], None if null[r, c] else float(vals[r, c]))
        for r, c in zip(*np.nonzero(present))
    ]
    df = spark.createDataFrame(cells, "row int, col int, v double")
    out = halo_pass(df, halo, tile_shape, _window_sums(halo), "row int, col int, s double, n long")
    got = {(r.row - off[0], r.col - off[1]): (r.s, r.n) for r in out.collect()}

    h, w = shape
    pv = np.pad(np.where(present, np.where(null, np.nan, vals), 0.0), halo)
    pp = np.pad(present, halo)
    win = [(dr, dc) for dr in range(2 * halo + 1) for dc in range(2 * halo + 1)]
    want = {}
    for r, c in zip(*np.nonzero(present)):
        s = sum(pv[r + dr, c + dc] for dr, dc in win)
        want[(r, c)] = (None if np.isnan(s) else s, sum(int(pp[r + dr, c + dc]) for dr, dc in win))
    assert got == want


def test_halo_pass_empty_grid_and_halo_bound(spark):
    empty = spark.createDataFrame([], "row int, col int, v double")
    out = halo_pass(empty, 2, (4, 4), _window_sums(2), "row int, col int, s double, n long")
    assert out.count() == 0
    with pytest.raises(ValueError, match="tile edge"):
        halo_pass(empty, 5, (8, 4), _window_sums(5), "row int, col int, s double, n long")


def test_halo_fixpoint_raises_at_round_bound(spark):
    """A kernel that changes a cell every round hits the bound and raises
    instead of returning a half-converged grid."""
    df = spark.createDataFrame([(0, 0, 1.0), (5, 9, 2.0)], "row int, col int, v double")

    def grow(core, a, present):
        own = present[1:-1, 1:-1]
        return own, {"v": a["v"][1:-1, 1:-1] + 1.0, "changed": own}

    with pytest.raises(RuntimeError, match="within 3 rounds"):
        halo_fixpoint(df, 1, (4, 4), grow, "row int, col int, v double, changed boolean", 3)
