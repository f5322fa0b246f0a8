"""Property-based invariants (hypothesis) for the pure core."""

from collections import deque

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from asf_tools_spark.core import cells, tiles
from asf_tools_spark.core.fuzzy import zmf
from asf_tools_spark.core.labeling import label_components


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=64),
)
def test_tile_id_partition_property(rows, cols, tr, tc):
    """Every pixel belongs to exactly one tile; ids are dense row-major."""
    rr = np.array([0, rows - 1, rows // 2])
    cc = np.array([0, cols - 1, cols // 2])
    tid = tiles.tile_id(rr, cc, cols, (tr, tc))
    n = tiles.n_tiles((rows, cols), (tr, tc))
    assert (tid >= 0).all() and (tid < n).all()
    # corner pixel maps to last tile
    assert tiles.tile_id(np.array([rows - 1]), np.array([cols - 1]), cols, (tr, tc))[0] == n - 1


@settings(max_examples=50, deadline=None)
@given(
    st.floats(min_value=-89.999, max_value=89.999),
    st.floats(min_value=-179.999, max_value=179.999),
    st.integers(min_value=1, max_value=26),
    st.integers(min_value=0, max_value=25),
)
def test_cell_parent_contains_child(lat, lon, res, parent_res):
    if parent_res > res:
        parent_res = res
    c = cells.encode(np.array([lat]), np.array([lon]), res)
    p = cells.parent(c, parent_res)
    direct = cells.encode(np.array([lat]), np.array([lon]), parent_res)
    assert p[0] == direct[0]


@settings(max_examples=30, deadline=None)
@given(st.floats(-100, 100), st.floats(-100, 100), st.floats(-200, 200))
@example(a=0.0, b=5e-324, x=0.0)  # adjacent doubles: (a + b) / 2 rounds to a
@example(a=1.0, b=1.0000000000000002, x=1.0)
def test_zmf_bounds_and_monotone(a, b, x):
    lo, hi = min(a, b), max(a, b)
    v = zmf(np.array([x]), lo, hi)[0]
    assert 0.0 <= v <= 1.0
    if x <= lo:
        assert v == 1.0  # x<=a wins, even in the degenerate a==b case
    elif x >= hi:
        assert v == 0.0


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=0, max_value=2**32))
def test_label_components_random_grids(seed):
    rng = np.random.default_rng(seed)
    flag = rng.random((25, 25)) < rng.uniform(0.2, 0.6)
    lab = label_components(flag)
    assert (lab[~flag] == 0).all()
    assert (lab[flag] > 0).all()
    # labels are 1..k dense
    ids = np.unique(lab[lab > 0])
    assert (ids == np.arange(1, len(ids) + 1)).all()
    # every 8-connected neighbor pair of flagged pixels shares a label
    h, w = flag.shape
    for dr, dc in ((0, 1), (1, 0), (1, 1), (1, -1)):
        a = lab[max(0, -dr): h - max(0, dr), max(0, -dc): w - max(0, dc)]
        b = lab[max(0, dr): h + min(0, dr) or h, max(0, dc): w + min(0, dc) or w]
        both = (a > 0) & (b > 0)
        assert (a[both] == b[both]).all()


def _bfs_labels(flag: np.ndarray) -> np.ndarray:
    """Reference labeling: breadth-first flood fill, 8-connectivity,
    components numbered in scan order of their first pixel."""
    h, w = flag.shape
    out = np.zeros((h, w), dtype=np.int64)
    n = 0
    for r in range(h):
        for c in range(w):
            if not flag[r, c] or out[r, c]:
                continue
            n += 1
            out[r, c] = n
            queue = deque([(r, c)])
            while queue:
                y, x = queue.popleft()
                for yy in range(max(y - 1, 0), min(y + 2, h)):
                    for xx in range(max(x - 1, 0), min(x + 2, w)):
                        if flag[yy, xx] and not out[yy, xx]:
                            out[yy, xx] = n
                            queue.append((yy, xx))
    return out


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.floats(min_value=0.0, max_value=1.0),
    st.integers(min_value=0, max_value=2**32),
)
def test_label_components_equals_bfs_reference(h, w, density, seed):
    flag = np.random.default_rng(seed).random((h, w)) < density
    assert np.array_equal(label_components(flag), _bfs_labels(flag))


def _serpentine(n: int) -> np.ndarray:
    flag = np.zeros((n, n), dtype=bool)
    flag[::2, :] = True
    flag[1::4, -1] = True
    flag[3::4, 0] = True
    return flag


@pytest.mark.parametrize("flag", [
    _serpentine(31),
    (np.indices((17, 23)).sum(axis=0) % 2 == 0),   # checkerboard: one component
    (np.indices((17, 23)).sum(axis=0) % 3 == 0),   # diagonal stripes
    np.random.default_rng(1).random((1, 50)) < 0.5,
    np.random.default_rng(2).random((50, 1)) < 0.5,
    np.zeros((9, 13), dtype=bool),
    np.ones((9, 13), dtype=bool),
], ids=["serpentine", "checkerboard", "stripes", "1xN", "Nx1", "all_false", "all_true"])
def test_label_components_structured_grids(flag):
    assert np.array_equal(label_components(flag), _bfs_labels(flag))


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 10_000))
def test_priority_flood_fixpoint_properties(seed):
    """eps=0 priority-flood satisfies the depression-fill fixpoint:
    border F == elev; interior F == max(elev, min over D8 neighbors of F);
    and F >= elev everywhere."""
    from asf_tools_spark.core.dem import D8, priority_flood_fill

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(4, 9)), int(rng.integers(4, 9))
    elev = rng.uniform(0, 10, (h, w))
    if rng.random() < 0.5:
        r0, c0 = rng.integers(1, h - 1), rng.integers(1, w - 1)
        elev[r0, c0] = -5.0  # plant a pit
    F = priority_flood_fill(elev, eps=0.0)
    assert np.all(F >= elev - 1e-12)
    for r in range(h):
        for c in range(w):
            if r in (0, h - 1) or c in (0, w - 1):
                assert F[r, c] == elev[r, c]
            else:
                nmin = min(F[r + dr, c + dc] for dr, dc in D8)
                assert np.isclose(F[r, c], max(elev[r, c], nmin)), (r, c)
