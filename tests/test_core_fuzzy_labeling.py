"""Fuzzy membership + connected-component cores."""

import math

import numpy as np
import pytest

from asf_tools_spark.core.fuzzy import (
    calculate_slope_magnitude,
    determine_membership_limits,
    min_max_membership,
    segment_membership_by_area,
    zmf,
)
from asf_tools_spark.core.labeling import (
    UnionFind,
    label_components,
    remove_small_segments_mask,
)


def test_zmf_shape():
    x = np.linspace(0, 10, 101)
    m = zmf(x, 2.0, 8.0)
    assert m[0] == 1.0 and m[-1] == 0.0
    assert np.isclose(m[np.searchsorted(x, 5.0)], 0.5)  # midpoint = 0.5
    assert (np.diff(m) <= 1e-12).all()  # monotone non-increasing


def test_min_max_membership_quantized_grid():
    arr = np.array([0.0, 2.0, 5.0, 8.0, 10.0])
    m = min_max_membership(arr, 2.0, 8.0, 0.005)
    assert m[0] == 1.0
    assert np.isclose(m[2], 0.5, atol=0.01)
    assert m[4] <= 0.01


def test_segment_membership_by_area():
    areas = np.array([50, 2, 3, 7, 10, 11])
    ids = np.array([0, 1, 2, 3, 4, 5])
    m = segment_membership_by_area(areas, ids, 3, 10)
    assert m[0] == 0.0  # background stays 0 even when huge
    assert m[1] == 0.0  # below min_area
    assert m[2] == 0.0  # area == min -> activation 1-zmf(3;3,10) = 0
    assert 0 < m[3] < 1
    assert m[4] == 1.0  # area == max -> activation 1-zmf(10;3,10) = 1
    assert m[5] == 1.0  # above max


def test_determine_membership_limits():
    rng = np.random.default_rng(3)
    arr = np.concatenate([np.zeros(100), rng.uniform(1, 20, 900)])
    lower, upper = determine_membership_limits(arr)
    assert upper > lower > 0


def test_slope_magnitude_quirk():
    # plane tilted along rows only: |d/drow| = 1 -> atan(1/px)
    arr = np.tile(np.arange(10.0)[:, None], (1, 8))
    slope = calculate_slope_magnitude(arr, pixel_size=1.0)
    assert np.allclose(slope, 45.0)
    # tilt along cols only is INVISIBLE due to the reference's out-arg quirk
    arr_t = arr.T.copy()
    slope_t = calculate_slope_magnitude(arr_t.T * 0 + np.arange(8.0)[None, :], 1.0)
    assert np.allclose(slope_t, 0.0)


def test_label_components_matches_expected():
    flag = np.array(
        [
            [1, 1, 0, 0, 1],
            [0, 1, 0, 1, 0],  # diagonal connects (1,3) to (0,4): 8-connectivity
            [0, 0, 0, 0, 0],
            [1, 0, 0, 0, 1],
        ],
        dtype=bool,
    )
    lab = label_components(flag)
    assert lab[0, 0] == lab[0, 1] == lab[1, 1] == 1
    assert lab[0, 4] == lab[1, 3] == 2
    assert lab[3, 0] == 3
    assert lab[3, 4] == 4
    assert (lab[flag] > 0).all() and (lab[~flag] == 0).all()


def test_label_components_snake():
    # a winding 1-px path must stay one component
    flag = np.zeros((20, 20), dtype=bool)
    flag[0, :] = True
    flag[:, -1] = True
    flag[-1, :] = True
    lab = label_components(flag)
    assert lab.max() == 1


def test_remove_small_segments():
    seg = np.array([[1, 1, 0], [0, 2, 0], [3, 3, 3]])
    keep = remove_small_segments_mask(seg, min_area=2)
    assert keep[0, 0] and keep[0, 1]
    assert not keep[1, 1]  # area 1 < 2
    assert keep[2].all()


def test_union_find_deterministic():
    uf = UnionFind()
    uf.union(5, 3)
    uf.union(3, 9)
    uf.union(1, 2)
    assert uf.find(9) == 3
    assert uf.find(5) == 3
    assert uf.find(2) == 1


def _zmf_ref(x, a, b):
    """zmf_col's formula on one Python float."""
    if a == b:
        return 1.0 if x <= a else 0.0
    if x <= a:
        return 1.0
    if x <= (a + b) / 2.0:
        t = (x - a) / (b - a)
        return 1.0 - 2.0 * t * t
    if x < b:
        u = (x - b) / (b - a)
        return 2.0 * u * u
    return 0.0


def _membership_ref(x, start, stop, step, a, b):
    """np.interp over zmf sampled at start + k*step, clamped at the grid
    ends; NaN maps to None (NULL). Fewer than two samples: closed form."""
    npts = len(np.arange(start, stop, step))
    if npts < 2:
        return _zmf_ref(x, a, b)
    if math.isnan(x):
        return None
    last = start + (npts - 1) * step
    if x <= start:
        return _zmf_ref(start, a, b)
    if x >= last:
        return _zmf_ref(last, a, b)
    i = min(max(math.floor((x - start) / step), 0), npts - 2)
    g = start + i * step
    lo, hi = _zmf_ref(g, a, b), _zmf_ref(g + step, a, b)
    return lo + (x - g) / step * (hi - lo)


@pytest.mark.parametrize("start,stop,step,a,b", [
    (0.3, 2.7, 0.005, 0.8, 2.1),     # gaussian-style grid
    (-3.2, 11.9, 0.1, 0.0, 15.0),    # slope-style grid, b beyond the grid
    (0.0, 40.3, 0.1, 2.2, 17.6),     # hand-style grid
    (1.0, 6.0, 0.1, 2.5, 2.5),       # a == b
    (1.0, 1.004, 0.005, 0.5, 2.0),   # one sample: closed form
    (2.0, 2.0, 0.1, 1.0, 3.0),       # no samples: closed form
])
def test_interp_membership_col_exact(spark, start, stop, step, a, b):
    """The Spark table lookup equals the sampled-grid formula bit for bit
    (==, not isclose), including NaN and both clamped ends."""
    from asf_tools_spark.operators.fuzzy_ops import interp_membership_col

    rng = np.random.default_rng(17)
    npts = len(np.arange(start, stop, step))
    last = start + (npts - 1) * step
    xs = [float(v) for v in rng.uniform(start - 1.0, stop + 1.0, 400)]
    xs += [math.nan, start, stop, last, start - 1.0, stop + 1.0, a, b, (a + b) / 2.0]
    xs += [start + k * step for k in range(0, max(npts, 1), max(npts // 7, 1))]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    got = [r.m for r in df.select(
        "i", interp_membership_col("x", start, stop, step, a, b).alias("m")
    ).orderBy("i").collect()]
    assert got == [_membership_ref(x, start, stop, step, a, b) for x in xs]
