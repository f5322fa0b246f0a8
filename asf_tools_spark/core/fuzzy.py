"""Fuzzy-logic memberships for water-map refinement.

Re-implements (pure numpy, no skfuzzy) the semantics used by
ref: src/asf_tools/hydrosar/water_map.py:100-136,160-188:

- ``zmf``: Z-shaped membership function (closed form, identical to
  skfuzzy.zmf's piecewise-quadratic definition);
- ``min_max_membership`` (ref water_map.py:110-114): zmf evaluated on a
  ``resolution``-stepped grid then linearly interpolated at the data — we
  evaluate on the same quantized grid to stay value-compatible rather than
  evaluating the closed form directly (SURVEY §2.8 F4);
- ``determine_membership_limits`` (ref water_map.py:100-107);
- ``segment_area_membership`` (ref water_map.py:117-136);
- ``calculate_slope_magnitude`` (ref water_map.py:93-97) — NOTE: the
  reference calls ``np.sqrt(dx**2, dy**2)`` where the second argument is the
  *out* buffer, so the magnitude is |d/drow| only; replicated faithfully.
"""

from __future__ import annotations

import numpy as np


def zmf(x: np.ndarray, a: float, b: float) -> np.ndarray:
    """Z-shaped membership: 1 below ``a``, 0 above ``b``, quadratic blend."""
    x = np.asarray(x, dtype=np.float64)
    out = np.ones_like(x)
    if b == a:
        return np.where(x <= a, 1.0, 0.0)
    mid = (a + b) / 2.0
    t = (x - a) / (b - a)
    u = (x - b) / (b - a)
    # extreme x (far outside [a, b]) can overflow 2*t*t to inf; those
    # lanes are discarded by the np.where masks anyway — silence the
    # RuntimeWarning so real warnings stay visible in the test suite
    with np.errstate(over="ignore"):
        out = np.where((a <= x) & (x <= mid), 1.0 - 2.0 * t * t, out)
        # a < x: when a and b are adjacent doubles, mid can round down to a,
        # and x == a must still get 1 (zmf_col's when-chain order)
        out = np.where((a < x) & (mid <= x) & (x <= b), 2.0 * u * u, out)
    out = np.where(x >= b, 0.0, out)
    return out


def interp_membership(grid: np.ndarray, activation: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Linear interpolation of ``activation`` sampled at ``grid``, clamped at
    the ends (skfuzzy.interp_membership semantics)."""
    return np.interp(np.asarray(x, dtype=np.float64), grid, activation)


def min_max_membership(array: np.ndarray, lower: float, upper: float, resolution: float) -> np.ndarray:
    """zmf on the quantized grid arange(min, max, resolution), interpolated
    back at the data (ref water_map.py:110-114)."""
    arr = np.asarray(array, dtype=np.float64)
    grid = np.arange(arr.min(), arr.max(), resolution)
    if grid.size < 2:
        return zmf(arr, lower, upper)
    return interp_membership(grid, zmf(grid, lower, upper), arr)


def determine_membership_limits(
    array: np.ndarray, mask_percentile: float = 90.0, std_range: float = 3.0
) -> tuple[float, float]:
    """Median / median+3*std+5 limits over the 0-masked, p90-clipped array
    (ref water_map.py:100-107)."""
    masked = np.ma.masked_values(array, 0.0)
    cap = np.nanpercentile(masked.filled(np.nan), mask_percentile)
    masked = np.ma.masked_greater(masked, cap)
    lower = float(np.ma.median(masked))
    upper = lower + std_range * float(masked.std()) + 5.0
    return lower, upper


def segment_membership_by_area(area: np.ndarray, segment_id: np.ndarray,
                               min_area: int = 3, max_area: int = 10) -> np.ndarray:
    """Per-segment membership given segment pixel counts.

    Closed form of ref water_map.py:117-136: segments larger than
    ``max_area`` (except background 0) get 1.0; areas within
    [min_area, max_area] get ``1 - zmf(area; min_area, max_area)`` (the
    reference interpolates on the integer grid, which is exact at integer
    areas); everything else 0. Computed per *segment* (a groupBy(segment)
    aggregate in Spark) instead of per pixel.
    """
    area = np.asarray(area, dtype=np.float64)
    segment_id = np.asarray(segment_id)
    mem = np.zeros_like(area, dtype=np.float64)
    in_range = (area >= min_area) & (area <= max_area)
    mem[in_range] = 1.0 - zmf(area[in_range], float(min_area), float(max_area))
    mem[(area > max_area) & (segment_id != 0)] = 1.0
    return mem


def calculate_slope_magnitude(array: np.ndarray, pixel_size: float) -> np.ndarray:
    """Slope in degrees from the HAND surface (ref water_map.py:93-97,
    including the out-parameter quirk that makes magnitude = |d/drow|)."""
    dx, _dy = np.gradient(np.asarray(array, dtype=np.float64))
    magnitude = np.abs(dx) / pixel_size
    return np.arctan(magnitude) / np.pi * 180.0
