"""hillshade_horn / aspect_horn vs independent pure-numpy Horn replays."""

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from asf_tools_spark.core.io import local_frame
from asf_tools_spark.operators import tiling
from asf_tools_spark.operators.fuzzy_ops import aspect_horn, hillshade_horn


# the default tile (the 12x15 grid fits in one) and 4x5 tiles, whose edges
# and corners the 3x3 windows straddle
_TILES = [tiling.HALO_TILE, (4, 5)]


def _interior(spark, fn, arr, col, expect):
    """``fn`` over the dense grid ``arr`` (its NaN kept: pandas NaN arrive
    NULL) as an array over the interior, after checking that there is one
    row per interior cell and that a present NaN cell gives its windows a
    NaN row, not a NULL one."""
    h, w = arr.shape
    rows, cols = np.mgrid[0:h, 0:w]
    pdf = pd.DataFrame({
        "row": rows.ravel().astype(np.int32),
        "col": cols.ravel().astype(np.int32),
        "value": arr.ravel(),
    })
    sdf = fn(spark.createDataFrame(pdf).withColumn("value", F.coalesce("value", F.lit(float("nan")))), "value")
    out = sdf.toPandas()
    assert len(out) == (h - 2) * (w - 2)  # interior only
    assert sdf.where(F.isnan(col)).count() == np.isnan(expect).sum()
    got = np.full((h - 2, w - 2), np.nan)
    got[out["row"].to_numpy() - 1, out["col"].to_numpy() - 1] = out[col]
    return got


def _numpy_hillshade(arr, pixel=30.0, az=315.0, alt=45.0, z=1.0):
    """Independent formulation: numpy slicing, vectorized over the whole
    interior at once (no per-window loop, no shared code with the operator)."""
    a = arr[:-2, :-2]; b = arr[:-2, 1:-1]; c = arr[:-2, 2:]
    d = arr[1:-1, :-2];                    f = arr[1:-1, 2:]
    g = arr[2:, :-2];  h = arr[2:, 1:-1];  i = arr[2:, 2:]
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8 * pixel)
    dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8 * pixel)
    slope = np.arctan(z * np.hypot(dzdx, dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    zen = np.radians(90 - alt)
    azm = np.radians(360 - az + 90)
    hs = 255.0 * (np.cos(zen) * np.cos(slope)
                  + np.sin(zen) * np.sin(slope) * np.cos(azm - aspect))
    return np.maximum(hs, 0.0)


def test_hillshade_matches_numpy(spark, monkeypatch):
    for tile, nan_at in itertools.product(_TILES, [None, (5, 7)]):
        monkeypatch.setattr(tiling, "HALO_TILE", tile)
        arr = np.random.default_rng(7).normal(0.0, 5.0, (12, 15))
        if nan_at:
            arr[nan_at] = np.nan
        expect = _numpy_hillshade(arr)
        got = _interior(spark, hillshade_horn, arr, "hillshade", expect)
        np.testing.assert_allclose(got, expect, rtol=1e-9, atol=1e-9)


def test_hillshade_flat_is_constant(spark):
    rows, cols = np.mgrid[0:6, 0:6]
    pdf = pd.DataFrame({
        "row": rows.ravel().astype(np.int32),
        "col": cols.ravel().astype(np.int32),
        "value": np.full(36, 3.25),
    })
    out = hillshade_horn(spark.createDataFrame(pdf), "value").toPandas()
    # flat terrain: slope 0 -> shade = 255 * cos(zen) everywhere
    expect = 255.0 * np.cos(np.radians(45.0))
    np.testing.assert_allclose(out["hillshade"], expect, rtol=1e-12)


def test_hillshade_null_window_is_null(spark):
    """A window holding a NULL elevation shades NULL, as its aspect is
    NULL: ``greatest(0, NULL)`` alone would skip the NULL and shade 0.
    Horn never reads a window's centre, so the NULL cell's own window
    still shades."""
    arr = np.random.default_rng(3).normal(0.0, 5.0, (6, 7))
    rows = [(r, c, None if (r, c) == (2, 3) else float(arr[r, c])) for r in range(6) for c in range(7)]
    grid = local_frame(spark, rows, "row int, col int, value double")
    shade = hillshade_horn(grid, "value").toPandas()
    aspect = aspect_horn(grid, "value").toPandas()
    assert len(shade) == 4 * 5  # interior only
    dr, dc = (shade["row"] - 2).abs(), (shade["col"] - 3).abs()
    near = (dr <= 1) & (dc <= 1) & (dr + dc > 0)
    assert near.sum() == 8
    assert shade["hillshade"][near].isna().all(), shade[near]
    assert shade["hillshade"][~near].notna().all()
    both = shade.merge(aspect, on=["row", "col"])
    assert (both["hillshade"].isna() == both["aspect"].isna()).all()


def _numpy_aspect(arr, pixel=30.0):
    a = arr[:-2, :-2]; b = arr[:-2, 1:-1]; c = arr[:-2, 2:]
    d = arr[1:-1, :-2];                    f = arr[1:-1, 2:]
    g = arr[2:, :-2];  h = arr[2:, 1:-1];  i = arr[2:, 2:]
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8 * pixel)
    dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8 * pixel)
    az = np.mod(np.mod(90.0 - np.degrees(np.arctan2(dzdy, -dzdx)), 360.0)
                + 360.0, 360.0)
    return np.where((dzdx == 0.0) & (dzdy == 0.0), -1.0, az)


def test_aspect_matches_numpy(spark, monkeypatch):
    for tile, nan_at in itertools.product(_TILES, [None, (0, 14)]):
        monkeypatch.setattr(tiling, "HALO_TILE", tile)
        arr = np.random.default_rng(11).normal(0.0, 5.0, (12, 15))
        if nan_at:
            arr[nan_at] = np.nan
        expect = _numpy_aspect(arr)
        got = _interior(spark, aspect_horn, arr, "aspect", expect)
        np.testing.assert_allclose(got, expect, rtol=1e-9, atol=1e-9)
        assert (got[~np.isnan(got)] >= 0.0).all()  # nothing flat here


def test_aspect_flat_and_cardinal(spark):
    # a plane rising due south: steepest DESCENT points north -> aspect 0
    rows, cols = np.mgrid[0:6, 0:6]
    pdf = pd.DataFrame({
        "row": rows.ravel().astype(np.int32),
        "col": cols.ravel().astype(np.int32),
        "value": rows.ravel().astype(float) * 2.0,
    })
    out = aspect_horn(spark.createDataFrame(pdf), "value").toPandas()
    np.testing.assert_allclose(out["aspect"], 0.0, atol=1e-12)
    # flat plane -> sentinel
    pdf["value"] = 1.5
    out = aspect_horn(spark.createDataFrame(pdf), "value").toPandas()
    np.testing.assert_allclose(out["aspect"], -1.0)
