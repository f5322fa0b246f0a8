"""Re-gridding, Gaussian NaN infill (core + distributed), streaming ingest."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from asf_tools_spark.core.infill import fill_hand, fill_nan, gaussian_kernel, interpolate_replace_nans
from asf_tools_spark.operators import tiling
from asf_tools_spark.operators.regrid import fill_nan_distributed, regrid


def test_gaussian_kernel_shape():
    k = gaussian_kernel(3.0)
    assert k.shape == (25, 25)
    assert np.isclose(k.sum(), 1.0)
    assert k[12, 12] == k.max()


def test_interpolate_replace_nans_single_hole():
    arr = np.ones((9, 9))
    arr[4, 4] = np.nan
    out = interpolate_replace_nans(arr, gaussian_kernel(1.0))
    assert np.isclose(out[4, 4], 1.0)  # weighted mean of all-ones neighbors
    assert np.array_equal(out[~np.isnan(arr)], arr[~np.isnan(arr)])


def test_fill_nan_iterates_to_completion():
    rng = np.random.default_rng(2)
    arr = rng.uniform(5, 10, (30, 30))
    arr[10:20, 10:20] = np.nan  # hole wider than one kernel pass at σ=1
    out = fill_nan(arr, stddev=1.0)
    assert not np.isnan(out).any()
    assert 5 <= out[15, 15] <= 10


def test_fill_hand_semantics():
    dem = np.full((5, 5), 100.0)
    hand = np.full((5, 5), 2.0)
    hand[2, 2] = np.nan
    out = fill_hand(hand, dem)
    assert np.isclose(out[2, 2], 2.0, atol=0.2)  # hond interpolation
    assert (out >= 0).all()


def test_fill_nan_distributed_matches_core(spark, monkeypatch):
    """On the default tile (one tile holds the grid) and on 16x16 tiles,
    which the blob crosses: the output does not depend on the tile."""
    rng = np.random.default_rng(3)
    arr = rng.uniform(0, 50, (40, 50))
    arr[12:18, 28:37] = np.nan  # blob crossing the 16x16 tile boundary
    expected = fill_nan(arr, stddev=2.0)

    rows = [(int(r), int(c), float(arr[r, c])) for r in range(40) for c in range(50)]
    grid = spark.createDataFrame(rows, "row int, col int, value double")
    for tile in (tiling.HALO_TILE, (16, 16)):
        monkeypatch.setattr(tiling, "HALO_TILE", tile)
        out = fill_nan_distributed(grid, (40, 50), stddev=2.0)
        got = np.full((40, 50), np.nan)
        for r in out.collect():
            got[r.row, r.col] = r.value
        assert not np.isnan(got).any()
        assert np.allclose(got, expected, atol=1e-9)


def test_fill_nan_distributed_all_nan_stops(spark, count_jobs):
    """An all-NaN grid has nothing to fill from: the first round fills
    nothing, so the rounds stop there and every cell stays NaN, as in
    core fill_nan (the rounds used to run on to a 50-round cap)."""
    h, w = 20, 30
    assert np.isnan(fill_nan(np.full((h, w), np.nan), stddev=1.0)).all()
    grid = spark.createDataFrame(
        [(r, c, float("nan")) for r in range(h) for c in range(w)], "row int, col int, value double"
    )
    rows, jobs = count_jobs(lambda: fill_nan_distributed(grid, (h, w), stddev=1.0).collect())
    assert len(rows) == h * w and all(np.isnan(r.value) for r in rows)
    # one round (its shuffle stage, its checkpoint, its count) and the collect
    assert jobs <= 6, jobs


def test_regrid_average_downsample(spark):
    arr = np.arange(16, dtype=float).reshape(4, 4)
    rows = [(r, c, float(arr[r, c])) for r in range(4) for c in range(4)]
    src = spark.createDataFrame(rows, "row int, col int, value double")
    out = {(r.row, r.col): r.value for r in regrid(src, 0.5, 0.5).collect()}
    # 2x2 blocks averaged
    assert np.isclose(out[(0, 0)], np.mean(arr[:2, :2]))
    assert np.isclose(out[(1, 1)], np.mean(arr[2:, 2:]))


def test_regrid_nearest_upsample(spark):
    arr = np.array([[1.0, 2.0], [3.0, 4.0]])
    rows = [(r, c, float(arr[r, c])) for r in range(2) for c in range(2)]
    src = spark.createDataFrame(rows, "row int, col int, value double")
    out = {(r.row, r.col): r.value for r in regrid(src, 2.0, 2.0, method="nearest").collect()}
    # each source pixel claims its destination block corner
    assert out[(0, 0)] == 1.0 and out[(2, 2)] == 4.0


def _lanczos_np(t: np.ndarray, a: int = 3) -> np.ndarray:
    t = np.asarray(t, dtype=float)
    out = np.zeros_like(t)
    zero = np.abs(t) < 1e-12
    inside = (np.abs(t) < a) & ~zero
    pt = np.pi * t[inside]
    out[inside] = np.sin(pt) / pt * (np.sin(pt / a) / (pt / a))
    out[zero] = 1.0
    return out


def _regrid_lanczos_np(arr, row_scale, col_scale, row_off=0.0, col_off=0.0, a=3):
    """Full numpy oracle mirroring the operator's candidate enumeration and
    weighted aggregate."""
    num, den = {}, {}
    h, w = arr.shape
    for r in range(h):
        for c in range(w):
            sr, sc = r + 0.5, c + 0.5
            r_lo = int(np.ceil((sr - a) * row_scale + row_off - 0.5))
            r_hi = int(np.floor((sr + a) * row_scale + row_off - 0.5))
            c_lo = int(np.ceil((sc - a) * col_scale + col_off - 0.5))
            c_hi = int(np.floor((sc + a) * col_scale + col_off - 0.5))
            for dr in range(r_lo, r_hi + 1):
                for dc in range(c_lo, c_hi + 1):
                    tr = (dr + 0.5 - row_off) / row_scale - sr
                    tc = (dc + 0.5 - col_off) / col_scale - sc
                    wgt = float(_lanczos_np(np.array([tr]))[0] * _lanczos_np(np.array([tc]))[0])
                    if wgt != 0.0:
                        num[(dr, dc)] = num.get((dr, dc), 0.0) + wgt * arr[r, c]
                        den[(dr, dc)] = den.get((dr, dc), 0.0) + wgt
    return {k: num[k] / den[k] for k in num}


def test_regrid_lanczos_matches_numpy_oracle(spark):
    """S6 kernel fidelity (ref prepare.py:53-86 Lanczos warp): the scattered
    weighted aggregate equals the dense numpy Lanczos on a 2x upsample."""
    rng = np.random.default_rng(7)
    arr = rng.uniform(0, 50, (12, 10))
    rows = [(r, c, float(arr[r, c])) for r in range(12) for c in range(10)]
    src = spark.createDataFrame(rows, "row int, col int, value double")
    got = {(r.row, r.col): r.value for r in regrid(src, 2.0, 2.0, method="lanczos").collect()}
    exp = _regrid_lanczos_np(arr, 2.0, 2.0)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert np.isclose(got[k], v, rtol=0, atol=1e-9), (k, got[k], v)


def test_regrid_lanczos_identity_is_exact(spark):
    """Identity warp: kernel distances are integers, sinc zeros everywhere
    but t=0 — Lanczos reproduces the source exactly."""
    arr = np.arange(30, dtype=float).reshape(5, 6) * 1.7
    rows = [(r, c, float(arr[r, c])) for r in range(5) for c in range(6)]
    src = spark.createDataFrame(rows, "row int, col int, value double")
    got = {(r.row, r.col): r.value for r in regrid(src, 1.0, 1.0, method="lanczos").collect()}
    for r in range(5):
        for c in range(6):
            assert np.isclose(got[(r, c)], arr[r, c], rtol=0, atol=1e-12)


def test_streaming_windowed_counts(spark, tmp_path):
    """availableNow file-source stream == batch computation on same data."""
    from asf_tools_spark.sources.pages import geotag_pages, synth_pages
    from asf_tools_spark.streaming.ingest import start_ingest, stream_pages

    src = str(tmp_path / "src")
    synth_pages(spark, 2000).write.parquet(src)

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    pages = stream_pages(spark, src)
    q = start_ingest(pages, out_dir, ckpt, cell_res=4)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    batch = (
        geotag_pages(spark.read.parquet(src).select("url", "warc_ts", "html", "text", "lang"),
                     key="url", cell_res=4)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "cell_id", "n_pages")
    )
    g = {(r.window_start, r.cell_id): r.n_pages for r in got.collect()}
    b = {(r.window_start, r.cell_id): r.n_pages for r in batch.collect()}
    # append mode emits only watermark-closed windows: the trailing windows
    # (within the 2h watermark of the max event time) stay in state
    assert len(g) > 0
    assert all(b[k] == v for k, v in g.items())
    missing = sorted(set(b) - set(g))
    max_start = max(k[0] for k in b)
    import datetime

    for k in missing:
        assert k[0] >= max_start - datetime.timedelta(hours=3), k
    # resumability: restarting on the same checkpoint emits nothing new
    q2 = start_ingest(stream_pages(spark, src), out_dir, ckpt, cell_res=4)
    q2.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == len(g)
