"""End-to-end water-map pipeline: distributed plan vs the numpy mirror
(core.watermap_mirror is the golden-pinned spec; the distributed plan must
reproduce it stage for stage on a synthetic dual-pol scene)."""

import numpy as np
import pandas as pd
import pytest

from asf_tools_spark.core import watermap_mirror as mirror
from asf_tools_spark.operators import labeling
from asf_tools_spark.operators.labeling import label_connected
from asf_tools_spark.operators.tiling import long_grid_df
from asf_tools_spark.plans.water_map import make_water_map_grid
from scripts.bench_watermap import synth_scene

SHAPE = (120, 160)
TILE = (20, 20)


@pytest.fixture(scope="module")
def scene():
    """Deterministic dual-pol scene: smooth terrain HAND, two water bodies
    (low backscatter, low HAND), speckle noise, a nodata wedge."""
    rng = np.random.default_rng(123)
    rows, cols = SHAPE
    rr, cc = np.meshgrid(np.arange(rows), np.arange(cols), indexing="ij")

    hand = 18.0 * (1 + np.sin(rr / 23.0) * np.cos(cc / 31.0)) + rng.uniform(0, 4, SHAPE)
    lake1 = (rr - 40) ** 2 + (cc - 50) ** 2 < 28**2
    lake2 = (rr - 90) ** 2 / 0.6 + (cc - 120) ** 2 < 17**2
    water = lake1 | lake2
    hand[water] *= 0.05

    vh = rng.lognormal(mean=-2.3, sigma=0.4, size=SHAPE)
    vh[water] = rng.lognormal(mean=-5.2, sigma=0.25, size=SHAPE)[water]
    vv = rng.lognormal(mean=-1.4, sigma=0.4, size=SHAPE)
    vv[water] = rng.lognormal(mean=-4.2, sigma=0.25, size=SHAPE)[water]

    nodata = np.zeros(SHAPE, dtype=bool)
    nodata[:8, :12] = True
    vv_m = np.ma.MaskedArray(vv, mask=nodata)
    vh_m = np.ma.MaskedArray(vh, mask=nodata)
    hand_m = np.ma.MaskedArray(hand, mask=np.zeros(SHAPE, dtype=bool))
    return vv_m, vh_m, hand_m


@pytest.fixture(scope="module")
def mirror_result(scene):
    vv, vh, hand = scene
    return mirror.make_water_map(vv, vh, hand, tile_shape=TILE, pixel_size=30.0)


@pytest.fixture(scope="module")
def spark_result(spark, scene):
    vv, vh, hand = scene
    vv_g = long_grid_df(spark, vv, TILE, pad_value=0.0)
    vh_g = long_grid_df(spark, vh, TILE, pad_value=0.0)
    hand_g = long_grid_df(spark, hand, TILE, pad_value=np.nan)
    return make_water_map_grid(vv_g, vh_g, hand_g, SHAPE, tile_shape=TILE, pixel_size=30.0)


def _to_mask(df) -> np.ndarray:
    out = np.zeros(SHAPE, dtype=bool)
    for r in df.select("row", "col").collect():
        out[r.row, r.col] = True
    return out


def test_hand_candidates_match(mirror_result, spark_result):
    assert np.array_equal(spark_result["hand_candidates"], mirror_result["hand_candidates"])


def test_selected_tiles_match(mirror_result, spark_result):
    assert np.array_equal(spark_result["selected_tiles"], mirror_result["selected_tiles"])


def test_em_thresholds_match(mirror_result, spark_result):
    for pol in ("VH", "VV"):
        assert np.isclose(
            spark_result[f"gaussian_threshold_{pol}"], mirror_result[f"gaussian_threshold_{pol}"]
        ), pol


def test_initial_maps_match(mirror_result, spark_result):
    for pol in ("VH", "VV"):
        got = _to_mask(spark_result[f"initial_{pol}"])
        assert np.array_equal(got, mirror_result[f"initial_{pol}"]), pol


def test_final_water_map_matches(mirror_result, spark_result):
    got = _to_mask(spark_result["water_map"])
    exp = mirror_result["water_map"]
    # boolean map equality — label ids are arbitrary, the set of water
    # pixels is the contract
    assert np.array_equal(got, exp)


def _scene_grids(spark, vv, vh, hand):
    return [long_grid_df(spark, a, TILE, pad_value=p)
            for a, p in ((vv, 0.0), (vh, 0.0), (hand, np.nan))]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _assert_fails_cleanly(spark, grids, exc, match):
    """The map raises ``exc``, every pool thread it started is joined and
    every cache it made is released."""
    import threading

    spark.catalog.clearCache()
    before = set(threading.enumerate())
    with pytest.raises(exc, match=match):
        make_water_map_grid(*grids, SHAPE, tile_shape=TILE, pixel_size=30.0)
    leaked = [t.name for t in threading.enumerate()
              if t not in before and t.name.startswith("ThreadPoolExecutor")]
    assert leaked == []
    assert _cache_empty(spark)


@pytest.mark.parametrize("stage", ["select_tiles", "determine_em_threshold_distributed"])
def test_failed_stage_joins_pool_threads(spark, monkeypatch, stage):
    """An error in tile selection or in the EM fit propagates, and the
    pool tasks that overlap it are joined rather than left running."""
    from asf_tools_spark.operators import tiling

    def boom(*_a, **_kw):
        raise RuntimeError(f"{stage} failed")

    monkeypatch.setattr(tiling, stage, boom)
    # the bench scene's construction: unlike ``scene`` it selects
    # backscatter tiles at this tile size, so the EM fit runs
    vv, vh, hand = (np.ma.MaskedArray(a, mask=np.zeros(SHAPE, dtype=bool))
                    for a in synth_scene(*SHAPE, seed=1))
    _assert_fails_cleanly(spark, _scene_grids(spark, vv, vh, hand), RuntimeError, f"{stage} failed")


def test_all_zero_hand_raises_reference_error(spark, scene):
    """An all-zero HAND scene surfaces the reference's ValueError, not the
    hand-stats task's failure on its empty (None) median."""
    vv, vh, hand = scene
    zero = np.ma.MaskedArray(np.zeros(SHAPE), mask=np.zeros(SHAPE, dtype=bool))
    _assert_fails_cleanly(spark, _scene_grids(spark, vv, vh, zero), ValueError,
                          "All pixels in scene have a HAND value of 0.0")


def test_water_map_releases_caches(spark, scene):
    spark.catalog.clearCache()
    out = make_water_map_grid(*_scene_grids(spark, *scene), SHAPE, tile_shape=TILE, pixel_size=30.0)
    assert _cache_empty(spark)
    assert out["water_map"].count() > 0


def test_water_map_job_bound(spark, count_jobs):
    """Whole-map job count on the 300x400 bench scene with 50x50 tiles.
    Pool tasks inherit the caller's job group, so helper-thread jobs are
    counted too."""
    shape, tile = (300, 400), (50, 50)
    grids = [long_grid_df(spark, a, tile).localCheckpoint(eager=True) for a in synth_scene(*shape, seed=1)]
    n, jobs = count_jobs(lambda: make_water_map_grid(*grids, shape, tile_shape=tile)["water_map"].count())
    assert n > 0
    assert jobs <= 47, jobs


def test_distributed_labeling_matches_core(spark):
    """Cross-tile component merge vs single-array labeling on random flags."""
    rng = np.random.default_rng(7)
    flag = rng.random((60, 80)) < 0.35
    from asf_tools_spark.core.labeling import label_components

    expected = label_components(flag)

    arr = np.ma.MaskedArray(flag.astype(float), mask=~flag)
    g = long_grid_df(spark, arr, (16, 16), pad_value=0.0)
    labeled = label_connected(
        g.withColumn("flag", g["valid"] & (g["value"] > 0)).where("flag"), "flag", (16, 16)
    )
    got = np.zeros((60, 80), dtype=np.int64)
    for r in labeled.collect():
        got[r.row, r.col] = r.label
    # same pixel partition: canonicalize both labelings
    assert (got > 0).sum() == (expected > 0).sum()
    mapping = {}
    for e, g_ in zip(expected.ravel(), got.ravel()):
        if e == 0:
            assert g_ == 0
            continue
        assert g_ != 0
        if e in mapping:
            assert mapping[e] == g_, "component split or merged differently"
        else:
            mapping[e] = g_
    assert len(set(mapping.values())) == len(mapping), "two components merged"


def test_labeling_negative_coordinates(spark):
    """Connected components on a grid with negative row/col: the pmod edge
    mask and floor-based tile keys must merge across negative-index tiles."""
    from asf_tools_spark.core.labeling import label_components

    rng = np.random.default_rng(8)
    flag = rng.random((30, 30)) < 0.35
    expected = label_components(flag)
    off = -13
    pts = np.argwhere(flag)
    base = spark.createDataFrame(
        pd.DataFrame({
            "row": (pts[:, 0] + off).astype("int32"),
            "col": (pts[:, 1] + off).astype("int32"),
            "flag": True,
        })
    )
    out = label_connected(base, "flag", (10, 10))
    got = {(r.row - off, r.col - off): r.label for r in out.collect()}

    def canon(p):
        groups = {}
        for k, v in p.items():
            groups.setdefault(v, set()).add(k)
        return sorted(tuple(sorted(s)) for s in groups.values())

    exp_p = {(int(r), int(c)): int(expected[r, c]) for r, c in pts}
    assert canon(got) == canon(exp_p)


def test_distributed_merge_stress_10k_equivalences(spark, monkeypatch):
    """Stress the no-driver merge: 256x256 at 30% water over 8x8 tiles
    (1,024 tiles) produces >10k cross-tile boundary equivalences; the
    distributed merge must produce exactly the numpy components."""
    from asf_tools_spark.core.labeling import label_components

    rng = np.random.default_rng(4)
    flag = rng.random((256, 256)) < 0.3
    expected = label_components(flag)

    pts = np.argwhere(flag)
    pdf = pd.DataFrame({
        "row": pts[:, 0].astype("int32"), "col": pts[:, 1].astype("int32"), "flag": True
    })
    base = spark.createDataFrame(pdf)
    # DRIVER_EXACT_MAX_PX=0 forces the distributed path (the small-grid
    # guard would otherwise label this on the driver); DRIVER_MAX_EDGES=0
    # forces the distributed merge (the edge table would otherwise fit the
    # driver)
    monkeypatch.setattr(labeling, "DRIVER_EXACT_MAX_PX", 0)
    monkeypatch.setattr(labeling, "DRIVER_MAX_EDGES", 0)
    out = label_connected(base, "flag", (8, 8))
    got = {(r.row, r.col): r.label for r in out.collect()}
    assert len(got) == int(flag.sum())

    def canon(p):
        groups = {}
        for k, v in p.items():
            groups.setdefault(v, set()).add(k)
        return sorted(tuple(sorted(s)) for s in groups.values())

    exp_p = {(int(r), int(c)): int(expected[r, c]) for r, c in pts}
    assert canon(got) == canon(exp_p)


def _canon_partition(df) -> list:
    """Component partition of a (row, col, label) frame, label ids dropped."""
    groups = {}
    for r in df.collect():
        groups.setdefault(r.label, set()).add((r.row, r.col))
    return sorted(tuple(sorted(s)) for s in groups.values())


def _flag_frame(spark, pts):
    return spark.createDataFrame(pd.DataFrame({
        "row": pts[:, 0].astype("int32"), "col": pts[:, 1].astype("int32"), "flag": True
    }))


def test_distributed_labeling_distributed_merge(spark, monkeypatch):
    """The merge is chosen by the size of the boundary-edge table: below
    DRIVER_MAX_EDGES the driver union-find runs, above it the distributed
    merge runs once; both give the local guard's partition."""
    rng = np.random.default_rng(11)
    flag = rng.random((40, 40)) < 0.4
    arr = np.ma.MaskedArray(flag.astype(float), mask=~flag)
    g = long_grid_df(spark, arr, (10, 10), pad_value=0.0)
    base = g.withColumn("flag", g["valid"] & (g["value"] > 0)).where("flag")
    local = _canon_partition(label_connected(base, "flag", (10, 10)))

    calls = []
    distributed = labeling._merge_labels_distributed

    def counted(*args):
        calls.append(1)
        return distributed(*args)

    monkeypatch.setattr(labeling, "_merge_labels_distributed", counted)
    monkeypatch.setattr(labeling, "DRIVER_EXACT_MAX_PX", 0)
    a = label_connected(base, "flag", (10, 10))
    assert calls == []
    monkeypatch.setattr(labeling, "DRIVER_MAX_EDGES", 0)
    b = label_connected(base, "flag", (10, 10))
    assert calls == [1]
    assert _canon_partition(a) == _canon_partition(b) == local


def test_distributed_merge_long_u_shape(spark, monkeypatch):
    """A 1-px-wide U whose arms span 60 tile rows: provisional labels grow
    with the tile row, so the right arm's top tile is a local minimum and
    the global minimum (top of the left arm) reaches the arm only through
    the bottom row, 120 tiles away. The distributed merge must still give
    one component."""
    h, w = 120, 6
    flag = np.zeros((h, w), dtype=bool)
    flag[:, 0] = flag[:, w - 1] = flag[h - 1, :] = True
    base = _flag_frame(spark, np.argwhere(flag))
    local = _canon_partition(label_connected(base, "flag", (2, 2)))
    assert len(local) == 1
    monkeypatch.setattr(labeling, "DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(labeling, "DRIVER_EXACT_MAX_PX", 0)
    dist = label_connected(base, "flag", (2, 2))
    assert _canon_partition(dist) == local


def test_labeling_local_guard_matches_distributed(spark, monkeypatch):
    """r6 small-grid guard: the driver-local labeling path must produce
    the same component PARTITION as the distributed tile+merge path
    (label ids are arbitrary-but-consistent by contract)."""
    rng = np.random.default_rng(7)
    flag = rng.random((64, 64)) < 0.35
    pts = np.argwhere(flag)
    pdf = pd.DataFrame({
        "row": pts[:, 0].astype("int32"), "col": pts[:, 1].astype("int32"), "flag": True
    })
    base = spark.createDataFrame(pdf)
    local = label_connected(base, "flag", (8, 8))  # guard fires (n << 2M)
    monkeypatch.setattr(labeling, "DRIVER_EXACT_MAX_PX", 0)
    dist = label_connected(base, "flag", (8, 8))

    def canon(p):
        groups = {}
        for k, v in p.items():
            groups.setdefault(v, set()).add(k)
        return sorted(tuple(sorted(s)) for s in groups.values())

    pl = {(r.row, r.col): r.label for r in local.collect()}
    pd_ = {(r.row, r.col): r.label for r in dist.collect()}
    assert pl.keys() == pd_.keys()
    assert canon(pl) == canon(pd_)


def test_labeling_local_guard_falls_through_over_limit(spark, monkeypatch):
    """More flagged pixels than DRIVER_EXACT_MAX_PX: the bounded collect
    sees DRIVER_EXACT_MAX_PX + 1 rows and the distributed path labels the
    whole set."""
    flag = np.random.default_rng(21).random((40, 40)) < 0.35
    base = _flag_frame(spark, np.argwhere(flag))
    monkeypatch.setattr(labeling, "DRIVER_EXACT_MAX_PX", int(flag.sum()) // 3)
    over = label_connected(base, "flag", (8, 8))
    monkeypatch.setattr(labeling, "DRIVER_EXACT_MAX_PX", 0)
    dist = label_connected(base, "flag", (8, 8))
    assert over.count() == int(flag.sum())
    assert _canon_partition(over) == _canon_partition(dist)


def test_labeling_local_guard_falls_through_on_sparse_bbox(spark, monkeypatch):
    """Two clusters far apart: few pixels, but a bounding box far larger
    than the guard allows, so the distributed path runs."""
    rng = np.random.default_rng(22)
    blob = np.argwhere(rng.random((12, 12)) < 0.5)
    pts = np.concatenate([blob, blob + 3000])
    base = _flag_frame(spark, pts)
    monkeypatch.setattr(labeling, "DRIVER_EXACT_MAX_PX", 1000)
    sparse = label_connected(base, "flag", (8, 8))
    monkeypatch.setattr(labeling, "DRIVER_EXACT_MAX_PX", 0)
    dist = label_connected(base, "flag", (8, 8))
    assert sparse.count() == len(pts)
    assert _canon_partition(sparse) == _canon_partition(dist)


def test_distributed_merge_long_shuffled_path(spark, monkeypatch):
    """merge_labels on a 400-node path with shuffled labels plus random
    small components: the distributed merge gives the driver union-find's
    min-label components (plain min-label propagation would need ~400
    rounds)."""
    rng = np.random.default_rng(41)
    path = rng.permutation(400) + 1
    pairs = list(zip(path[:-1].tolist(), path[1:].tolist()))
    extra = rng.integers(1000, 1300, size=(150, 2)).tolist()
    pairs += [(int(a), int(b)) for a, b in extra if a != b]
    nodes = sorted({x for p in pairs for x in p} | {5000, 5001})
    labeled = spark.createDataFrame([(int(x), int(x)) for x in nodes], "key long, label long")
    edges = spark.createDataFrame(pairs, "label long, nbr_label long")
    driver = {r.key: r.label for r in labeling.merge_labels(labeled, edges).collect()}
    monkeypatch.setattr(labeling, "DRIVER_MAX_EDGES", 0)
    dist = {r.key: r.label for r in labeling.merge_labels(labeled, edges).collect()}
    assert dist == driver
    assert {driver[int(x)] for x in path} == {1}
    assert driver[5000] == 5000
