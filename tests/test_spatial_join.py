"""Spatial join: cover completeness, PIP refine exactness, kNN semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from asf_tools_spark.core import cells, geometry
from asf_tools_spark.operators.spatial_join import knn_join, spatial_join_polygons
from asf_tools_spark.sources.pages import synth_pages
from asf_tools_spark.sources.polygons import watershed_boxes, watershed_polygons


def test_points_in_ring_square():
    square = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    lat = np.array([5.0, 5.0, 15.0, -1.0, 9.99])
    lon = np.array([5.0, 10.5, 5.0, 5.0, 0.01])
    got = geometry.points_in_ring(lat, lon, square)
    assert got.tolist() == [True, False, False, False, True]


def test_cover_complete_for_sliver():
    """A thin sliver crossing cells without containing any center/vertex
    must still cover those cells (the false-negative case)."""
    # long thin triangle cutting horizontally across many cells at res 8
    ring = np.array([[-20.0, 0.01], [20.0, 0.012], [20.0, 0.013]])
    cover = geometry.polygon_cover_cells(ring, 8)
    # every cell along the path of the long edge must be present
    for lon in np.arange(-19.5, 20.0, 1.0):
        c = int(cells.encode(np.array([0.011]), np.array([lon]), 8)[0])
        assert c in cover, lon


def test_cover_matches_bruteforce_membership():
    rng = np.random.default_rng(9)
    for poly in watershed_polygons(4, seed=5):
        ring = poly["ring"]
        cover = set(geometry.polygon_cover_cells(ring, 7).tolist())
        min_lat, min_lon, max_lat, max_lon = geometry.ring_bbox(ring)
        lat = rng.uniform(min_lat, max_lat, 2000)
        lon = rng.uniform(min_lon, max_lon, 2000)
        inside = geometry.points_in_ring(lat, lon, ring)
        pts_cells = cells.encode(lat[inside], lon[inside], 7)
        missing = set(pts_cells.tolist()) - cover
        assert not missing  # no inside point falls in an uncovered cell


def test_spatial_join_ring_equals_bruteforce(spark):
    pages = synth_pages(spark, 20000, cell_res=8).select("url", "lat", "lon", "cell_id").persist()
    polys = watershed_polygons(6, seed=11)
    joined = spatial_join_polygons(pages, polys, res=8)
    got = {(r.url, r.poly_id) for r in joined.select("url", "poly_id").collect()}

    rows = pages.select("url", "lat", "lon").collect()
    lat = np.array([r.lat for r in rows])
    lon = np.array([r.lon for r in rows])
    urls = [r.url for r in rows]
    expected = set()
    for p in polys:
        inside = geometry.points_in_ring(lat, lon, p["ring"])
        expected |= {(urls[i], p["poly_id"]) for i in np.nonzero(inside)[0]}
    assert got == expected


def test_spatial_join_boxes_semi(spark):
    pages = synth_pages(spark, 5000, cell_res=8)
    boxes = watershed_boxes()
    inner = spatial_join_polygons(pages, boxes, res=8, how="inner")
    semi = spatial_join_polygons(pages, boxes, res=8, how="left_semi")
    assert semi.count() <= inner.count()
    assert semi.count() == inner.select("lat", "lon", "cell_id").distinct().count()


def _edge_case_pages(spark):
    """Pages around four boxes: random points plus points exactly on every
    corner and edge midpoint of every box."""
    from asf_tools_spark.functions.spatial import with_cell_col

    boxes = [
        {"poly_id": 1, "min_lat": 10.0, "min_lon": 10.0, "max_lat": 12.0, "max_lon": 12.0},
        # overlaps box 1 on [11, 12] x [11, 12]
        {"poly_id": 2, "min_lat": 11.0, "min_lon": 11.0, "max_lat": 13.0, "max_lon": 13.5},
        # boxes 3 and 4 are disjoint but lie in the same res-8 cell
        {"poly_id": 3, "min_lat": 20.05, "min_lon": 20.05, "max_lat": 20.15, "max_lon": 20.15},
        {"poly_id": 4, "min_lat": 20.25, "min_lon": 20.25, "max_lat": 20.35, "max_lon": 20.35},
    ]
    rng = np.random.default_rng(7)
    pts = [(float(a), float(b)) for a, b in rng.uniform(9.0, 14.0, (3000, 2))]
    pts += [(float(a), float(b)) for a, b in rng.uniform(19.9, 20.5, (1000, 2))]
    for b in boxes:
        lat_mid = (b["min_lat"] + b["max_lat"]) / 2
        lon_mid = (b["min_lon"] + b["max_lon"]) / 2
        for la in (b["min_lat"], lat_mid, b["max_lat"]):
            for lo in (b["min_lon"], lon_mid, b["max_lon"]):
                pts.append((la, lo))
    rows = [(f"u{i}", la, lo, float(i)) for i, (la, lo) in enumerate(pts)]
    pages = spark.createDataFrame(rows, "url string, lat double, lon double, value double")
    return with_cell_col(pages, "lat", "lon", 8, "cell_id"), boxes


def test_spatial_join_boxes_equals_bruteforce(spark):
    """The box branch (one cell_id join carrying the box test) returns
    exactly the rows of a brute-force inclusive box filter over every
    (page, box) pair, with columns poly_id, cell_id, then the page columns."""
    pages, boxes = _edge_case_pages(spark)
    pages = pages.persist()
    covers = [set(cells.cover_bbox(b["min_lat"], b["min_lon"], b["max_lat"], b["max_lon"], 8).tolist())
              for b in boxes]
    assert covers[2] & covers[3], "boxes 3 and 4 must share a cover cell"

    joined = spatial_join_polygons(pages, boxes, res=8)
    assert joined.columns == ["poly_id", "cell_id", "url", "lat", "lon", "value"]

    bounds = spark.createDataFrame(
        [(b["poly_id"], b["min_lat"], b["min_lon"], b["max_lat"], b["max_lon"]) for b in boxes],
        "poly_id int, b_lat0 double, b_lon0 double, b_lat1 double, b_lon1 double",
    )
    brute = pages.crossJoin(bounds).where(
        (F.col("lat") >= F.col("b_lat0")) & (F.col("lat") <= F.col("b_lat1"))
        & (F.col("lon") >= F.col("b_lon0")) & (F.col("lon") <= F.col("b_lon1"))
    ).select(*joined.columns)
    got = sorted(tuple(r) for r in joined.collect())
    assert got == sorted(tuple(r) for r in brute.collect())

    pairs = {(r[2], r[0]) for r in got}
    by_url = {}
    for url, pid in pairs:
        by_url.setdefault(url, set()).add(pid)
    assert any(v == {1, 2} for v in by_url.values()), "overlap must give two rows"
    # pages exactly on a bound are inside: every corner of every box
    for b in boxes:
        for la in (b["min_lat"], b["max_lat"]):
            for lo in (b["min_lon"], b["max_lon"]):
                on = pages.where((F.col("lat") == la) & (F.col("lon") == lo)).select("url").collect()
                assert on and all((r.url, b["poly_id"]) in pairs for r in on)
    assert {pid for _u, pid in pairs} == {1, 2, 3, 4}

    semi = spatial_join_polygons(pages, boxes, res=8, how="left_semi")
    assert sorted(semi.columns) == sorted(pages.columns)
    semi_urls = [r.url for r in semi.select("url").collect()]
    assert len(semi_urls) == len(set(semi_urls))
    assert set(semi_urls) == {url for url, _pid in pairs}
    pages.unpersist()


def test_knn_exactness_within_ring(spark):
    pages = synth_pages(spark, 3000, cell_res=8)
    targets = [
        {"target_id": 0, "lat": 40.0, "lon": -74.0},
        {"target_id": 1, "lat": 41.0, "lon": -73.0},
        {"target_id": 2, "lat": 39.0, "lon": -75.0},
    ]
    out = knn_join(pages, targets, k=2, res=5, max_ring=2, point_key="url").collect()
    # ranks are 1..k per point, distances non-decreasing with rank
    by_url = {}
    for r in out:
        by_url.setdefault(r.url, []).append((r.knn_rank, r.dist_km, r.target_id))
    for url, lst in by_url.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        dists = [x[1] for x in lst]
        assert dists == sorted(dists)
