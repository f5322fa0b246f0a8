"""Vectorized planar geometry — point-in-polygon, bbox ops, cell covers.

Plays the role of OGR geometry intersection in the reference
(ref: src/asf_tools/vector.py:9-29 ``get_features`` /
``intersects_feature`` / ``get_property_values_for_intersecting_features``)
without GDAL: polygons are plain numpy rings, points are numpy columns, and
the test is an even-odd crossing-number count vectorized over the points
(polygon layers are the small/broadcast side, SURVEY §2.3 J1/J2).
"""

from __future__ import annotations

import numpy as np

from . import cells


def points_in_ring(lat: np.ndarray, lon: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon. ``ring``: (k, 2) array of (lon, lat)
    vertices, open or closed. Vectorized over points; loops over the (few)
    edges. Points exactly on an edge follow the half-open convention."""
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    vx = np.asarray(ring, dtype=np.float64)[:, 0]
    vy = np.asarray(ring, dtype=np.float64)[:, 1]
    if vx[0] != vx[-1] or vy[0] != vy[-1]:
        vx = np.append(vx, vx[0])
        vy = np.append(vy, vy[0])
    inside = np.zeros(x.shape, dtype=bool)
    for i in range(len(vx) - 1):
        x1, y1, x2, y2 = vx[i], vy[i], vx[i + 1], vy[i + 1]
        crosses = (y1 > y) != (y2 > y)
        if not crosses.any():
            continue
        x_at_y = (x2 - x1) * (y - y1) / (y2 - y1) + x1
        inside ^= crosses & (x < x_at_y)
    return inside


def ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    """(min_lat, min_lon, max_lat, max_lon) of a (k,2) lon/lat ring."""
    r = np.asarray(ring, dtype=np.float64)
    return float(r[:, 1].min()), float(r[:, 0].min()), float(r[:, 1].max()), float(r[:, 0].max())


def _edge_supercover(ring: np.ndarray, res: int) -> np.ndarray:
    """All cells crossed by any polygon edge: conservative DDA over the
    lat/lon grid (samples each edge at sub-cell resolution and adds the
    3x3 neighborhood of every sample cell — a superset of the exact
    supercover, cheap because polygon layers are small)."""
    r = np.asarray(ring, dtype=np.float64)
    if r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]:
        r = np.vstack([r, r[:1]])
    n = 1 << res
    cell_w, cell_h = 360.0 / n, 180.0 / n
    out = []
    for i in range(len(r) - 1):
        (x1, y1), (x2, y2) = r[i], r[i + 1]
        steps = int(max(abs(x2 - x1) / cell_w, abs(y2 - y1) / cell_h) * 2) + 2
        t = np.linspace(0.0, 1.0, steps)
        lons = x1 + (x2 - x1) * t
        lats = y1 + (y2 - y1) * t
        gx, gy = cells.grid_xy(lats, lons, res)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                out.append(cells.from_xy(np.clip(gx + dx, 0, n - 1), np.clip(gy + dy, 0, n - 1), res))
    return np.unique(np.concatenate(out))


def polygon_cover_cells(ring: np.ndarray, res: int) -> np.ndarray:
    """Cells at ``res`` intersecting the polygon — COMPLETE cover (no false
    negatives): cells crossed by any edge (supercover) union cells whose
    center lies inside. A cell partially inside without an edge crossing
    must contain the boundary-free interior, so its center is inside; a
    cell touched only by the boundary is in the edge supercover. This is
    the partition-pruning cover for the broadcast join build side
    (ref dem.py:39-45's catalog-intersection role); the exact
    point-in-polygon refine downstream removes any false positives.
    """
    min_lat, min_lon, max_lat, max_lon = ring_bbox(ring)
    cover = cells.cover_bbox(min_lat, min_lon, max_lat, max_lon, res)
    if cover.size <= 9:
        return cover
    lat_c, lon_c = cells.cell_center(cover)
    keep = points_in_ring(lat_c, lon_c, ring)
    inside = cover[keep]
    edges = _edge_supercover(ring, res)
    return np.unique(np.concatenate([inside, np.intersect1d(edges, cover)]))
