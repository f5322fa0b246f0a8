"""Synthetic watershed / flood polygon layers (the small broadcast side).

Plays the role of the reference's remote GeoJSON tile/watershed catalogs
(ref: src/asf_tools/dem.py:12, src/asf_tools/hydrosar/hand/prepare.py:15,
loaded via vector.get_features ref vector.py:9-12). Deterministic from an
integer seed; two flavors:

- ``watershed_boxes``: axis-aligned boxes -> SQL-expressible, used by the
  DuckDB-oracle join queries;
- ``watershed_polygons``: 12-gon rings -> exercises the exact
  point-in-polygon refine stage.
"""

from __future__ import annotations

import numpy as np

from ..core.io import local_frame


def watershed_boxes(n: int = 24, seed: int = 42) -> list[dict]:
    """Deterministic lat/lon boxes: [{poly_id, min_lat, min_lon, max_lat,
    max_lon, file_path}]. Sized 2-10 degrees, mid-latitudes."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        clat = float(rng.uniform(-55, 55))
        clon = float(rng.uniform(-170, 170))
        h = float(rng.uniform(1.0, 5.0))
        w = float(rng.uniform(1.0, 5.0))
        out.append(
            {
                "poly_id": i,
                "min_lat": clat - h,
                "min_lon": clon - w,
                "max_lat": clat + h,
                "max_lon": clon + w,
                "file_path": f"s3://watersheds/tile_{i:04d}.tif",
            }
        )
    return out


def boxes_values_sql(boxes: list[dict]) -> str:
    """A VALUES subquery for the boxes — identical text for Spark & DuckDB."""
    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    rows = ", ".join(
        f"({b['poly_id']}, {d(b['min_lat'])}, {d(b['min_lon'])}, {d(b['max_lat'])}, {d(b['max_lon'])})"
        for b in boxes
    )
    return f"(SELECT * FROM (VALUES {rows}) AS t(poly_id, min_lat, min_lon, max_lat, max_lon))"


def watershed_polygons(n: int = 24, seed: int = 42, n_vertices: int = 12) -> list[dict]:
    """Deterministic star-convex 12-gon rings:
    [{poly_id, ring: (k,2) ndarray of (lon,lat), file_path}]."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        clat = float(rng.uniform(-55, 55))
        clon = float(rng.uniform(-170, 170))
        angles = np.linspace(0, 2 * np.pi, n_vertices, endpoint=False)
        radii = rng.uniform(1.0, 4.0, n_vertices)
        ring = np.stack([clon + radii * np.cos(angles), clat + radii * np.sin(angles)], axis=1)
        out.append({"poly_id": i, "ring": ring, "file_path": f"s3://watersheds/poly_{i:04d}.geojson"})
    return out


def polygon_vertices_df(spark, polys: list[dict]):
    """Exploded (poly_id, idx, lon, lat) vertex table for the ring list —
    the DataFrame twin of :func:`vertices_values_sql` (identical float
    literals both ways: repr round-trips the exact double)."""
    rows = [
        (p["poly_id"], i, float(v[0]), float(v[1]))
        for p in polys
        for i, v in enumerate(p["ring"])
    ]
    return local_frame(spark, rows, "poly_id int, idx int, lon double, lat double")


def vertices_values_sql(polys: list[dict]) -> str:
    """DuckDB VALUES emitter for the same vertex table."""
    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    rows = ", ".join(
        f"({p['poly_id']}, {i}, {d(float(v[0]))}, {d(float(v[1]))})"
        for p in polys
        for i, v in enumerate(p["ring"])
    )
    return f"(SELECT * FROM (VALUES {rows}) AS t(poly_id, idx, lon, lat))"


def polygon_edges_df(spark, polys: list[dict]):
    """Exploded (poly_id, x1, y1, x2, y2) RING-EDGE table (closing edge
    included) — the broadcast build side of the pure-Catalyst
    crossing-number PIP join; float literals identical to
    :func:`edges_values_sql` (repr round-trips the exact double)."""
    rows = []
    for p in polys:
        ring = p["ring"]
        k = len(ring)
        for i in range(k):
            a, b = ring[i], ring[(i + 1) % k]
            rows.append(
                (p["poly_id"], float(a[0]), float(a[1]), float(b[0]), float(b[1]))
            )
    return local_frame(spark, rows, "poly_id int, x1 double, y1 double, x2 double, y2 double")


def edges_values_sql(polys: list[dict]) -> str:
    """DuckDB VALUES emitter for the same ring-edge table."""
    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    parts = []
    for p in polys:
        ring = p["ring"]
        k = len(ring)
        for i in range(k):
            a, b = ring[i], ring[(i + 1) % k]
            parts.append(
                f"({p['poly_id']}, {d(float(a[0]))}, {d(float(a[1]))},"
                f" {d(float(b[0]))}, {d(float(b[1]))})"
            )
    return (
        "(SELECT * FROM (VALUES "
        + ", ".join(parts)
        + ") AS t(poly_id, x1, y1, x2, y2))"
    )


def _dp_keep_mask_py(x: list, y: list, tol: float) -> list:
    """Pure-Python (no numpy) Douglas-Peucker keep mask for an open
    chain — the ORACLE's independent replay of
    operators.geometry._dp_keep_mask_np. Must keep the identical
    deterministic tie rule: first index at the max."""
    n = len(x)
    keep = [False] * n
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        ax, ay, bx, by = x[i], y[i], x[j], y[j]
        den = ((bx - ax) ** 2 + (by - ay) ** 2) ** 0.5
        best_k, best_d = 0, -1.0
        for k in range(j - i - 1):
            px, py = x[i + 1 + k], y[i + 1 + k]
            if den > 0:
                d = abs((bx - ax) * (ay - py) - (ax - px) * (by - ay)) / den
            else:
                d = ((px - ax) ** 2 + (py - ay) ** 2) ** 0.5
            if d > best_d:
                best_k, best_d = k, d
        if best_d > tol:
            m = i + 1 + best_k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def simplify_rings_py(polys: list[dict], tol: float) -> list[tuple]:
    """(poly_id, idx, lon, lat) kept vertices per ring — pure-Python DP
    replay (same ring-split anchors and tie rules as
    geometry.simplify_rings)."""
    out = []
    for p in polys:
        ring = [(float(v[0]), float(v[1])) for v in p["ring"]]
        x = [v[0] for v in ring]
        y = [v[1] for v in ring]
        n = len(x)
        if n <= 3:
            keep = [True] * n
        else:
            d0 = [(x[i] - x[0]) ** 2 + (y[i] - y[0]) ** 2 for i in range(n)]
            s, best = 0, -1.0
            for i in range(n):
                if d0[i] > best:
                    s, best = i, d0[i]
            keep = [False] * n
            m1 = _dp_keep_mask_py(x[: s + 1], y[: s + 1], tol)
            for i in range(s + 1):
                keep[i] = keep[i] or m1[i]
            xi = x[s:] + x[:1]
            yi = y[s:] + y[:1]
            m2 = _dp_keep_mask_py(xi, yi, tol)
            for i in range(n - s):
                keep[s + i] = keep[s + i] or m2[i]
            keep[0] = True
        out.extend(
            (p["poly_id"], i, x[i], y[i]) for i in range(n) if keep[i]
        )
    return out


def simplified_values_sql(polys: list[dict], tol: float) -> str:
    """DuckDB VALUES emitter of the pure-Python DP replay — the oracle
    side of the `simplify_rings` two-implementation check (numpy DP in an
    Arrow UDF vs this Spark-free replay, both from the same
    deterministic fixture)."""
    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    rows = ", ".join(
        f"({pid}, {i}, {d(lon)}, {d(lat)})"
        for pid, i, lon, lat in simplify_rings_py(polys, tol)
    )
    return f"(SELECT * FROM (VALUES {rows}) AS t(poly_id, idx, lon, lat))"


def convex_hull_py(polys: list[dict]) -> list[tuple]:
    """(poly_id, hull_idx, lon, lat) hull vertices per ring — pure-Python
    monotone-chain replay (same dedupe / strict-turn / CCW-start rules as
    operators.geometry.convex_hull, no numpy, no Spark)."""
    out = []
    for p in polys:
        pts = sorted({(float(v[0]), float(v[1])) for v in p["ring"]})
        if len(pts) <= 2:
            hull = pts
        else:
            def half(seq):
                h = []
                for q in seq:
                    while len(h) >= 2 and (
                        (h[-1][0] - h[-2][0]) * (q[1] - h[-2][1])
                        - (h[-1][1] - h[-2][1]) * (q[0] - h[-2][0])
                    ) <= 0:
                        h.pop()
                    h.append(q)
                return h
            lower = half(pts)
            upper = half(list(reversed(pts)))
            hull = lower[:-1] + upper[:-1]
        out.extend(
            (p["poly_id"], i, q[0], q[1]) for i, q in enumerate(hull)
        )
    return out


def hull_values_sql(polys: list[dict]) -> str:
    """DuckDB VALUES emitter of the pure-Python hull replay — the oracle
    side of the `convex_hull` two-implementation check."""
    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    n_in = {p["poly_id"]: len(p["ring"]) for p in polys}
    rows = ", ".join(
        f"({pid}, {i}, {d(lon)}, {d(lat)}, CAST({n_in[pid]} AS BIGINT))"
        for pid, i, lon, lat in convex_hull_py(polys)
    )
    return f"(SELECT * FROM (VALUES {rows}) AS t(poly_id, hull_idx, lon, lat, n_input))"


def clip_ring_py(xs: list, ys: list, lon0: float, lon1: float, lat0: float, lat1: float):
    """Pure-python scalar Sutherland-Hodgman — the INDEPENDENT replay of
    operators.geometry._clip_ring_np (same spec, loop-structured; the
    arithmetic is the same IEEE expressions in the same order, so the
    outputs are bit-identical — the simplify_rings DP discipline)."""
    def clip(pxs, pys, axis, sense, bound):
        nx, ny = [], []
        k = len(pxs)
        for i in range(k):
            ax_, ay_ = pxs[i], pys[i]
            bx_, by_ = pxs[(i + 1) % k], pys[(i + 1) % k]
            va, vb = (ax_, bx_) if axis == "x" else (ay_, by_)
            in_a = va >= bound if sense == ">=" else va <= bound
            in_b = vb >= bound if sense == ">=" else vb <= bound
            t = (bound - va) / (vb - va) if vb != va else 0.0
            if axis == "x":
                ix_, iy_ = float(bound), ay_ + t * (by_ - ay_)
            else:
                ix_, iy_ = ax_ + t * (bx_ - ax_), float(bound)
            if in_a:
                if in_b:
                    nx.append(bx_); ny.append(by_)
                else:
                    nx.append(ix_); ny.append(iy_)
            elif in_b:
                nx.append(ix_); ny.append(iy_)
                nx.append(bx_); ny.append(by_)
        return nx, ny

    for axis, sense, bound in (
        ("x", ">=", lon0), ("x", "<=", lon1), ("y", ">=", lat0), ("y", "<=", lat1)
    ):
        if not xs:
            return [], []
        xs, ys = clip(xs, ys, axis, sense, bound)
    return xs, ys


def _ring_area_py(xs: list, ys: list) -> float:
    k = len(xs)
    if k < 3:
        return 0.0
    total = 0.0
    for i in range(k):
        j = (i + 1) % k
        total += xs[i] * ys[j] - xs[j] * ys[i]
    return abs(total) / 2.0


def clip_tiles_py(polys: list[dict], res: int) -> list[tuple]:
    """Full replay of operators.geometry.clip_rings_to_tiles: bbox tile
    cover (the grid_x/grid_y clamp formulas) + scalar clip + sequential
    shoelace. Returns (poly_id, row, col, n_input, n_clip, area)."""
    import math

    n = 1 << res

    def g(v, lo, span):
        return min(max(int(math.floor((v + lo) / span * n)), 0), n - 1)

    out = []
    for p in polys:
        ring = p["ring"]
        xs = [float(v) for v in ring[:, 0]]
        ys = [float(v) for v in ring[:, 1]]
        x0, x1 = g(min(xs), 180.0, 360.0), g(max(xs), 180.0, 360.0)
        y0, y1 = g(min(ys), 90.0, 180.0), g(max(ys), 90.0, 180.0)
        for row in range(y0, y1 + 1):
            for col in range(x0, x1 + 1):
                lon0 = col / n * 360.0 - 180.0
                lon1 = (col + 1) / n * 360.0 - 180.0
                lat0 = row / n * 180.0 - 90.0
                lat1 = (row + 1) / n * 180.0 - 90.0
                cx, cy = clip_ring_py(list(xs), list(ys), lon0, lon1, lat0, lat1)
                out.append((
                    p["poly_id"], row, col, len(xs), len(cx),
                    round(_ring_area_py(cx, cy), 9),
                ))
    return out


def clip_tiles_values_sql(polys: list[dict], res: int) -> str:
    """DuckDB VALUES emitter of the clip replay (fresh each oracle build)."""
    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    rows = ", ".join(
        f"({pid}, CAST({row} AS BIGINT), CAST({col} AS BIGINT),"
        f" {ni}, {nc}, {d(area)})"
        for pid, row, col, ni, nc, area in clip_tiles_py(polys, res)
    )
    return (
        "(SELECT * FROM (VALUES "
        + rows
        + ") AS t(poly_id, row, col, n_input, n_clip, area))"
    )


def bbox_cover_df(spark, polys: list[dict], res: int = 8):
    """(poly_id, cell_id) bbox-cover table for a polygon list — THE shared
    cover builder (batch PIP queries + streaming geofence; one definition
    so a cover-resolution or schema change cannot silently diverge)."""
    from ..core import cells as C

    rows = [
        (int(p["poly_id"]), int(c))
        for p in polys
        for c in C.cover_bbox(
            float(p["ring"][:, 1].min()), float(p["ring"][:, 0].min()),
            float(p["ring"][:, 1].max()), float(p["ring"][:, 0].max()), res,
        )
    ]
    return local_frame(spark, rows, "poly_id int, cell_id long")


# the strict-inequality upward-ray crossing rule — ONE definition shared by
# every PIP oracle (an edit or typo in a private copy would make one oracle
# silently disagree with the engine while the others pass)
CROSSING_PRED = (
    "((e.y1 > c.lat) <> (e.y2 > c.lat)) "
    "AND c.lon < e.x1 + (c.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)"
)


def pip_hits_ctes_sql(points_sql: str, key: str, carry: list[str]) -> str:
    """The crossing-parity PIP oracle skeleton as ONE shared emitter:
    edges/boxes/cand/par/hits CTEs over ``points_sql`` (which must expose
    ``key``, lat, lon and the ``carry`` columns). Four oracles previously
    hand-typed this safety-critical algebra; one definition keeps them
    identical by construction. Use as:  WITH {pip_hits_ctes_sql(...)},
    <your CTEs> SELECT ... FROM hits."""
    edges = edges_values_sql(watershed_polygons())
    cols = ", ".join(dict.fromkeys([f"p.{key}"] + [f"p.{c}" for c in carry]))
    hit_cols = ", ".join(dict.fromkeys([f"c.{key}"] + [f"c.{c}" for c in carry]))
    return f"""edges AS (SELECT * FROM {edges} e),
        boxes AS (
          SELECT poly_id,
                 MIN(LEAST(x1, x2)) AS minx, MAX(GREATEST(x1, x2)) AS maxx,
                 MIN(LEAST(y1, y2)) AS miny, MAX(GREATEST(y1, y2)) AS maxy
          FROM edges GROUP BY poly_id
        ),
        cand AS (
          SELECT b.poly_id, {cols}, p.lat, p.lon
          FROM {points_sql} p JOIN boxes b
            ON p.lon >= b.minx AND p.lon <= b.maxx
           AND p.lat >= b.miny AND p.lat <= b.maxy
        ),
        par AS (
          SELECT c.poly_id, c.{key}, COUNT(*) AS nc
          FROM cand c JOIN edges e ON e.poly_id = c.poly_id
           AND {CROSSING_PRED}
          GROUP BY c.poly_id, c.{key}
        ),
        hits AS (
          SELECT c.poly_id, {hit_cols}
          FROM cand c JOIN par p
            ON p.poly_id = c.poly_id AND p.{key} = c.{key}
          WHERE p.nc % 2 = 1
        )"""
