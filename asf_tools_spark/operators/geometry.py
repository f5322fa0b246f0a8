"""Vector polygon metrics — shoelace area, centroid, perimeter over an
exploded (poly_id, idx, lon, lat) vertex table.

The vector side of the engine's raster<->vector boundary ops: the
reference manipulates watershed/flood polygons as OGR geometries
(ref: src/asf_tools/vector.py get_features/intersect — driver-side,
library-backed); at 10^12-page scale the polygon LAYER itself can be
large (per-tile flood outlines, one ring per label), so the metrics run
as DataFrame aggregates over the vertex table instead of per-feature
driver loops.

Formulas (Gauss shoelace, planar lon/lat units — the same convention the
cell index uses; public textbook material):

    A_signed = 1/2 * sum_i (x_i * y_{i+1} - x_{i+1} * y_i)
    C_x      = 1/(6 A_signed) * sum_i (x_i + x_{i+1}) * cross_i
    C_y      = 1/(6 A_signed) * sum_i (y_i + y_{i+1}) * cross_i

Spark-first shape: the ring-closing successor (idx + 1 mod k) comes from
ONE co-partitioned self-join on (poly_id, idx) — both sides shuffle on
the same key, and every per-polygon reduction is a partial/final hash
aggregate. No window (vertex order is an explicit column, not an implied
sort), no driver loop over features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def polygon_stats(verts: DataFrame, key: str = "poly_id") -> DataFrame:
    """(key, n_vertices, area, cx, cy, perimeter) per ring. ``verts``
    needs columns (key, idx, lon, lat) with idx = 0..k-1 in ring order;
    degenerate rings (|A| = 0) return NULL centroids."""
    k = verts.groupBy(key).agg(F.count(F.lit(1)).alias("_k"))
    a = verts.join(k, key).select(
        key,
        ((F.col("idx") + 1) % F.col("_k")).alias("_nxt"),
        F.col("lon").alias("_x1"),
        F.col("lat").alias("_y1"),
        F.col("_k"),
    )
    b = verts.select(
        F.col(key).alias("_kb"),
        F.col("idx").alias("_ib"),
        F.col("lon").alias("_x2"),
        F.col("lat").alias("_y2"),
    )
    edges = a.join(
        b, (a[key] == b["_kb"]) & (a["_nxt"] == b["_ib"])
    ).select(
        key, "_k", "_x1", "_y1", "_x2", "_y2",
        (F.col("_x1") * F.col("_y2") - F.col("_x2") * F.col("_y1")).alias("_cross"),
    )
    agg = edges.groupBy(key).agg(
        F.max("_k").alias("n_vertices"),
        (F.sum("_cross") / 2.0).alias("_sa"),
        F.sum((F.col("_x1") + F.col("_x2")) * F.col("_cross")).alias("_sx"),
        F.sum((F.col("_y1") + F.col("_y2")) * F.col("_cross")).alias("_sy"),
        F.sum(
            F.sqrt(
                (F.col("_x2") - F.col("_x1")) * (F.col("_x2") - F.col("_x1"))
                + (F.col("_y2") - F.col("_y1")) * (F.col("_y2") - F.col("_y1"))
            )
        ).alias("_per"),
    )
    return agg.select(
        key,
        F.col("n_vertices").cast("long").alias("n_vertices"),
        F.round(F.abs(F.col("_sa")), 6).alias("area"),
        F.round(
            F.when(F.col("_sa") != 0, F.col("_sx") / (6.0 * F.col("_sa"))), 6
        ).alias("cx"),
        F.round(
            F.when(F.col("_sa") != 0, F.col("_sy") / (6.0 * F.col("_sa"))), 6
        ).alias("cy"),
        F.round("_per", 6).alias("perimeter"),
    )


def pip_candidates(
    points: DataFrame, edges: DataFrame,
    key: str = "doc_id", lat: str = "lat", lon: str = "lon",
    cover: DataFrame | None = None, cell_col: str = "cell_id",
) -> DataFrame:
    """(poly_id, key, lat, lon, inside) — exact crossing-number
    point-in-polygon over TRUE rings, entirely in whole-stage codegen
    (the UDF-free twin of spatial_join's Pandas-UDF refine; ref
    vector.py get_features + the driver-side OGR Contains loop).

    Shape for 10^12 points: per-polygon bboxes are DERIVED from the edge
    table (min/max only — exact, no float drift) and BROADCAST to prune
    candidates map-side; the surviving (point, poly) pairs join the
    broadcast edge table (|polys| x ring_len rows) and an upward-ray
    crossing is counted per edge with the standard strict-inequality
    rule; inside = odd crossing count per pair. Zero crossings never
    reach the parity aggregate — the left join restores those pairs as
    outside. Points exactly ON an edge are knife-edge by construction
    (both engines evaluate the identical IEEE expression, so the verdict
    matches bit-for-bit either way).

    With ``cover`` (a (poly_id, cell_col) bbox-cover table — build with
    cells.cover_bbox so cover SUPERSETS the bbox test), the prune is an
    EQUI BroadcastHashJoin on the cell key with the bbox test as a
    residual on the poly_id-keyed box join — the flagship cover-join
    shape; the page side never sees a nested-loop join. Without it the
    box prune is a BNLJ against the |polys|-row box table (fine for
    tests, not for 10^12 points)."""
    boxes = edges.groupBy("poly_id").agg(
        F.min(F.least("x1", "x2")).alias("_minx"),
        F.max(F.greatest("x1", "x2")).alias("_maxx"),
        F.min(F.least("y1", "y2")).alias("_miny"),
        F.max(F.greatest("y1", "y2")).alias("_maxy"),
    )
    in_box = (
        (F.col(lon) >= F.col("_minx")) & (F.col(lon) <= F.col("_maxx"))
        & (F.col(lat) >= F.col("_miny")) & (F.col(lat) <= F.col("_maxy"))
    )
    if cover is not None:
        cand = (
            points.select(key, lat, lon, cell_col)
            .join(F.broadcast(cover), cell_col)
            .join(F.broadcast(boxes), "poly_id")
            .where(in_box)
            .select("poly_id", key, lat, lon)
        )
    else:
        cand = points.select(key, lat, lon).join(
            F.broadcast(boxes), in_box
        ).select("poly_id", key, lat, lon)
    return pip_refine(cand, edges, key, lat, lon)


def pip_refine(
    cand: DataFrame, edges: DataFrame,
    key: str = "doc_id", lat: str = "lat", lon: str = "lon",
) -> DataFrame:
    """The exact crossing-number refine over (poly_id, key, lat, lon)
    candidates — shared by the cover-cell prune (pip_candidates) and the
    STRtree probe (operators.strtree.strtree_candidates): broadcast edge
    join + upward-ray parity, all whole-stage codegen.

    Precondition: every candidate's ``poly_id`` has at least one row in
    ``edges``. The candidate set is recovered from the edge join's groups,
    so a candidate whose polygon has no edges is dropped from the output
    instead of coming out ``inside = false``."""
    crossing = (
        (F.col("y1") > F.col(lat)) != (F.col("y2") > F.col(lat))
    ) & (
        F.col(lon)
        < F.col("x1")
        + (F.col(lat) - F.col("y1"))
        * (F.col("x2") - F.col("x1"))
        / (F.col("y2") - F.col("y1"))
    )
    # ONE pass: conditional-sum the crossings inside the aggregate instead
    # of filter -> count -> left-join-back. The old shape referenced `cand`
    # twice (the parity subtree AND the join-back side), so the whole
    # candidate chain — broadcast cover/box joins over every point —
    # executed twice per action and the re-attach was a SortMergeJoin with
    # two exchanges (visible in plans/r06/zonal_stats_before.txt, node 64).
    # Every candidate matches >= 1 edge row of its polygon (rings have
    # >= 3 edges), so the group set is exactly the candidate set and
    # zero-crossing rows come out _nc = 0 -> inside = false, identical to
    # the old coalesce(..., false) (guide §2.3 aggregate-before-shuffle,
    # §2.4 remove shuffles outright).
    return (
        cand.join(F.broadcast(edges), "poly_id")
        .groupBy("poly_id", key, lat, lon)
        .agg(F.sum(F.when(crossing, 1).otherwise(0)).alias("_nc"))
        .select(
            "poly_id", key, lat, lon,
            (F.pmod(F.col("_nc"), F.lit(2)) == 1).alias("inside"),
        )
    )


def idw_interpolate(
    points: DataFrame, res: int,
    lat: str = "lat", lon: str = "lon", value_col: str = "value",
    ring: int = 1, eps: float = 1e-6,
) -> DataFrame:
    """(row, col, idw_value, n_contrib): inverse-distance-weighted
    interpolation of scattered point values onto the res-level cell grid
    (Shepard 1968; the scattered-point twin of the W2 grid infill). Each
    point contributes to its own cell and the ring-`ring` neighbors with
    weight 1/(d^2 + eps), d = planar distance to the neighbor's cell
    CENTER. ONE constant-fan-out explode ((2*ring+1)^2) + ONE
    partial/final hash aggregate — at 10^12 points the exchange carries
    one (sum_wv, sum_w) partial per (partition, cell). Edges clamp (no
    wraparound)."""
    from ..core import cells as C

    n = 1 << res
    span = range(-ring, ring + 1)
    offs = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr in span for dc in span
    ])
    base = points.select(
        F.expr(C.grid_y_sql(lat, res)).alias("_py"),
        F.expr(C.grid_x_sql(lon, res)).alias("_px"),
        F.col(lat).alias("_lat"), F.col(lon).alias("_lon"),
        F.col(value_col).alias("_v"),
    )
    tgt = base.withColumn("_o", F.explode(offs)).select(
        (F.col("_py") + F.col("_o.dr")).alias("row"),
        (F.col("_px") + F.col("_o.dc")).alias("col"),
        "_lat", "_lon", "_v",
    ).where(
        (F.col("row") >= 0) & (F.col("row") < n)
        & (F.col("col") >= 0) & (F.col("col") < n)
    )
    clat = F.lit(-90.0) + (F.col("row").cast("double") + F.lit(0.5)) * (F.lit(180.0) / F.lit(float(n)))
    clon = F.lit(-180.0) + (F.col("col").cast("double") + F.lit(0.5)) * (F.lit(360.0) / F.lit(float(n)))
    d2 = (F.col("_lat") - clat) * (F.col("_lat") - clat) + (F.col("_lon") - clon) * (F.col("_lon") - clon)
    w = F.lit(1.0) / (d2 + F.lit(float(eps)))
    return tgt.groupBy("row", "col").agg(
        F.round(F.sum(w * F.col("_v")) / F.sum(w), 6).alias("idw_value"),
        F.count(F.lit(1)).alias("n_contrib"),
    )


def _dp_keep_mask_np(x, y, tol: float):
    """numpy Douglas-Peucker keep mask for an OPEN chain (both endpoints
    kept). Iterative stack; argmax picks the FIRST index at the max
    (deterministic tie rule — the oracle's pure-Python replay must use
    the same)."""
    import numpy as np

    n = len(x)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        ax, ay, bx, by = x[i], y[i], x[j], y[j]
        px, py = x[i + 1 : j], y[i + 1 : j]
        num = np.abs((bx - ax) * (ay - py) - (ax - px) * (by - ay))
        den = ((bx - ax) ** 2 + (by - ay) ** 2) ** 0.5
        d = num / den if den > 0 else ((px - ax) ** 2 + (py - ay) ** 2) ** 0.5
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def simplify_rings(verts: DataFrame, tolerance: float, key: str = "poly_id") -> DataFrame:
    """Douglas-Peucker ring simplification (Douglas & Peucker 1973) over
    an exploded (key, idx, lon, lat) vertex table — the polygon
    generalization step of a vector pipeline, distributed one ring per
    Arrow batch group (numpy semantics are the contract here, the repo's
    sanctioned grouped-UDF case; rings are independent so the groupBy
    shuffles each ring's vertices once and nothing else).

    Closed-ring handling: anchor at vertex 0 and at the euclidean-
    farthest vertex from it, DP each open half, union the keep masks —
    the standard ring split. Ties (equal max distance / equal anchor
    distance) resolve to the FIRST index in ring order, identically in
    the pure-Python oracle replay. Output: the kept vertices
    (key, idx, lon, lat), idx = original ring position."""
    import numpy as np
    import pandas as pd

    tol = float(tolerance)

    def per_ring(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx")
        x = pdf["lon"].to_numpy(dtype=np.float64)
        y = pdf["lat"].to_numpy(dtype=np.float64)
        n = len(x)
        if n <= 3:
            return pdf
        d0 = (x - x[0]) ** 2 + (y - y[0]) ** 2
        s = int(np.argmax(d0))  # first farthest-from-v0, ties -> first
        # two open chains: 0..s and s..n-1..0 (wrap via concatenation)
        keep = np.zeros(n, dtype=bool)
        m1 = _dp_keep_mask_np(x[: s + 1], y[: s + 1], tol)
        keep[: s + 1] |= m1
        xi = np.concatenate([x[s:], x[:1]])
        yi = np.concatenate([y[s:], y[:1]])
        m2 = _dp_keep_mask_np(xi, yi, tol)
        keep[s:] |= m2[:-1]
        keep[0] = True
        return pdf[keep]

    schema = f"{key} int, idx int, lon double, lat double"
    return (
        verts.select(key, "idx", "lon", "lat")
        .groupBy(key)
        .applyInPandas(per_ring, schema=schema)
    )


def _hull_ccw_np(x, y):
    """Andrew monotone-chain convex hull over ARBITRARY points (numpy).

    Returns index array (into the deduped, lexicographically sorted point
    set) of hull vertices in CCW order starting at the lexicographically
    smallest point. STRICT turns: collinear in-edge points and interior
    points are dropped; exact duplicates are deduped before the scan.
    """
    import numpy as np

    pts = np.unique(np.column_stack([np.asarray(x, float), np.asarray(y, float)]), axis=0)
    n = len(pts)
    if n <= 2:
        return pts
    def half(rng):
        out = []
        for i in rng:
            while len(out) >= 2:
                ox, oy = pts[out[-2]]
                ax, ay = pts[out[-1]]
                bx, by = pts[i]
                if (ax - ox) * (by - oy) - (ay - oy) * (bx - ox) > 0:
                    break
                out.pop()
            out.append(i)
        return out
    lower = half(range(n))
    upper = half(range(n - 1, -1, -1))
    return pts[np.array(lower[:-1] + upper[:-1])]


def convex_hull(
    points: DataFrame, key: str = "poly_id", x: str = "lon", y: str = "lat"
) -> DataFrame:
    """(key, hull_idx, x, y, n_input): convex hull vertices per group in
    CCW order from the lexicographically smallest vertex — the
    footprint/coverage-outline operator (ref vector.py's per-feature OGR
    geometry ops, distributed). Groups are independent -> ONE
    applyInPandas batch per group (the repo's sanctioned grouped-UDF
    case: the hull scan is inherently sequential per group, but groups
    fan out across executors; each group's points must fit one Arrow
    batch — true for any per-feature vector layer). Strict-turn chain:
    collinear in-edge vertices and duplicates are NOT hull vertices,
    matching the pure-Python replay oracle and the extreme-point dual
    test."""
    import pandas as pd

    schema = f"{key} int, hull_idx int, {x} double, {y} double, n_input long"

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        hull = _hull_ccw_np(pdf[x].to_numpy(), pdf[y].to_numpy())
        k = int(pdf[key].iloc[0])
        return pd.DataFrame({
            key: k,
            "hull_idx": range(len(hull)),
            x: hull[:, 0], y: hull[:, 1],
            "n_input": len(pdf),
        })

    return points.groupBy(key).applyInPandas(per_group, schema)


def _clip_ring_np(xs, ys, lon0, lon1, lat0, lat1):
    """Sutherland-Hodgman clip of one ring against a tile rect — numpy
    per-boundary vectorized arithmetic (t / intersection coordinates
    computed as arrays; only the output assembly iterates). The pure-
    python scalar replay lives in sources.polygons.clip_ring_py — two
    implementations, one spec (the simplify_rings DP discipline)."""
    import numpy as np

    for kind, bound in (("x>=", lon0), ("x<=", lon1), ("y>=", lat0), ("y<=", lat1)):
        k = len(xs)
        if k == 0:
            return [], []
        ax, ay = np.asarray(xs), np.asarray(ys)
        bx, by = np.roll(ax, -1), np.roll(ay, -1)
        axis_a, axis_b = (ax, bx) if kind[0] == "x" else (ay, by)
        if kind[1:] == ">=":
            in_a, in_b = axis_a >= bound, axis_b >= bound
        else:
            in_a, in_b = axis_a <= bound, axis_b <= bound
        # guard the discarded equal-endpoint lanes BEFORE dividing — the
        # repo's warning-hygiene rule (VERDICT r4 item 7); live lanes keep
        # the exact same denominator, so values are unchanged
        denom = np.where(axis_b != axis_a, axis_b - axis_a, 1.0)
        t = np.where(axis_b != axis_a, (bound - axis_a) / denom, 0.0)
        ix = ax + t * (bx - ax)
        iy = ay + t * (by - ay)
        if kind[0] == "x":
            ix = np.full(k, float(bound))
        else:
            iy = np.full(k, float(bound))
        nx, ny = [], []
        for i in range(k):
            if in_a[i]:
                if in_b[i]:
                    nx.append(float(bx[i])); ny.append(float(by[i]))
                else:
                    nx.append(float(ix[i])); ny.append(float(iy[i]))
            elif in_b[i]:
                nx.append(float(ix[i])); ny.append(float(iy[i]))
                nx.append(float(bx[i])); ny.append(float(by[i]))
        xs, ys = nx, ny
    return xs, ys


def _ring_area_seq(xs, ys):
    """|shoelace|/2 with a SEQUENTIAL left-to-right sum — numpy pairwise
    summation would drift from the pure-python replay in the last ulp."""
    k = len(xs)
    if k < 3:
        return 0.0
    total = 0.0
    for i in range(k):
        j = (i + 1) % k
        total += xs[i] * ys[j] - xs[j] * ys[i]
    return abs(total) / 2.0


def clip_rings_to_tiles(verts: DataFrame, res: int, key: str = "poly_id") -> DataFrame:
    """Vector-tile generation: clip every ring against each grid tile its
    bbox covers (Sutherland-Hodgman against the tile rect) — the
    tile-server operator that turns one global polygon layer into
    per-tile geometry (the vector twin of tile_pyramid; the reference
    cuts rasters into tiles the same way, ref src/asf_tools/tile.py).

    Scale shape: rings are assembled with ONE collect_list per polygon
    (ring sizes are bounded — geometry payloads, not data rows); the
    bbox->tile fan-out is an in-plan explode of the tile index ranges
    (constant per polygon, no driver loop); the clip itself is an
    Arrow-batched mapInPandas over (polygon, tile) candidates. Nothing
    is quadratic: candidates = sum of per-poly cover sizes.

    Returns (key, row, col, n_input, n_clip, area) — area is the
    |shoelace|/2 of the clipped ring in squared degrees, 0.0 where the
    cover tile turned out empty (cover is a bbox superset).
    """
    import pandas as pd

    n = 1 << res

    def gx(c):
        return F.least(
            F.greatest(F.floor((c + 180.0) / 360.0 * n).cast("long"), F.lit(0)),
            F.lit(n - 1),
        )

    def gy(c):
        return F.least(
            F.greatest(F.floor((c + 90.0) / 180.0 * n).cast("long"), F.lit(0)),
            F.lit(n - 1),
        )

    ring = (
        verts.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("idx", "lon", "lat"))).alias("_pts"))
        .select(
            key,
            F.transform("_pts", lambda p: p["lon"]).alias("_xs"),
            F.transform("_pts", lambda p: p["lat"]).alias("_ys"),
        )
    )
    cand = (
        ring.select(
            key, "_xs", "_ys",
            gx(F.array_min("_xs")).alias("_x0"), gx(F.array_max("_xs")).alias("_x1"),
            gy(F.array_min("_ys")).alias("_y0"), gy(F.array_max("_ys")).alias("_y1"),
        )
        .withColumn("row", F.explode(F.sequence("_y0", "_y1")))
        .withColumn("col", F.explode(F.sequence("_x0", "_x1")))
        .select(key, "row", "col", "_xs", "_ys")
    )

    key_type = dict(verts.dtypes)[key]  # not hardcoded: bigint/string keys survive
    out_schema = f"{key} {key_type}, row long, col long, n_input int, n_clip int, area double"

    def clip_batches(batches):
        for pdf in batches:
            rows = []
            for kv, row_v, col_v, xs, ys in zip(
                pdf[key], pdf["row"], pdf["col"], pdf["_xs"], pdf["_ys"]
            ):
                col_i, row_i = int(col_v), int(row_v)
                lon0 = col_i / n * 360.0 - 180.0
                lon1 = (col_i + 1) / n * 360.0 - 180.0
                lat0 = row_i / n * 180.0 - 90.0
                lat1 = (row_i + 1) / n * 180.0 - 90.0
                xs, ys = [float(v) for v in xs], [float(v) for v in ys]
                cx, cy = _clip_ring_np(xs, ys, lon0, lon1, lat0, lat1)
                rows.append((
                    kv, row_i, col_i,
                    len(xs), len(cx), round(_ring_area_seq(cx, cy), 9),
                ))
            yield pd.DataFrame(
                rows, columns=[key, "row", "col", "n_input", "n_clip", "area"]
            )

    return cand.mapInPandas(clip_batches, out_schema)


def boundary_distance(
    cand: DataFrame, edges: DataFrame,
    key: str = "doc_id", lat: str = "lat", lon: str = "lon",
) -> DataFrame:
    """Planar distance (degrees) from each candidate point to the nearest
    point of its candidate polygon's RING — the distance-transform
    primitive (GDAL ComputeProximity's vector twin; the reference buffers
    water masks by fixed pixel distances, ref hydrosar/flood_map.py
    iterative masking). ``cand`` is a (poly_id, key, lat, lon) candidate
    table (cover-pruned upstream — this never sees points x all fences);
    the per-edge clamped-projection distance runs entirely in whole-stage
    codegen over the broadcast edge table and reduces with ONE hash
    aggregate. Returns (poly_id, key, dist_deg): distance to the ring
    itself (a point INSIDE the ring gets its distance to the boundary,
    not 0 — compose with pip_candidates when inside-ness matters)."""
    ex = F.col("x2") - F.col("x1")
    ey = F.col("y2") - F.col("y1")
    seg2 = ex * ex + ey * ey
    t = F.when(
        seg2 > 0.0,
        ((F.col(lon) - F.col("x1")) * ex + (F.col(lat) - F.col("y1")) * ey) / seg2,
    ).otherwise(F.lit(0.0))
    tc = F.least(F.greatest(t, F.lit(0.0)), F.lit(1.0))
    dx = F.col(lon) - (F.col("x1") + tc * ex)
    dy = F.col(lat) - (F.col("y1") + tc * ey)
    d = F.sqrt(dx * dx + dy * dy)
    return (
        cand.join(F.broadcast(edges), "poly_id")
        .groupBy("poly_id", key)
        .agg(F.min(d).alias("_d"))
        .select("poly_id", key, F.round("_d", 6).alias("dist_deg"))
    )
