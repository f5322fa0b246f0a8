"""The HAND chain on a long-form DEM ``(row, col, elev)``: DEM
conditioning, D8 flow direction, flow accumulation and height above
nearest drainage.

Spark re-expression of the pysheds chain in
ref: src/asf_tools/hydrosar/hand/calculate.py:57-142 (``calculate_hand``:
condition -> flowdir -> accumulation -> compute_hand; SURVEY §2.5 W6).
Every step groups cells by their ``TILE_SHAPE`` tile into Arrow
grouped-map passes that run the numpy kernels of core.dem on whole tiles:

- ``condition_dem`` and ``flow_direction`` are ``tiling.halo_pass``
  kernels with a one-cell halo: each tile is solved as one (tr + 2,
  tc + 2) array that holds the ring of cells around it. Conditioning
  repeats the pass (``tiling.halo_fixpoint``) until the fill stops
  falling.
- ``flow_accumulation`` and ``compute_hand`` use that the D8 flow graph is
  a forest (one downstream cell each, elevation strictly falling along
  every edge): a tile pass solves each tile's part of the forest and
  reports its tile-edge cells, the driver solves the forest of edge
  cells, and a second tile pass folds that answer into every cell. The
  number of jobs does not depend on the length of flow paths. The driver
  sees only tile-edge cells, (2 tr + 2 tc - 4) / (tr tc) of the grid:
  124/1024 < 1/8 at 32x32. Above ``DRIVER_MAX_EDGE_CELLS`` (a 4096x4096
  grid's, the largest run) both steps stop their collect and raise
  ValueError; the next rung for larger grids is to solve the edge forest
  by the same passes over tiles of tiles.

NaN elevations are nodata: no flow in or out.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core.dem import D8, first_marked, forest_sum, priority_flood_fill, steepest_d8
from ..core.io import local_frame
from .tiling import halo_fixpoint, halo_pass, on_tile_edge, tile_key

TILE_SHAPE = (32, 32)  # the tiles of every HAND step
EPS = 1e-5  # condition_dem's fill ramp: a filled cell rises EPS above its spill
# the most tile-edge cells flow_accumulation and compute_hand collect: a
# 4096x4096 grid's at 32x32 tiles, the largest grid run (compute_hand in
# 92 s at local[4] with the default 8g driver)
DRIVER_MAX_EDGE_CELLS = 2_031_616

# changed: per-cell convergence flag computed inside solve_tile, so a
# round needs no join of new state against old
_COND_SCHEMA = "row int, col int, elev double, f double, changed boolean"


def condition_dem(grid: DataFrame) -> DataFrame:
    """Distributed DEM conditioning: epsilon priority-flood depression
    filling, the Spark stand-in for the pysheds chain fill_pits ->
    fill_depressions -> resolve_flats
    (ref src/asf_tools/hydrosar/hand/calculate.py:108-118).

    Tiled halo-merge fixpoint (the standard parallel priority-flood shape):

    - state: per-cell filled level ``f`` — elevation on the global grid
      border (the drain), +inf elsewhere;
    - per round: each tile receives the current ``f`` of the halo ring of
      cells around it (only tile-EDGE cells cross tiles — a tiny fraction),
      then re-solves the tile-local fill exactly with core.dem
      ``priority_flood_fill`` seeded at every current upper bound;
    - ``f`` is monotonically nonincreasing and converges to the full-array
      answer in O(tile-graph diameter) rounds — each round is one halo
      shuffle + one Arrow-batched grouped-map, NOT one round per cell.

    Returns (row, col, elev) with the FILLED elevations: every interior cell
    gains a strictly lower neighbor (the +EPS ramp), so ``flow_direction``
    finds no spurious interior sinks and no flats. The reference likewise
    computes flowdir and HAND on the inflated DEM (calculate.py:119-129).

    A border-graph pass (``_border_graph_seed``) first seeds ``f`` with a
    tight upper bound on every tile-border cell, so the fixpoint is local
    cleanup: measured 2-3 rounds instead of O(tile-graph semi-perimeter).

    The rounds stop when no cell's ``f`` drops by more than ``EPS * 1e-6``
    (~3 orders above the measured float-resummation noise floor, 6 below
    EPS). That makes the stopping rule a tolerance: two competing spill
    paths within it of each other may freeze at the higher elevation, so
    parity with a serial priority flood holds outside near-tied spill
    configurations. Raises RuntimeError if the tile-graph semi-perimeter
    bound on rounds is reached first.
    """
    tol = EPS * 1e-6
    tr, tc = tile_shape = TILE_SHAPE
    ext = grid.agg(
        F.min("row").alias("r0"), F.max("row").alias("r1"),
        F.min("col").alias("c0"), F.max("col").alias("c1"),
    ).collect()[0]
    if ext.r0 is None:  # empty grid
        return grid.select("row", "col", F.col("elev").cast("double").alias("elev"))
    rmin, rmax, cmin, cmax = int(ext.r0), int(ext.r1), int(ext.c0), int(ext.c1)
    # fill information crosses one tile layer per round: the tile-graph
    # semi-perimeter bounds border-to-anywhere propagation
    max_rounds = ((rmax - rmin) // tr + 1) + ((cmax - cmin) // tc + 1) + 2

    on_border = (
        (F.col("row") == rmin) | (F.col("row") == rmax)
        | (F.col("col") == cmin) | (F.col("col") == cmax)
    )
    state = grid.select(
        "row", "col", F.col("elev").cast("double").alias("elev"),
        F.when(on_border, F.col("elev").cast("double"))
        .otherwise(F.lit(float("inf"))).alias("f"),
    )
    state = _border_graph_seed(state, tile_shape, EPS, (rmin, rmax, cmin, cmax))

    def solve_tile(core, a, present):
        fc = np.where(present, a["f"], np.inf)
        # halo cells are fixed boundary conditions: pin elev to their current
        # f so local relaxation can read through but never lower them
        ring = present.copy()
        ring[1:-1, 1:-1] = False
        e = np.where(ring, fc, a["elev"])
        seeds = [(r, c, fc[r, c]) for r, c in zip(*np.nonzero(np.isfinite(fc)))]
        oldf = fc[1:-1, 1:-1]
        newf = np.minimum(priority_flood_fill(e, eps=EPS, seeds=seeds)[1:-1, 1:-1], oldf)
        # the tolerance: re-solving a tile re-evaluates the same eps-add
        # chains in a different summation order, and the ~1e-14 float
        # dribbles that produces would otherwise drag the fixpoint on for
        # O(diameter) pure-noise rounds (measured: rounds 2-17 of a 256x256
        # DEM were all <= 1.1e-14 'improvements')
        return present[1:-1, 1:-1], {
            "elev": a["elev"][1:-1, 1:-1], "f": newf, "changed": newf < oldf - tol,
        }

    state = halo_fixpoint(state, 1, tile_shape, solve_tile, _COND_SCHEMA, max_rounds)
    return state.select("row", "col", F.col("f").alias("elev"))


_FRONT_SCHEMA = "ar int, ac int, br int, bc int, a double, l int"


def _tile_transfer_fronts(
    e: np.ndarray, eps: float, bi: np.ndarray, bj: np.ndarray
):
    """Exact border-to-border transfer fronts of one tile, all sources at
    once (source-vectorized Bellman-Ford DP over hop budgets).

    A chain from border cell a to b carries (A, L): A = its eps-relaxed
    pass maximum (A_v = max(elev_v, A_u + eps), A_a = elev(a)), L = hops.
    For ANY seed level s, the chain fills b at <= max(A, s + eps*L) (fill
    is monotone in s — no s >= seed caveat). The Pareto front
    {(k, A_k(a,b))}: A_k = min chain-A over walks of <= k hops; the
    envelope min_k max(A_k, s + eps*k) IS the tile's exact transfer
    function, so the driver Dijkstra composing these fronts is exact, not
    just an upper bound.

    DP: A_{k+1}(v) = min(A_k(v), max(elev_v, min_{u in N8(v)} A_k(u) + eps)),
    iterated to convergence, vectorized over all |border| sources as a 3D
    (src, rows, cols) array. Returns per (a_idx, b_idx) the breakpoint list
    [(L, A), ...], capped at 8 per pair (keep min-hop, min-A, and
    the largest interior drops — dropping points only loosens, never
    invalidates).
    """
    h, w = e.shape
    p = len(bi)
    ok = np.isfinite(e)
    INF = np.inf
    A = np.full((p, h, w), INF)
    A[np.arange(p), bi, bj] = e[bi, bj]
    hist = [A[:, bi, bj].copy()]  # hist[k][s, t] = A_k(source s -> border t)
    ev = np.where(ok, e, INF)
    # iteration cap bounds hist memory; early-stopped A_k values are still
    # valid bounds (min over <= k-hop walks), merely potentially looser
    for _ in range(min(h * w, 512)):
        ap = np.full((p, h + 2, w + 2), INF)
        ap[:, 1:-1, 1:-1] = A
        nbr_min = np.minimum.reduce([
            ap[:, 1 + dr:h + 1 + dr, 1 + dc:w + 1 + dc] for dr, dc in D8
        ])
        cand = np.maximum(ev[None, :, :], nbr_min + eps)
        newA = np.minimum(A, cand)
        if np.array_equal(newA, A, equal_nan=True):
            break
        A = newA
        hist.append(A[:, bi, bj].copy())
    H = np.stack(hist)  # (K+1, p, p)
    prev = np.concatenate([np.full((1, p, p), INF), H[:-1]])
    bp = np.isfinite(H) & (H < prev)
    fronts: dict[tuple[int, int], list[tuple[int, float]]] = {}
    ks, ss, ts = np.nonzero(bp)
    for k, s, t in zip(ks.tolist(), ss.tolist(), ts.tolist()):
        if s == t:
            continue
        fronts.setdefault((s, t), []).append((k, float(H[k, s, t])))
    max_bp = 8
    for key, bps in fronts.items():
        if len(bps) > max_bp:
            # keep min-hop, min-A, and the largest interior drops
            drops = sorted(
                range(1, len(bps) - 1),
                key=lambda i: bps[i - 1][1] - bps[i][1], reverse=True,
            )[: max_bp - 2]
            keep = sorted({0, len(bps) - 1, *drops})
            fronts[key] = [bps[i] for i in keep]
    return fronts


def _border_graph_seed(
    state: DataFrame, tile_shape: tuple[int, int], eps: float,
    extent: tuple[int, int, int, int],
) -> DataFrame:
    """Barnes-2016-style coarse pass: per-tile border-to-border transfer
    fronts (one grouped-map job, see ``_tile_transfer_fronts``) + ONE
    exact driver Dijkstra over the border-cell graph, broadcast back as
    initial upper bounds on ``f``.

    Bound validity: each within-tile edge (a -> b, A, L) is a concrete
    chain whose exact pass-max is A and length L, so for ANY seed level s
    it fills b at <= max(A, s + eps*L); cross-tile edges are the literal
    one-hop fine relaxation max(elev_b, f_a + eps). Every walk in this
    graph maps to a concrete fine walk, so the Dijkstra distances g
    satisfy g(b) >= f_true(b) — a legal initialization for the
    monotone-decreasing fixpoint — and because the fronts are the tiles'
    exact transfer functions (up to the per-pair breakpoint cap), g is
    exact on ~99.9% of border cells (measured), leaving the fixpoint one
    real round of interior fill + one confirming round.

    Only tile-border cells reach the driver. Guarded: above ~5M summary
    pairs (n_tiles * (2(tr+tc))^2) fall back to the plain fixpoint — the
    next rung is recursing the summarization over tiles-of-tiles.
    """
    import heapq

    tr, tc = tile_shape
    rmin, rmax, cmin, cmax = extent

    n_tiles_est = ((rmax - rmin) // tr + 1) * ((cmax - cmin) // tc + 1)
    p = 2 * (tr + tc)
    if n_tiles_est * p * p > 5_000_000 or n_tiles_est < 4:
        return state

    border_pred = (
        on_tile_edge(F.col("row"), F.col("col"), tile_shape)
        | F.col("row").isin(rmin, rmax) | F.col("col").isin(cmin, cmax)
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf["row"].to_numpy()
        cols = pdf["col"].to_numpy()
        el = pdf["elev"].to_numpy(dtype=np.float64, na_value=np.nan)
        t0r = (int(rows.min()) // tr) * tr  # python // floors for negatives
        t0c = (int(cols.min()) // tc) * tc
        e = np.full((tr, tc), np.nan)
        li = rows - t0r
        lj = cols - t0c
        e[li, lj] = el
        isb = (
            (li == 0) | (li == tr - 1) | (lj == 0) | (lj == tc - 1)
            | (rows == rmin) | (rows == rmax) | (cols == cmin) | (cols == cmax)
        ) & np.isfinite(el)
        bi, bj = li[isb], lj[isb]
        if len(bi) == 0:
            return pd.DataFrame({c: [] for c in ["ar", "ac", "br", "bc", "a", "l"]})
        fronts = _tile_transfer_fronts(e, eps, bi, bj)
        return pd.DataFrame(
            [(bi[s] + t0r, bj[s] + t0c, bi[t] + t0r, bj[t] + t0c, a, k)
             for (s, t), bps in fronts.items() for k, a in bps],
            columns=["ar", "ac", "br", "bc", "a", "l"],
        )

    edges = (
        state.groupBy(tile_key(F.col("row"), F.col("col"), tile_shape))
        .applyInPandas(summarize, schema=_FRONT_SCHEMA)
        .collect()
    )
    bcells = state.where(border_pred).select("row", "col", "elev", "f").collect()

    elev_of = {}
    g = {}
    heap = []
    for r in bcells:
        node = (r.row, r.col)
        ev = r.elev
        if ev is None or not np.isfinite(ev):
            continue
        elev_of[node] = float(ev)
        if r.f is not None and np.isfinite(r.f):  # global-border source
            g[node] = float(r.f)
            heapq.heappush(heap, (float(r.f), node))
    adj: dict = {}
    for r in edges:
        adj.setdefault((r.ar, r.ac), []).append((r.br, r.bc, r.a, r.l))

    INF = float("inf")
    while heap:
        f, u = heapq.heappop(heap)
        if f > g.get(u, INF):
            continue
        for br_, bc_, a_, l_ in adj.get(u, ()):
            v = (br_, bc_)
            nf = max(a_, f + eps * l_)
            if nf < g.get(v, INF):
                g[v] = nf
                heapq.heappush(heap, (nf, v))
        ur, uc = u
        utile = (ur // tr, uc // tc)
        for dr, dc in D8:
            v = (ur + dr, uc + dc)
            ev = elev_of.get(v)
            if ev is None or (v[0] // tr, v[1] // tc) == utile:
                continue
            nf = max(ev, f + eps)
            if nf < g.get(v, INF):
                g[v] = nf
                heapq.heappush(heap, (nf, v))

    if not g:
        return state
    rows = [(r, c, v) for (r, c), v in g.items()]
    gdf = local_frame(state.sparkSession, rows, "row int, col int, gb double")
    return (
        state.join(F.broadcast(gdf), ["row", "col"], "left")
        .select("row", "col", "elev", F.least(F.col("f"), F.col("gb")).alias("f"))
    )


def flow_direction(grid: DataFrame) -> DataFrame:
    """Steepest-descent D8 direction (ref pysheds ``flowdir``):
    (row, col, elev) -> (row, col, elev, to_row, to_col), by one tile pass
    over each tile and its halo (core.dem ``steepest_d8``). Ties break by
    D8 priority order; cells with no strictly lower neighbor are sinks
    (to_row/to_col NULL)."""
    offsets = np.array(D8)

    def directions(core, a, present):
        d = steepest_d8(a["elev"])
        sink = d < 0
        return present[1:-1, 1:-1], {
            "elev": a["elev"][1:-1, 1:-1],
            "to_row": np.ma.array(core[0] + offsets[d, 0], mask=sink),
            "to_col": np.ma.array(core[1] + offsets[d, 1], mask=sink),
        }

    cells = grid.select("row", "col", F.col("elev").cast("double").alias("elev"))
    return halo_pass(cells, 1, TILE_SHAPE, directions, "row int, col int, elev double, to_row int, to_col int")


def _f64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(np.float64, na_value=np.nan)


def _nullable_int(values: np.ndarray, null: np.ndarray) -> pd.arrays.IntegerArray:
    return pd.arrays.IntegerArray(values.astype(np.int32), null)


def _targets(df: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(to_row, to_col, has): int64 targets (0 where NULL) and their mask."""
    to_r, to_c = _f64(df["to_row"]), _f64(df["to_col"])
    has = ~np.isnan(to_r)
    return np.where(has, to_r, 0).astype(np.int64), np.where(has, to_c, 0).astype(np.int64), has


# one edge-forest node per tile-edge cell; (to_row, to_col) is its parent
_NODE_SCHEMA = "row int, col int, to_row int, to_col int, val double"
# the driver's answer to a second tile pass: the mass flowing into a cell
# from other tiles, and the drainage elevation that a tile-edge cell's
# path reaches outside its tile
_TABLE_SCHEMA = "row int, col int, inflow double, drain double"


class _Tile:
    """One tile of a flow pass as a dense tile-local forest. ``pdf`` holds
    the tile's flow rows and the driver table's rows for the tile (non-null
    ``inflow``). Cell (r, c) sits at position ``(r - r0) * tc + c - c0``.
    ``nxt`` is each position's in-tile downstream position, -1 where there
    is none or the D8 target lies in another tile (an *exit*); ``end`` is
    where each position's in-tile path ends; ``acc`` counts the cells
    draining through each position, the table's inflow included."""

    def __init__(self, pdf: pd.DataFrame, tile_shape: tuple[int, int]):
        self.tr, self.tc = tr, tc = tile_shape
        table = pdf["inflow"].notna().to_numpy()
        own, tab = pdf[~table], pdf[table]
        self.rows, self.cols = own["row"].to_numpy(np.int64), own["col"].to_numpy(np.int64)
        self.r0, self.c0 = self.rows.min() // tr * tr, self.cols.min() // tc * tc
        self.pos = self.at(self.rows, self.cols)
        self.to_row, self.to_col, has = _targets(own)
        inside = has & (self.to_row // tr * tr == self.r0) & (self.to_col // tc * tc == self.c0)
        self.exit = np.zeros(tr * tc, dtype=bool)
        self.exit[self.pos[has & ~inside]] = True
        self.nxt = np.full(tr * tc, -1)
        self.nxt[self.pos[inside]] = self.at(self.to_row[inside], self.to_col[inside])
        self.end = first_marked(self.nxt, self.nxt < 0)
        tpos = self.at(tab["row"].to_numpy(np.int64), tab["col"].to_numpy(np.int64))
        w = np.zeros(tr * tc)
        w[self.pos] = 1.0
        np.add.at(w, tpos, _f64(tab["inflow"]))
        self.acc = forest_sum(self.nxt, w)
        self.drain_in = np.full(tr * tc, np.nan)
        np.fmax.at(self.drain_in, tpos, _f64(tab["drain"]))
        self.elev = np.full(tr * tc, np.nan)
        if "elev" in own:
            self.elev[self.pos] = _f64(own["elev"])

    def at(self, r: np.ndarray, c: np.ndarray) -> np.ndarray:
        return (r - self.r0) * self.tc + (c - self.c0)

    def drains(self, acc_threshold: float) -> np.ndarray:
        """Elevation of the first drainage cell (acc > threshold) on each
        position's in-tile path; NaN where the path has none."""
        hit = first_marked(self.nxt, self.acc > acc_threshold)
        return np.where(hit >= 0, self.elev[hit], np.nan)

    def nodes(self, val: np.ndarray) -> pd.DataFrame:
        """The tile's edge cells as edge-forest nodes, with ``val`` per
        position. An exit's parent is its D8 target; another edge cell's
        is the exit its in-tile path ends at, if it ends at one."""
        li, lj = self.rows - self.r0, self.cols - self.c0
        edge = (li == 0) | (li == self.tr - 1) | (lj == 0) | (lj == self.tc - 1)
        end, out = self.end[self.pos][edge], self.exit[self.pos][edge]
        root = ~self.exit[end]
        return pd.DataFrame({
            "row": self.rows[edge], "col": self.cols[edge],
            "to_row": _nullable_int(np.where(out, self.to_row[edge], self.r0 + end // self.tc), root),
            "to_col": _nullable_int(np.where(out, self.to_col[edge], self.c0 + end % self.tc), root),
            "val": val[self.pos][edge],
        })

    def frame(self, name: str, val: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({"row": self.rows, "col": self.cols, name: val[self.pos]})


def _tile_pass(flow: DataFrame, table: pd.DataFrame, fn, schema: str) -> DataFrame:
    """Run ``fn(_Tile)`` on every tile of ``flow`` together with the
    driver ``table``'s rows for the tile (``_TABLE_SCHEMA``; a cell may
    have several, which add up)."""
    tile_shape = TILE_SHAPE
    table = local_frame(flow.sparkSession, table, _TABLE_SCHEMA)
    return (
        flow.unionByName(table, allowMissingColumns=True)
        .groupBy(tile_key(F.col("row"), F.col("col"), tile_shape))
        .applyInPandas(lambda pdf: fn(_Tile(pdf, tile_shape)), schema)
    )


def _edge_forest(nodes: pd.DataFrame) -> np.ndarray:
    """Parent index of every edge-forest node, -1 at a root."""
    prow, pcol, has = _targets(nodes)
    index = pd.Index(nodes["row"].to_numpy(np.int64) * (1 << 32) + nodes["col"].to_numpy(np.int64))
    return np.where(has, index.get_indexer(prow * (1 << 32) + pcol), -1)


def _inflow(flow: DataFrame) -> pd.DataFrame:
    """First tile pass and driver solve of accumulation: table rows with
    the mass that flows into each cell from other tiles.

    Each tile reports its edge cells with weight 0, except that an exit
    weighs its in-tile accumulation (>= 1). The subtree sums of the edge
    forest are then the global accumulations of the exits, exactly: the
    in-tile subtrees of a tile's exits are disjoint. A cell's inflow sums
    the exits whose target it is; mass sent to a cell that is not a row
    of ``flow`` is dropped.

    Raises ValueError when ``flow`` has more than ``DRIVER_MAX_EDGE_CELLS``
    tile-edge cells; the collect stops one row past that bound."""
    empty = pd.DataFrame(columns=["row", "col", "inflow", "drain"])
    nodes = _tile_pass(flow, empty, lambda t: t.nodes(t.acc * t.exit), _NODE_SCHEMA)
    nodes = nodes.limit(DRIVER_MAX_EDGE_CELLS + 1).toPandas()
    if len(nodes) > DRIVER_MAX_EDGE_CELLS:
        raise ValueError(
            f"more than DRIVER_MAX_EDGE_CELLS = {DRIVER_MAX_EDGE_CELLS} tile-edge "
            "cells: the driver solve of flow_accumulation and compute_hand "
            "collects every one"
        )
    parent = _edge_forest(nodes)
    weight = nodes["val"].to_numpy(np.float64)
    total, out = forest_sum(parent, weight), (weight > 0) & (parent >= 0)
    inflow = np.bincount(parent[out], weights=total[out], minlength=len(nodes))
    return nodes[["row", "col"]].assign(inflow=inflow, drain=np.nan)[inflow > 0]


def flow_accumulation(flow: DataFrame) -> DataFrame:
    """Cells draining through each cell, itself included (ref pysheds
    ``accumulation``): flow (row, col, to_row, to_col) -> (row, col, acc).
    A tile pass and driver solve (``_inflow``), then a tile pass that sums
    each tile's forest with the inflow added at its entry cells. Raises
    ValueError above ``DRIVER_MAX_EDGE_CELLS`` tile-edge cells, as does
    ``compute_hand``."""
    flow = flow.select("row", "col", "to_row", "to_col")
    return _tile_pass(
        flow, _inflow(flow), lambda t: t.frame("acc", t.acc), "row int, col int, acc double"
    )


def compute_hand(flow: DataFrame, acc_threshold: float = 100.0) -> DataFrame:
    """Height above nearest drainage (ref hand/calculate.py:124-129):
    drainage = cells whose flow accumulation exceeds ``acc_threshold``;
    HAND = elev - the elevation of the first drainage cell on the cell's
    flow path (>= 0), NULL where the path reaches none.

    Takes the flow (row, col, elev, to_row, to_col) and accumulates it
    itself (``_inflow``), since the drainage is defined by the flow. A tile
    pass finds each cell's first drainage cell within its tile; the driver
    resolves the edge cells whose in-tile path finds none by
    ``first_marked`` over the edge forest; a last tile pass gives every
    cell whose in-tile path ends at such an exit that exit's drainage."""
    flow = flow.select("row", "col", "elev", "to_row", "to_col")
    inflow = _inflow(flow)
    nodes = _tile_pass(flow, inflow, lambda t: t.nodes(t.drains(acc_threshold)), _NODE_SCHEMA).toPandas()
    val = _f64(nodes["val"])
    hit = first_marked(_edge_forest(nodes), ~np.isnan(val))
    # only cells whose in-tile path finds no drainage read the solve
    found = np.isnan(val) & (hit >= 0)
    drains = nodes[["row", "col"]][found].assign(inflow=0.0, drain=val[hit[found]])
    table = pd.concat([inflow, drains])

    def hand(t: _Tile) -> pd.DataFrame:
        d = t.drains(acc_threshold)
        d = np.where(np.isnan(d), t.drain_in[t.end], d)
        return t.frame("hand", np.maximum(t.elev - d, 0.0))

    return _tile_pass(flow, table, hand, "row int, col int, hand double")


def calculate_hand(grid: DataFrame, acc_threshold: float = 100.0) -> DataFrame:
    """condition -> flowdir -> accumulation -> HAND
    (ref hand/calculate.py:108-129). Like the reference, which feeds the
    inflated DEM to flowdir AND compute_hand, every step after
    conditioning uses the conditioned elevations."""
    flow = flow_direction(condition_dem(grid)).localCheckpoint(eager=True)
    return compute_hand(flow, acc_threshold)
