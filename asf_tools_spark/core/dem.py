"""DEM core: epsilon priority-flood depression filling, D8 steepest
descent, and the forest kernel behind flow accumulation and HAND.

Plays the role of the pysheds chain fill_pits -> fill_depressions ->
resolve_flats (ref: src/asf_tools/hydrosar/hand/calculate.py:108-118) in one
pass: the epsilon variant of priority-flood (Barnes et al. 2014, "Priority-
flood: An optimal depression-filling and watershed-labeling algorithm",
public literature) fills pits AND depressions, and the +eps ramp leaves every
interior cell with a strictly lower neighbor — flats are resolved by
construction, so D8 ``flow_direction`` finds no spurious interior sinks.

Exact single-array implementation (heapq Dijkstra on the minimax metric
``F(c) = max(elev(c), F(pred) + eps)``). Used two ways:

- directly, as the numpy ORACLE for the distributed operator's tests;
- per tile inside the distributed halo-merge fixpoint
  (operators.hand.condition_dem) via the ``seeds`` parameter, which lets a
  tile solve locally from halo boundary values.

The relaxation is order-independent (settled in increasing F), so tiled
iteration converges to exactly the full-array answer.

``forest_sum`` and ``first_marked`` run pointer doubling over a D8 flow
forest given as a parent-pointer array: ceil(log2(longest path)) + 1
vectorized rounds, not one round per hop.
"""

from __future__ import annotations

import heapq

import numpy as np

# D8 neighbor offsets in priority order (E, SE, S, SW, W, NW, N, NE)
D8 = [(0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1)]


def priority_flood_fill(
    elev: np.ndarray,
    eps: float = 1e-5,
    seeds: list[tuple[int, int, float]] | None = None,
) -> np.ndarray:
    """Epsilon priority-flood fill of a 2D elevation array.

    ``elev``: float array, NaN = nodata (no flow in or out).
    ``seeds``: optional (row, col, f0) sources. Default: every finite cell on
    the array border at its own elevation (the global drain). With seeds, the
    fill solves the local problem "given these boundary water levels, what is
    each cell's filled level" — the tile subproblem of the distributed
    operator.

    Returns F with F >= elev everywhere, F = +inf where unreachable/NaN.
    """
    h, w = elev.shape
    F = np.full((h, w), np.inf)
    heap: list[tuple[float, int, int]] = []
    if seeds is None:
        seeds = [
            (r, c, float(elev[r, c]))
            for r in range(h)
            for c in range(w)
            if (r in (0, h - 1) or c in (0, w - 1)) and np.isfinite(elev[r, c])
        ]
    for r, c, f0 in seeds:
        if not np.isfinite(elev[r, c]):
            continue
        f0 = max(float(f0), float(elev[r, c]))
        if f0 < F[r, c]:
            F[r, c] = f0
            heapq.heappush(heap, (f0, r, c))
    while heap:
        f, r, c = heapq.heappop(heap)
        if f > F[r, c]:
            continue  # stale entry
        for dr, dc in D8:
            rr, cc = r + dr, c + dc
            if 0 <= rr < h and 0 <= cc < w and np.isfinite(elev[rr, cc]):
                nf = max(float(elev[rr, cc]), f + eps)
                if nf < F[rr, cc]:
                    F[rr, cc] = nf
                    heapq.heappush(heap, (nf, rr, cc))
    return F


def steepest_d8(elev: np.ndarray) -> np.ndarray:
    """Steepest-descent D8 direction of every cell of ``elev[1:-1, 1:-1]``
    (the array carries a one-cell halo ring): the index into ``D8`` of the
    neighbor with the largest drop ``(elev - nelev) / dist`` (dist = sqrt(2)
    on diagonals), ties to the lowest index; -1 where no neighbor is
    strictly lower. NaN cells neither drain nor receive."""
    h, w = elev.shape[0] - 2, elev.shape[1] - 2
    c = elev[1:-1, 1:-1]
    best = np.zeros((h, w))
    out = np.full((h, w), -1)
    with np.errstate(invalid="ignore"):
        for i, (dr, dc) in enumerate(D8):
            dist = 1.4142135623730951 if dr and dc else 1.0
            drop = (c - elev[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]) / dist
            better = drop > best  # False for NaN
            best = np.where(better, drop, best)
            out[better] = i
    return out


def forest_sum(nxt: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Subtree sums over a parent-pointer forest (``nxt[v]`` = parent of v,
    -1 at a root): ``out[v]`` = sum of ``w[u]`` over every u whose path
    reaches v, v included.

    After round k, ``a[v]`` sums the u within 2^k - 1 hops upstream of v
    and ``j[v]`` is v's 2^k-th successor; a round adds every ``a[m]`` into
    ``a[j[m]]`` and replaces ``j`` by ``j[j]``."""
    a = np.asarray(w, dtype=np.float64).copy()
    j = np.asarray(nxt, dtype=np.int64).copy()
    for _ in range(len(j).bit_length() + 1):
        live = j >= 0
        if not live.any():
            return a
        a = a + np.bincount(j[live], weights=a[live], minlength=len(a))
        j[live] = j[j[live]]
    raise ValueError("parent pointers contain a cycle")


def first_marked(nxt: np.ndarray, mark: np.ndarray) -> np.ndarray:
    """First marked node on each node's path through a parent-pointer
    forest, the node itself included; -1 where the path has none.
    ``first_marked(nxt, nxt < 0)`` is each node's root."""
    hit = np.where(mark, np.arange(len(mark)), -1)
    j = np.asarray(nxt, dtype=np.int64).copy()
    for _ in range(len(j).bit_length() + 1):
        live = (hit < 0) & (j >= 0)
        if not live.any():
            return hit
        jl = j[live]
        hit[live] = hit[jl]
        j[live] = j[jl]
    raise ValueError("parent pointers contain a cycle")
