"""Link-graph analytics over an edge table: power iterations (PageRank
and its personalized form, HITS), frontier walks (BFS hops, hop-bounded
shortest paths), label propagation and k-core peeling, plus the one-pass
triangle and clustering-coefficient counts.

Every iterative operator runs on one skeleton, :func:`_iterate`:

- small-graph guard: one ``take(DRIVER_MAX_GRAPH_EDGES + 1)`` of the edge
  projection both answers "small enough?" and, when yes, is the collect;
  the operator then replays exactly its distributed iterations on the
  driver (iterative rounds over a tiny graph are ~90% job-launch
  overhead — the hits row went 81 s -> ~1 s with the guard). Tests force
  the distributed path with
  ``monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)``.
- distributed path: the edge table is persisted in one scope, which ends
  with an eager ``localCheckpoint`` of the result and unpersists the
  edges on every path, a raise included — no edge cache outlives its
  call. Loops truncate lineage by localCheckpoint at a fixed cadence
  (k_core: every round, materialized by its convergence count); those
  are not cache entries, the ContextCleaner reclaims them. k_core's
  result is thus copied once more by the final checkpoint (one small
  job); its lazy round checkpoints save more jobs than that costs.
- both paths return the input's node type.

PageRank formulation: the classic simplified power iteration (the one in
Spark's own published examples — public knowledge): every node starts at
1.0 and

    rank'(v) = (1 - d) + d * sum over in-edges (u,v) of rank(u)/outdeg(u)

Dangling nodes (no out-edges) contribute nothing; ranks are therefore
unnormalized (they do not sum to 1) but the ORDERING equals the
normalized variant's. A fixed iteration count keeps the operator
deterministic and lets the DuckDB oracle replay it as unrolled CTE
aggregates (aggregation is not allowed in a recursive term).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core.io import local_frame

DRIVER_MAX_GRAPH_EDGES = 100_000  # edge-row guard for the driver-local replays


def _iterate(e: DataFrame, schema: str, local, distributed,
             layout=lambda e: e) -> DataFrame:
    """The skeleton every iterative operator runs on (module docstring).

    ``e`` is the edge projection, node column first. At most
    ``DRIVER_MAX_GRAPH_EDGES`` rows: ``local(rows)`` replays the iterations on
    the driver and its rows are typed by ``schema``, a DDL string whose
    ``{node}`` is the input's node type. Otherwise ``distributed(cached)``
    builds the result from the persisted ``layout(e)``."""
    if DRIVER_MAX_GRAPH_EDGES:
        rows = e.take(DRIVER_MAX_GRAPH_EDGES + 1)
        if len(rows) <= DRIVER_MAX_GRAPH_EDGES:
            node = e.schema[0].dataType.simpleString()
            return local_frame(e.sparkSession, local(rows), schema.format(node=node))
    cached = layout(e).persist()
    try:
        return distributed(cached).localCheckpoint(eager=True)
    finally:
        cached.unpersist()


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    n_iters: int = 10, damping: float = 0.85, seeds: list | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iters`` power iterations from rank_0 =
    restart:

        rank'(v) = (1 - d) * restart(v) + d * sum over in-edges rank(u)/outdeg(u)

    With no ``seeds`` every node restarts with mass 1.0: the module
    docstring's formulation, bit for bit (``(1 - d) * 1.0 == 1 - d``).
    A seed list puts the restart mass on the seeds in equal shares
    instead — random walk with restart (Haveliwala 2002, topic-sensitive
    pagerank): proximity to the seed set, the related-domain lookup
    primitive. Seeds absent from the graph carry their mass nowhere: if
    NO seed is in the edge set every rank is 0.0 (the consistent answer;
    checking would cost an action). Multi-edges count once per row
    (pre-distinct the input for simple-graph semantics).

    Distributed: the edges are hash-partitioned by src once with their
    out-degree attached; each iteration is one join + one aggregate over
    them, all iterations one lazy plan. The driver replay runs the
    identical formulation; ranks agree to float-sum reassociation
    (callers round, as the oracle does)."""
    if seeds is not None and not seeds:
        raise ValueError("pagerank needs a non-empty seed list or seeds=None")
    mass = 1.0 if seeds is None else 1.0 / len(seeds)

    def local(rows):
        if not rows:
            return []
        nodes = sorted({n for r in rows for n in r})
        idx = {n: i for i, n in enumerate(nodes)}
        si = np.array([idx[s] for s, _ in rows])
        di = np.array([idx[d] for _, d in rows])
        deg = np.bincount(si, minlength=len(nodes)).astype(float)
        restart = np.ones(len(nodes))
        if seeds is not None:
            restart = np.zeros(len(nodes))
            restart[[idx[s] for s in seeds if s in idx]] = mass
        rank = restart
        for _ in range(n_iters):
            s = np.bincount(di, weights=rank[si] / deg[si], minlength=len(nodes))
            rank = (1.0 - damping) * restart + damping * s
        return [(n, float(rank[i])) for i, n in enumerate(nodes)]

    def layout(e):
        out_deg = e.groupBy(src).agg(F.count(F.lit(1)).cast("long").alias("_deg"))
        return e.join(out_deg, src).repartition(F.col(src))

    def distributed(e):
        nodes = (
            e.select(F.col(src).alias("node"))
            .unionByName(e.select(F.col(dst).alias("node")))
            .distinct()
        )
        restart = F.lit(1.0) if seeds is None else (
            F.when(F.col("node").isin(list(seeds)), F.lit(mass)).otherwise(F.lit(0.0))
        )
        ranks = nodes.select("node", restart.alias("rank"))
        for _ in range(n_iters):
            contribs = (
                e.join(ranks, e[src] == ranks["node"])
                .select(F.col(dst).alias("node"), (F.col("rank") / F.col("_deg")).alias("_c"))
                .groupBy("node")
                .agg(F.sum("_c").alias("_s"))
            )
            ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(1.0 - damping) * restart
                    + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
                ).alias("rank"),
            )
        return ranks

    return _iterate(edges.select(src, dst), "node {node}, rank double",
                    local, distributed, layout)


def hits(
    edges: DataFrame, src: str = "src", dst: str = "dst", n_iters: int = 8,
) -> DataFrame:
    """(node, hub, auth) after ``n_iters`` of MAX-normalized HITS
    (Kleinberg 1999): auth'(v) = sum of hub over in-edges, hub'(u) = sum
    of auth over out-edges, each vector divided by its max after every
    half-step.

    Max normalization instead of the textbook L2: the fixed point is the
    same up to scale (both are scalar renormalizations of the same linear
    map), and max — unlike a sum of squares — is an order-independent
    aggregate, so the unrolled-SQL oracle replay stays exact to round-6
    with no float-association drift. Nodes with no in-edges get auth 0,
    no out-edges hub 0; multi-edges count once per input row.

    Distributed: every iteration is two join+aggregate pairs over the
    persisted edges. The per-half-step max rides a broadcast 1-row cross
    join (a scalar, never a shuffle of the scores). Unlike pagerank, the
    score vector is referenced TWICE per half-step (values + its max) — a
    fully lazy plan would duplicate the prior iteration's subtree per
    reference (~4^n_iters blowup; Catalyst never dedups common subtrees),
    so lineage is truncated after every iteration (the standard
    Pregel-style iterate-and-checkpoint shape; the oracle's MATERIALIZED
    CTE chain is the same idea in SQL). The driver replay runs the same
    iterations in numpy."""

    def local(rows):
        if not rows:
            return []
        nodes = sorted({n for r in rows for n in r})
        idx = {n: i for i, n in enumerate(nodes)}
        si = np.array([idx[s] for s, _ in rows])
        di = np.array([idx[d] for _, d in rows])
        hub = auth = np.ones(len(nodes))
        for _ in range(n_iters):
            auth = np.bincount(di, weights=hub[si], minlength=len(nodes))
            auth = auth / auth.max()
            hub = np.bincount(si, weights=auth[di], minlength=len(nodes))
            hub = hub / hub.max()
        return [(n, float(hub[i]), float(auth[i])) for i, n in enumerate(nodes)]

    def distributed(e):
        nodes = (
            e.select(F.col(src).alias("node"))
            .unionByName(e.select(F.col(dst).alias("node")))
            .distinct()
        ).localCheckpoint(eager=True)
        scores = nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
        for i in range(n_iters):
            if i:  # truncate after every iteration; _iterate takes the last
                scores = scores.localCheckpoint(eager=True)
            a_raw = (
                e.join(scores, e[src] == scores["node"])
                .groupBy(F.col(dst).alias("node"))
                .agg(F.sum("hub").alias("_a"))
            )
            auth = nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("_a", F.lit(0.0)).alias("_a")
            )
            amax = auth.agg(F.max("_a").alias("_amax"))
            auth = auth.crossJoin(F.broadcast(amax)).select(
                "node", (F.col("_a") / F.col("_amax")).alias("auth")
            )
            h_raw = (
                e.join(auth, e[dst] == auth["node"])
                .groupBy(F.col(src).alias("node"))
                .agg(F.sum("auth").alias("_h"))
            )
            hub = nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("_h", F.lit(0.0)).alias("_h")
            )
            hmax = hub.agg(F.max("_h").alias("_hmax"))
            hub = hub.crossJoin(F.broadcast(hmax)).select(
                "node", (F.col("_h") / F.col("_hmax")).alias("hub")
            )
            scores = hub.join(auth, "node").select("node", "hub", "auth")
        return scores

    return _iterate(edges.select(src, dst), "node {node}, hub double, auth double",
                    local, distributed)


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, src: str = "src", dst: str = "dst",
    node: str = "node", max_hops: int = 6,
) -> DataFrame:
    """(node, hops): minimum directed hop count from ANY seed node, for
    every node reachable within ``max_hops`` (seeds themselves at 0) —
    multi-source BFS, the crawl-frontier / link-distance primitive.

    Distributed frontier expansion: the frontier (newly reached nodes
    only) joins the persisted edges once per hop; visited is the growing
    union, and the next frontier is an anti-join against it — each hop is
    one equi-join + one distinct, never a full-graph pass over
    already-settled nodes. Lineage is truncated every 2 hops (the visited
    union otherwise deepens the plan linearly and re-executes per
    reference). The driver replay expands the identical frontiers."""

    def local(rows):
        adj: dict = {}
        for s, d in rows:
            adj.setdefault(s, set()).add(d)
        seed_vals = [r[0] for r in seeds.select(node).collect()]
        hops = {s: 0 for s in seed_vals}
        frontier = set(seed_vals)
        for h in range(1, max_hops + 1):
            nxt = set()
            for u in frontier:
                nxt |= adj.get(u, set())
            nxt -= hops.keys()
            if not nxt:
                break
            for v in nxt:
                hops[v] = h
            frontier = nxt
        return sorted(hops.items())

    def distributed(e):
        visited = seeds.select(F.col(node).alias("node"), F.lit(0).alias("hops"))
        frontier = visited.select("node")
        for h in range(1, max_hops + 1):
            nxt = (
                e.join(frontier, e[src] == frontier["node"])
                .select(F.col(dst).alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
            )
            nxt = nxt.localCheckpoint(eager=True)  # branches below reuse it
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt.select("node", F.lit(h).alias("hops")))
            if h % 2 == 0:
                visited = visited.localCheckpoint(eager=True)
            frontier = nxt
        return visited.select("node", F.col("hops").cast("long").alias("hops"))

    return _iterate(edges.select(src, dst), "node {node}, hops bigint",
                    local, distributed)


def shortest_paths(
    edges: DataFrame, seeds: DataFrame, src: str = "src", dst: str = "dst",
    weight: str = "w", node: str = "node", max_hops: int = 6,
) -> DataFrame:
    """(node, cost): minimum total edge weight over directed paths of at
    most ``max_hops`` edges from ANY seed (seeds at 0.0) — hop-bounded
    single/multi-source shortest paths (Bellman-Ford), the weighted
    sibling of :func:`bfs_hops` (crawl distance where links carry a
    latency/penalty weight).

    Frontier-style relaxation, not whole-graph rounds: each hop joins
    ONLY the nodes whose tentative cost improved last round against the
    persisted edges, min-aggregates the candidates, and an improvement
    join against the settled table keeps strictly-better entries;
    converged graphs exit before max_hops. Parallel edges must be
    pre-collapsed to MIN(w) by the caller (oracle does the same). Path
    costs accumulate incrementally (same association order as the
    oracle's recursive CTE), so float parity is exact for exact-sum
    weights. Lineage is truncated every 2 hops; the driver replay runs
    the identical relaxation."""

    def local(rows):
        adj: dict = {}
        for s, d, w in rows:
            adj.setdefault(s, []).append((d, float(w)))
        dist = {r[0]: 0.0 for r in seeds.select(node).collect()}
        frontier = dict(dist)
        for _ in range(max_hops):
            cand: dict = {}
            for n, c in frontier.items():
                for d, w in adj.get(n, ()):
                    nc = c + w
                    if d not in cand or nc < cand[d]:
                        cand[d] = nc
            improved = {n: c for n, c in cand.items() if n not in dist or c < dist[n]}
            if not improved:
                break
            dist.update(improved)
            frontier = improved
        return list(dist.items())

    def distributed(e):
        dist = seeds.select(F.col(node).alias("node"), F.lit(0.0).alias("cost"))
        frontier = dist
        for h in range(1, max_hops + 1):
            cand = (
                e.join(frontier, e[src] == frontier["node"])
                .select(F.col(dst).alias("node"), (F.col("cost") + F.col(weight)).alias("cost"))
                .groupBy("node")
                .agg(F.min("cost").alias("cost"))
            )
            improved = (
                cand.join(dist.withColumnRenamed("cost", "_old"), "node", "left")
                .where(F.col("_old").isNull() | (F.col("cost") < F.col("_old")))
                .select("node", "cost")
            )
            improved = improved.localCheckpoint(eager=True)
            if improved.isEmpty():
                break
            dist = (
                dist.join(improved.select("node"), "node", "left_anti")
                .unionByName(improved)
            )
            if h % 2 == 0:
                dist = dist.localCheckpoint(eager=True)
            frontier = improved
        return dist

    return _iterate(edges.select(src, dst, weight), "node {node}, cost double",
                    local, distributed)


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", n_iters: int = 4,
) -> DataFrame:
    """(node, label): synchronous label-propagation communities
    (Raghavan 2007, the deterministic synchronous variant): every node
    starts labeled with its own id; each round ALL nodes simultaneously
    adopt the most frequent label among their in-neighbors (ties -> the
    smallest label, plain binary string order), for exactly ``n_iters``
    rounds. Community detection over the domain link graph — the
    webgraph sibling of pagerank/HITS. Callers wanting the classic
    undirected semantics pass symmetrized edges.

    Determinism: the synchronous update + total tie order makes the
    fixpoint schedule-free (unlike the async variant), so the result is
    oracle-able. Distributed shape: per round ONE src-keyed hash join
    (edges are hash-partitioned on src once, reused every round) + two
    partial/final hash aggregates; the argmax is min_by over the
    (-count, label) struct — no per-node window. Nodes with no
    in-neighbors keep their label (left join + coalesce). Lineage is
    truncated every 2 rounds; the driver replay runs the identical
    synchronous update."""
    from collections import Counter, defaultdict

    def local(rows):
        in_nbrs: dict = defaultdict(list)
        for s, d in rows:
            in_nbrs[d].append(s)
        labels = {n: n for r in rows for n in r}
        for _ in range(n_iters):
            nxt = {}
            for n, own in labels.items():
                nb = in_nbrs.get(n)
                if not nb:
                    nxt[n] = own
                    continue
                counts = Counter(labels[m] for m in nb)
                # most frequent, ties -> smallest label
                nxt[n] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            labels = nxt
        return sorted(labels.items())

    def distributed(e):
        nodes = (
            e.select(F.col(src).alias("node"))
            .unionByName(e.select(F.col(dst).alias("node")))
            .distinct()
        )
        labels = nodes.select("node", F.col("node").alias("label"))
        for it in range(1, n_iters + 1):
            cnt = (
                e.join(labels, e[src] == labels["node"])
                .groupBy(F.col(dst).alias("node"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("_c"))
            )
            best = cnt.groupBy("node").agg(
                F.min_by("label", F.struct((-F.col("_c")).alias("nc"), F.col("label"))).alias("_new")
            )
            labels = (
                labels.join(best, "node", "left")
                .select("node", F.coalesce(F.col("_new"), F.col("label")).alias("label"))
            )
            if it % 2 == 0:
                labels = labels.localCheckpoint(eager=True)
        return labels

    return _iterate(edges.select(src, dst), "node {node}, label {node}", local,
                    distributed, lambda e: e.repartition(F.col(src)))


def k_core(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, core_deg): the k-core — the maximal subgraph where every
    node keeps degree >= k after iteratively peeling lower-degree nodes
    (Seidman 1983; dense-community extraction on the link graph — e.g.
    template/spam farms in a near-dup pair graph survive, tendrils peel).
    Input is the symmetrized simple edge list (pass both directions, no
    self-loops); ``core_deg`` is each survivor's degree INSIDE the core.

    Distributed shape: per peel round ONE semi-join of the edge list
    against the live-node set (hash-partitioned by src once, reused) +
    one partial/final degree aggregate; the live set shrinks
    monotonically, so every round's exchange is no larger than the last.
    Convergence needs one count per round; each round's live set is a
    lazy localCheckpoint that this count materializes in the same action
    (truncating lineage without a second job); rounds are bounded
    by the peel depth (the graph's degeneracy ordering length, which is
    O(n) in the worst case — a long path at k=2 peels from both ends).
    If the peel has NOT converged within ``max_rounds`` the call raises
    rather than returning the unconverged live set (a silently-wrong
    near-core is worse than asking the caller to raise the bound). The
    driver replay runs the identical peel."""

    def local(rows):
        es = set(rows)
        live = {n for e2 in es for n in e2}
        deg: dict = {}
        while live:
            deg = {}
            for s, d in es:
                if s in live and d in live:
                    deg[s] = deg.get(s, 0) + 1
            drop = {n for n in live if deg.get(n, 0) < k}
            if not drop:
                break
            live -= drop
        return sorted((n, deg[n]) for n in live)

    def distributed(e):
        live = (
            e.select(F.col(src).alias("node"))
            .unionByName(e.select(F.col(dst).alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_live = live.count()  # one job: materializes the checkpoint and counts
        nxt = live.select("node", F.lit(0).cast("long").alias("core_deg")).limit(0)
        for _ in range(max_rounds):
            if n_live == 0:
                return nxt
            deg = (
                e.join(live.withColumnRenamed("node", src), src, "left_semi")
                .join(live.withColumnRenamed("node", dst), dst, "left_semi")
                .groupBy(F.col(src).alias("node"))
                .agg(F.count(F.lit(1)).alias("core_deg"))
            )
            nxt = deg.where(F.col("core_deg") >= k).localCheckpoint(eager=False)
            n_nxt = nxt.count()
            if n_nxt == n_live:
                return nxt
            live, n_live = nxt.select("node"), n_nxt
        if n_live == 0:
            return nxt
        raise RuntimeError(
            f"k_core did not converge within max_rounds={max_rounds} "
            f"({n_live} nodes still live) — raise max_rounds; returning the "
            "unconverged live set would silently overstate the core"
        )

    return _iterate(edges.select(src, dst).where(F.col(src) != F.col(dst)),
                    "node {node}, core_deg bigint", local, distributed,
                    lambda e: e.repartition(F.col(src)))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, n_triangles): how many triangles each node participates in,
    over the undirected simple graph induced by ``edges`` (self-loops
    dropped, direction and multiplicity ignored). The clustering /
    spam-farm signal of web-graph analysis (link farms are near-cliques).

    Spark-first, skew-proof shape (Suri & Vassilvitskii 2011, "Counting
    triangles and the curse of the last reducer" — public MapReduce
    formulation): orient every undirected edge from its lower-degree
    endpoint to its higher-degree endpoint (ties broken by node id).
    Wedge generation then pairs only the DEGREE-ORDERED out-neighbors of
    each node, so a celebrity node of degree d contributes O(sum of its
    low-degree neighbors' choices) instead of O(d^2) — total wedge count
    is O(m^{3/2}) regardless of skew. Each wedge (u, v, w) closes iff the
    oriented edge (v, w) exists: one semi-ish inner join against the
    oriented edge set. Every triangle is found exactly once (at its
    lowest-order corner), then exploded to its three corners for the
    per-node rollup. Three shuffles total (degree agg, wedge join,
    closing join), all on node keys.
    """
    und, deg = _undirected_and_deg(edges, src, dst)
    return _triangles_from(und, deg)


def _undirected_and_deg(edges: DataFrame, src: str, dst: str):
    """(und, deg): the deduped undirected simple edge set (a < b) and the
    per-node degree aggregate — shared by triangle_count and
    clustering_coefficient so the coefficient pays for them ONCE."""
    und = (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return und, deg


def _triangles_from(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered wedge triangle count over a prebuilt (und, deg)."""
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_degb"))
    ranked = und.join(da, "a").join(db, "b")
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.struct(F.col("_degb").alias("_dega"), F.col("b").alias("n")))
        .otherwise(F.struct("_dega", F.col("a").alias("n")))
        .alias("_hi"),
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("_hi").alias("_k1"))
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("_hi").alias("_k2")
    )
    wedges = e1.join(e2, (e1["u"] == e2["u2"]) & (e1["_k1"] < e2["_k2"])).select(
        "u", "v1", "v2"
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tris = wedges.join(closing, ["v1", "v2"])
    corners = tris.select(
        F.explode(F.array("u", "v1", "v2")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, deg, n_triangles, clustering): Watts-Strogatz local
    clustering coefficient c(v) = 2*T(v) / (deg(v) * (deg(v) - 1)) over
    the undirected simple graph — the per-node link-farm density score on
    top of :func:`triangle_count` (near-cliques score ~1, trees 0).
    Degree-<2 nodes get 0.0 (no wedge exists — the usual convention).
    One extra node-keyed left join beyond the triangle pass; the deduped
    edge set and degree aggregate are built ONCE and shared with the
    triangle stage (_undirected_and_deg)."""
    und, deg = _undirected_and_deg(edges, src, dst)
    deg = deg.select("node", F.col("deg").cast("long").alias("deg"))
    tri = _triangles_from(und, deg)
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    c = F.when(
        F.col("deg") >= 2,
        2.0 * t.cast("double") / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return deg.join(tri, "node", "left").select(
        "node", "deg", t.alias("n_triangles"), c.alias("clustering")
    )
