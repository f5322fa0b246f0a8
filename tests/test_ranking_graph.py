"""TF-IDF / BM25 / PMI / PageRank: hand-computed small-case pins plus the
degenerate-input edges (empty text, uniform graph)."""

import math

import pytest
from pyspark.sql import functions as F

from asf_tools_spark.operators import graph, ranking, text


def test_tfidf_hand_case(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry date")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.term): (r.tf, r.df_docs, r.tfidf)
        for r in ranking.tfidf_terms(docs, "doc_id").collect()
    }
    # N=3; apple: tf=2 df=1 -> 2*ln(4/2); banana df=2 -> ln(4/3)
    assert got[(1, "apple")] == (2, 1, round(2 * math.log(2.0), 6))
    assert got[(1, "banana")] == (1, 2, round(math.log(4.0 / 3.0), 6))
    assert got[(3, "date")] == (1, 1, round(math.log(2.0), 6))


def test_tfidf_top_k_tie_break(spark):
    docs = spark.createDataFrame(
        [(1, "zz aa"), (2, "qq")], "doc_id long, text string"
    )
    # doc 1: zz and aa both tf=1 df=1 -> equal tfidf; k=1 keeps 'aa'
    top = ranking.tfidf_terms(docs, "doc_id", top_k=1)
    kept = {r.doc_id: r.term for r in top.collect()}
    assert kept[1] == "aa"


def test_bm25_hand_case(spark):
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x x x y"), (3, "z w")], "doc_id long, text string"
    )
    got = {r.doc_id: r.bm25 for r in
           ranking.bm25_scores(docs, ["x"], "doc_id").collect()}
    assert set(got) == {1, 2}  # only matching docs
    n, df, k1, b, avgdl = 3, 2, 1.2, 0.75, (2 + 4 + 2) / 3.0
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def s(tf, dl):
        return round(idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)), 6)

    assert got[1] == pytest.approx(s(1, 2), abs=1e-6)
    assert got[2] == pytest.approx(s(3, 4), abs=1e-6)
    assert got[2] > got[1]  # higher tf wins at comparable length


def test_pmi_hand_case(spark):
    # "a b" always together; "c" background noise
    rows = [(i, "a b") for i in range(5)] + [(i + 10, "c c c") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.term_a, r.term_b): (r.n_pairs, r.pmi)
        for r in text.cooccurrence_pmi(docs, window=3, min_count=2).collect()
    }
    # tokens: a=5, b=5, c=15 -> T=25; pairs: (a,b)x5, (c,c)x15 -> P=20
    n_ab, p_tot, t = 5, 20.0, 25.0
    exp_ab = round(math.log((n_ab / p_tot) / ((5 / t) * (5 / t))), 6)
    assert got[("a", "b")] == (5, exp_ab)
    exp_cc = round(math.log((15 / 20.0) / ((15 / t) * (15 / t))), 6)
    assert got[("c", "c")] == (15, exp_cc)


def test_pagerank_star_vs_uniform(spark):
    # star: everyone links to 'hub' -> hub rank grows, leaves get (1-d)
    edges = spark.createDataFrame(
        [(f"leaf{i}", "hub") for i in range(4)] + [("hub", "leaf0")],
        "src string, dst string",
    )
    # 40 iterations: the hub/leaf0 pair oscillates early (mass bounces
    # between them each step) and needs ~30 steps to settle near the
    # fixed point h = 2.3784, l0 = 2.1716
    got = {r.node: r.rank for r in graph.pagerank(edges, n_iters=40).collect()}
    assert got["hub"] == pytest.approx(2.3784, abs=5e-3)
    assert got["leaf0"] == pytest.approx(2.1716, abs=5e-3)
    assert got["hub"] > got["leaf0"] > got["leaf1"]  # leaf0 gets hub's mass
    assert got["leaf1"] == pytest.approx(0.15, abs=1e-9)

    # uniform ring: all ranks stay exactly 1.0
    ring = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 5}") for i in range(5)], "src string, dst string"
    )
    ranks = [r.rank for r in graph.pagerank(ring, n_iters=5).collect()]
    assert all(r == pytest.approx(1.0, abs=1e-12) for r in ranks)


def test_empty_and_null_text_rows_are_harmless(spark):
    docs = spark.createDataFrame(
        [(1, "real words here"), (2, None), (3, "   ")],
        "doc_id long, text string",
    )
    assert ranking.tfidf_terms(docs, "doc_id").where(
        F.col("doc_id").isin(2, 3)
    ).count() == 0
    assert ranking.bm25_scores(docs, ["words"], "doc_id").count() == 1
    assert text.cooccurrence_pmi(docs, min_count=1).count() > 0


def test_hits_hub_authority_structure(spark):
    # h1 and h2 both point at a1, a2; h3 points only at a1. a1 is the top
    # authority (3 in-links), h1/h2 the top hubs (link to both authorities).
    edges = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("h2", "a2"), ("h3", "a1")],
        "src string, dst string",
    )
    got = {r.node: (r.hub, r.auth) for r in graph.hits(edges, n_iters=8).collect()}
    assert got["a1"][1] == 1.0  # max-normalized top authority
    assert got["h1"][0] == got["h2"][0] == 1.0  # symmetric top hubs
    assert got["a1"][1] > got["a2"][1] > 0
    assert got["h1"][0] > got["h3"][0] > 0
    assert got["a1"][0] == 0.0  # no out-edges: zero hub
    assert got["h1"][1] == 0.0  # no in-edges: zero auth


def test_hits_distributed_equals_local(spark, monkeypatch):
    import random

    rng = random.Random(7)
    edges = spark.createDataFrame(
        list({(f"s{rng.randrange(12)}", f"d{rng.randrange(7)}") for _ in range(60)}),
        "src string, dst string",
    )
    local = {r.node: (r.hub, r.auth) for r in graph.hits(edges, n_iters=5).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    dist = {r.node: (r.hub, r.auth) for r in graph.hits(edges, n_iters=5).collect()}
    assert local.keys() == dist.keys()
    for n in local:
        assert local[n][0] == pytest.approx(dist[n][0], abs=1e-9)
        assert local[n][1] == pytest.approx(dist[n][1], abs=1e-9)


def test_bfs_hops_min_distance_and_bound(spark):
    # chain a->b->c->d plus shortcut a->c: min-hop wins (c at 1, not 2);
    # e is unreachable; max_hops truncates
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.hops for r in graph.bfs_hops(edges, seeds).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
    got1 = {r.node: r.hops for r in graph.bfs_hops(edges, seeds, max_hops=1).collect()}
    assert got1 == {"a": 0, "b": 1, "c": 1}
    # multi-source: seed e too — everything shifts to min over both seeds
    seeds2 = spark.createDataFrame([("a",), ("e",)], "node string")
    got2 = {r.node: r.hops for r in graph.bfs_hops(edges, seeds2).collect()}
    assert got2 == {"a": 0, "e": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_distributed_equals_local(spark, monkeypatch):
    import random

    rng = random.Random(11)
    edges = spark.createDataFrame(
        list({(f"s{rng.randrange(30)}", f"s{rng.randrange(30)}") for _ in range(80)}),
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s0",), ("s7",)], "node string")
    local = {r.node: r.hops for r in graph.bfs_hops(edges, seeds, max_hops=5).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    dist = {r.node: r.hops for r in graph.bfs_hops(edges, seeds, max_hops=5).collect()}
    assert local == dist


def test_chi2_hand_case(spark):
    # 4 docs en, 2 docs fr; "kiwi" in all en docs and no fr doc (perfectly
    # discriminative), "the" in every doc (chi2 = 0, degenerate absent row)
    rows = [(i, "kiwi the", "en") for i in range(4)] + [
        (i + 10, "vin the", "fr") for i in range(2)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.term: (r.df_docs, r.chi2)
        for r in ranking.chi2_terms(docs, "doc_id", "lang", min_df=1).collect()
    }
    # kiwi: n=6, df=4; en cell o=4 e=4*4/6; fr cell o=0 e=4*2/6;
    # absent rows: en o=0 e=2*4/6; fr o=2 e=2*2/6  -> chi2 = 6.0 exactly
    n, df = 6.0, 4.0
    x = 0.0
    for cl, o in ((4.0, 4.0), (2.0, 0.0)):
        e_p = df * cl / n
        e_a = (n - df) * cl / n
        x += (o - e_p) ** 2 / e_p + ((cl - o) - e_a) ** 2 / e_a
    assert got["kiwi"] == (4, round(x, 6))
    assert got["vin"] == (2, round(x, 6))  # symmetric perfect separator
    assert got["the"] == (6, 0.0)  # present in all docs: degenerate cells -> 0


def test_chi2_min_df_and_top_k(spark):
    rows = [(1, "aa bb", "x"), (2, "bb", "y"), (3, "bb", "y")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    terms = {r.term for r in ranking.chi2_terms(docs, "doc_id", "lang", min_df=2).collect()}
    assert terms == {"bb"}  # aa (df=1) pruned
    top = ranking.chi2_terms(docs, "doc_id", "lang", min_df=1, top_k=1).collect()
    assert len(top) == 1


def test_lpa_distributed_equals_local(spark, monkeypatch):
    import random

    rng = random.Random(11)
    base = {(f"v{rng.randrange(20)}", f"v{rng.randrange(20)}") for _ in range(70)}
    base = {(a, b) for a, b in base if a != b}
    sym = base | {(b, a) for a, b in base}
    edges = spark.createDataFrame(sorted(sym), "src string, dst string")
    local = {r.node: r.label
             for r in graph.label_propagation(edges, n_iters=4).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    dist = {r.node: r.label
            for r in graph.label_propagation(edges, n_iters=4).collect()}
    assert local == dist and len(local) > 0


def test_lpa_two_cliques_converge(spark):
    # two 4-cliques joined by one bridge edge: each clique collapses to its
    # own min label; the bridge alone can't outvote 3 in-clique neighbors
    cl1 = [(f"a{i}", f"a{j}") for i in range(4) for j in range(4) if i != j]
    cl2 = [(f"b{i}", f"b{j}") for i in range(4) for j in range(4) if i != j]
    bridge = [("a0", "b0"), ("b0", "a0")]
    edges = spark.createDataFrame(cl1 + cl2 + bridge, "src string, dst string")
    got = {r.node: r.label
           for r in graph.label_propagation(edges, n_iters=6).collect()}
    assert all(got[f"a{i}"] == "a0" for i in range(4))
    assert all(got[f"b{i}"] == "b0" for i in range(1, 4))


def test_pagerank_distributed_equals_local(spark, monkeypatch):
    import random

    rng = random.Random(3)
    edges = spark.createDataFrame(
        list({(f"s{rng.randrange(15)}", f"d{rng.randrange(9)}") for _ in range(80)}),
        "src string, dst string",
    )
    local = {r.node: r.rank for r in graph.pagerank(edges, n_iters=10).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    dist = {r.node: r.rank for r in graph.pagerank(edges, n_iters=10).collect()}
    assert local.keys() == dist.keys()
    for n in local:
        assert local[n] == pytest.approx(dist[n], abs=1e-9)


def test_kcore_hand_case(spark):
    # triangle (a,b,c) + tail c-d: at k=2 the tail peels, triangle stays
    e = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    e = e + [(y, x) for x, y in e]
    edges = spark.createDataFrame(e, "src string, dst string")
    got = {r.node: r.core_deg for r in graph.k_core(edges, 2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_kcore_distributed_equals_local(spark, monkeypatch):
    import random

    rng = random.Random(11)
    base = list({(rng.randrange(30), rng.randrange(30)) for _ in range(120)})
    e = [(u, v) for u, v in base if u != v]
    e = e + [(v, u) for u, v in e]
    edges = spark.createDataFrame(e, "src long, dst long").distinct()
    local = {tuple(r) for r in graph.k_core(edges, 3).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    dist = {tuple(r) for r in graph.k_core(edges, 3).collect()}
    assert local == dist


def test_kcore_empty_core(spark, monkeypatch):
    # a pure cycle has max degree 2 -> k=3 peels everything
    e = [(i, (i + 1) % 10) for i in range(10)]
    e = e + [(v, u) for u, v in e]
    edges = spark.createDataFrame(e, "src long, dst long")
    assert graph.k_core(edges, 3).count() == 0
    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    assert graph.k_core(edges, 3).count() == 0


def test_kcore_extra_rounds_idempotent(spark):
    """The unrolled oracle uses _KCORE_ROUNDS rounds; peeling must have
    converged strictly earlier, so +2 rounds changes nothing."""
    import duckdb

    from asf_tools_spark.queries_events import _KCORE_ROUNDS, _kcore_sql, KCORE_K

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    a = con.execute(_kcore_sql(KCORE_K, _KCORE_ROUNDS) + " ORDER BY node").fetchall()
    b = con.execute(_kcore_sql(KCORE_K, _KCORE_ROUNDS + 2) + " ORDER BY node").fetchall()
    assert a == b and len(a) == 12


def test_clustering_coefficient_hand_case(spark):
    # triangle (a,b,c) + pendant d on c: c(a)=c(b)=1, c(c)=2*1/(3*2)=1/3, c(d)=0
    e = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    e = e + [(y, x) for x, y in e]
    edges = spark.createDataFrame(e, "src string, dst string")
    got = {r.node: (r.deg, r.n_triangles, r.clustering)
           for r in graph.clustering_coefficient(edges).collect()}
    assert got["a"] == (2, 1, 1.0) and got["b"] == (2, 1, 1.0)
    assert got["c"][0] == 3 and got["c"][1] == 1
    assert abs(got["c"][2] - 1 / 3) < 1e-12
    assert got["d"] == (1, 0, 0.0)


def test_ppr_distributed_equals_local_and_seeds_dominate(spark, monkeypatch):
    import random

    rng = random.Random(5)
    e = list({(f"s{rng.randrange(12)}", f"d{rng.randrange(8)}") for _ in range(60)})
    edges = spark.createDataFrame(e, "src string, dst string")
    seeds = ["s0", "s1"]
    local = {r.node: r.rank for r in graph.pagerank(edges, seeds=seeds).collect()}
    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    dist = {r.node: r.rank for r in graph.pagerank(edges, seeds=seeds).collect()}
    assert local.keys() == dist.keys()
    for n in local:
        assert local[n] == pytest.approx(dist[n], abs=1e-9)
    # source-only nodes with no restart mass and no in-edges score 0
    pure_sources = {n for n in local if n.startswith("s") and n not in seeds}
    assert pure_sources and all(local[n] == 0.0 for n in pure_sources)
    # seeds hold restart mass
    assert all(local[s] >= 0.15 * 0.5 - 1e-12 for s in seeds if s in local)


def test_kcore_random_differential(spark, monkeypatch):
    """k_core distributed path vs an independent python peel, 3 seeds x 2 k."""
    import random

    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)

    for seed in (2, 9):
        rng = random.Random(seed)
        base = {(rng.randrange(25), rng.randrange(25)) for _ in range(90)}
        e = [(u, v) for u, v in base if u != v]
        e = e + [(v, u) for u, v in e]
        edges = spark.createDataFrame(e, "src long, dst long").distinct()
        es = set(e)
        for k in (2, 3):
            live = {n for p in es for n in p}
            deg = {}
            while live:
                deg = {}
                for s, d in es:
                    if s in live and d in live:
                        deg[s] = deg.get(s, 0) + 1
                drop = {n for n in live if deg.get(n, 0) < k}
                if not drop:
                    break
                live -= drop
            expect = {(n, deg[n]) for n in live}
            got = {tuple(r) for r in graph.k_core(edges, k).collect()}
            assert got == expect, (seed, k)


def test_graph_local_guards_accept_int_nodes(spark, monkeypatch):
    # int-keyed graphs come back int-keyed on the driver-local path and
    # the distributed one, and the local path keeps the node type on an
    # empty output
    # empty k-core on a STRING graph keeps node:string on the local path
    se = [("a", "b"), ("b", "a")]
    sedges = spark.createDataFrame(se, "src string, dst string")
    out = graph.k_core(sedges, 3)
    assert out.count() == 0
    assert out.schema["node"].dataType.simpleString() == "string"
    e = [(1, 2), (2, 3), (3, 1)]
    e = e + [(v, u) for u, v in e]
    edges = spark.createDataFrame(e, "src long, dst long")
    weighted = edges.withColumn("w", F.lit(1.0))
    seeds = spark.createDataFrame([(1,)], "node long")
    for limit in (graph.DRIVER_MAX_GRAPH_EDGES, 0):
        monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", limit)
        outs = {
            "pagerank": graph.pagerank(edges, n_iters=3),
            "ppr": graph.pagerank(edges, n_iters=3, seeds=[1]),
            "hits": graph.hits(edges, n_iters=3),
            "bfs_hops": graph.bfs_hops(edges, seeds),
            "shortest_paths": graph.shortest_paths(weighted, seeds),
            "lpa": graph.label_propagation(edges, n_iters=2),
            "k_core": graph.k_core(edges, 2),
        }
        for name, out in outs.items():
            assert out.schema["node"].dataType.simpleString() == "bigint", (name, limit)
            assert sorted(r.node for r in out.collect()) == [1, 2, 3], (name, limit)


_ITERATIVE = {
    "pagerank": lambda e, w, s: graph.pagerank(e, n_iters=3),
    "ppr": lambda e, w, s: graph.pagerank(e, n_iters=3, seeds=["a"]),
    "hits": lambda e, w, s: graph.hits(e, n_iters=3),
    "bfs_hops": lambda e, w, s: graph.bfs_hops(e, s, max_hops=3),
    "shortest_paths": lambda e, w, s: graph.shortest_paths(w, s, max_hops=3),
    "lpa": lambda e, w, s: graph.label_propagation(e, n_iters=3),
    "k_core": lambda e, w, s: graph.k_core(e, 2),
}
_ONE_PASS = {
    "triangle_count": lambda e, w, s: graph.triangle_count(e),
    "clustering_coefficient": lambda e, w, s: graph.clustering_coefficient(e),
}


@pytest.mark.parametrize("op,path", [
    *((op, path) for op in _ITERATIVE for path in ("driver", "distributed")),
    *((op, "one-pass") for op in _ONE_PASS),
])
def test_graph_operators_release_caches(spark, monkeypatch, no_cache_leak, op, path):
    """Every graph operator leaves no cache entry behind on either path."""
    if path == "distributed":
        monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)
    e = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "b")]
    e = e + [(v, u) for u, v in e]
    edges = spark.createDataFrame(e, "src string, dst string")
    weighted = edges.withColumn("w", F.lit(2.0))
    seeds = spark.createDataFrame([("a",)], "node string")
    run = {**_ITERATIVE, **_ONE_PASS}[op]
    rows = no_cache_leak(lambda: run(edges, weighted, seeds).collect())
    assert rows


def test_kcore_raises_when_unconverged(spark, monkeypatch, no_cache_leak):
    import pytest as _pt

    monkeypatch.setattr(graph, "DRIVER_MAX_GRAPH_EDGES", 0)

    # a 14-node path at k=2 needs ~7 peel rounds from both ends
    e = [(i, i + 1) for i in range(13)]
    e = e + [(v, u) for u, v in e]
    edges = spark.createDataFrame(e, "src long, dst long")
    with _pt.raises(RuntimeError, match="did not converge"):
        # the raise releases the persisted edges too
        no_cache_leak(lambda: graph.k_core(edges, 2, max_rounds=2))
    # with enough rounds the same input converges (to empty: a path has no 2-core)
    assert graph.k_core(edges, 2, max_rounds=20).count() == 0
