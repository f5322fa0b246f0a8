"""pairs.block_pairs: the blocked self-join's contract, checked against a
brute-force Python pair multiset."""

import random

from asf_tools_spark.operators.pairs import block_pairs

SCHEMA = "k long, blk long, v string"


def _frame(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _brute(a_rows, b_rows, blocks, carry):
    """Every (a, b) with equal non-NULL blocks and a.k < b.k, as the
    helper's column order: key_a, key_b, blocks, carry_a, carry_b."""
    return sorted(
        (x["k"], y["k"], *[x[c] for c in blocks], *[x[c] for c in carry], *[y[c] for c in carry])
        for x in a_rows for y in b_rows
        if x["k"] < y["k"] and all(x[c] is not None and x[c] == y[c] for c in blocks)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _dicts(rows, cols=("k", "blk", "v")):
    return [dict(zip(cols, r)) for r in rows]


def test_empty_and_one_row_give_nothing(spark):
    empty = _frame(spark, [])
    one = _frame(spark, [(1, 7, "x")])
    for df in (empty, one):
        out = block_pairs(df, df, "k", ["blk"], carry=["v"])
        assert out.columns == ["key_a", "key_b", "blk", "v_a", "v_b"]
        assert out.collect() == []


def test_null_block_pairs_with_nothing(spark):
    rows = [(1, None, "a"), (2, None, "b"), (3, 5, "c"), (4, 5, "d"), (5, None, "e")]
    df = _frame(spark, rows)
    assert _rows(block_pairs(df, df, "k", ["blk"])) == [(3, 4, 5)]


def test_one_block_gives_n_choose_2(spark):
    n = 9
    rows = [(i, 1, str(i)) for i in range(n)]
    df = _frame(spark, rows)
    got = _rows(block_pairs(df, df, "k", ["blk"], carry=["v"]))
    assert len(got) == n * (n - 1) // 2
    assert got == _brute(_dicts(rows), _dicts(rows), ["blk"], ["v"])


def test_two_shared_blocks_give_two_rows(spark):
    """No dedup: a pair that meets in two blocks comes back twice."""
    rows = [(1, 10, "a"), (1, 20, "a"), (2, 10, "b"), (2, 20, "b"), (3, 30, "c")]
    df = _frame(spark, rows)
    got = _rows(block_pairs(df, df, "k", ["blk"]))
    assert got == [(1, 2, 10), (1, 2, 20)]


def test_carried_columns_come_back_suffixed(spark):
    rows = [(1, 1, 0.5, "p"), (2, 1, 1.5, "q")]
    df = _frame(spark, rows, "k long, blk long, w double, s string")
    out = block_pairs(df, df, "k", ["blk"], carry=["w", "s"])
    assert out.columns == ["key_a", "key_b", "blk", "w_a", "s_a", "w_b", "s_b"]
    assert _rows(out) == [(1, 2, 1, 0.5, "p", 1.5, "q")]


def test_random_frames_match_brute_force(spark):
    """Several block columns, repeated keys and NULLs, against the
    brute-force multiset."""
    rnd = random.Random(5)
    rows = [
        (rnd.randrange(12), rnd.choice([None, 0, 1, 2]), rnd.choice([0, 1]))
        for _ in range(40)
    ]
    df = _frame(spark, rows, "k long, b1 long, b2 long")
    cols = ("k", "b1", "b2")
    got = _rows(block_pairs(df, df, "k", ["b1", "b2"]))
    assert got == _brute(_dicts(rows, cols), _dicts(rows, cols), ["b1", "b2"], [])


def test_two_sided_form_matches_distance_band_shape(spark):
    """``distance_band_join``'s form: the left side is every point shifted
    onto its 3x3 neighbour cells, the right side the points themselves.
    Each unordered pair of neighbouring cells' points comes back exactly
    once (a is shifted onto b's cell and b onto a's; key_a < key_b keeps
    one)."""
    from pyspark.sql import functions as F

    rnd = random.Random(11)
    pts = [(i, rnd.randrange(5), rnd.randrange(5)) for i in range(30)]
    base = spark.createDataFrame(pts, "k long, gy long, gx long")
    offs = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
        for dr in (-1, 0, 1) for dc in (-1, 0, 1)
    ])
    shifted = base.withColumn("_o", F.explode(offs)).select(
        "k",
        (F.col("gy") + F.col("_o.dr")).alias("gy"),
        (F.col("gx") + F.col("_o.dc")).alias("gx"),
    )
    got = [(r.key_a, r.key_b) for r in block_pairs(shifted, base, "k", ["gy", "gx"]).collect()]
    want = {
        (i, j) for i, yi, xi in pts for j, yj, xj in pts
        if i < j and abs(yi - yj) <= 1 and abs(xi - xj) <= 1
    }
    assert len(got) == len(set(got))
    assert set(got) == want


def test_where_lands_in_the_join_condition(spark):
    """setsim_join's length and positional filters are a ``.where`` after
    the helper; Catalyst must push them into the join's condition, not
    filter the joined rows afterwards."""
    from asf_tools_spark.operators.dedup import setsim_join

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    out = setsim_join(docs, "doc_id", threshold=0.5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join Inner" in ln and "n_toks" in ln]
    assert joins, plan
    assert "pos_a" in joins[0] and "key_a" in joins[0] and any("pos_b" in j for j in joins), joins
    assert _rows(out) == [(1, 2, 0.6)]  # 3 shared 3-grams of 5
