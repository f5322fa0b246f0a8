"""CCNet-style n-gram language-model perplexity scoring.

The classic web-corpus quality stage (Wenzek et al., "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data", 2020 — public
paper): train a smoothed bigram LM on a reference slice of the corpus,
score every document by perplexity, and split the corpus into
head / middle / tail perplexity tertiles. Complements the fastText-style
discriminative classifier (operators/classifier.py) — CCNet uses exactly
this pair of filters.

Spark-first shape (designed for the 10^12-page table):

- tokenization + bigram emission are ``Generate`` nodes (explode of a
  per-row transform) — no shuffle, whole-stage codegen on either side;
- LM training is two partial/final hash aggregates keyed by word /
  word-pair — the same shape as word-count, no skew beyond natural Zipf
  (handled by partial aggregation: the mapper pre-combines hot words);
- scoring joins each document bigram against the broadcast bigram/unigram
  count tables (a pruned LM for a 100-language web corpus is ~10^7 rows);
- the per-document reduction is ONE groupBy(key) aggregate.

Smoothing: add-alpha over the training vocabulary,

    p(w2 | w1) = (c(w1 w2) + a) / (c(w1) + a * V)

with ``V`` = distinct training tokens, ``c`` = training counts (an unseen
context word w1 therefore backs off to the uniform 1/V). Deterministic —
no sampling anywhere — so the whole stage is DuckDB-oracle-able.

Perplexity: ``ppl(d) = exp(-sum(ln p) / n_bigrams(d))`` over the
document's consecutive-token bigrams; documents with < 2 tokens carry no
signal and are dropped (documented contract, mirrored by the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import normalize_text

DEFAULT_ALPHA = 0.1


def _tokens(text_col: Column) -> Column:
    return F.filter(F.split(normalize_text(text_col), " "), lambda w: F.length(w) > 0)


def train_bigram_lm(
    train_docs: DataFrame, text_col: str = "text"
) -> dict[str, DataFrame]:
    """Count tables for an add-alpha bigram LM.

    Returns ``{"unigrams": (w1, c_u), "bigrams": (w1, w2, c_b),
    "vocab": (v_size,)}`` — all lazy DataFrames; nothing is collected, so
    the three can be persisted/written by the caller (a real pipeline
    trains once and ships the LM as a table).
    """
    ws = train_docs.select(_tokens(F.col(text_col)).alias("ws")).where(
        F.size("ws") > 0
    )
    toks = ws.select(F.explode("ws").alias("w1"))
    unigrams = toks.groupBy("w1").agg(F.count("*").alias("c_u"))
    bigrams = (
        ws.where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_b"))
    )
    vocab = toks.agg(F.countDistinct("w1").alias("v_size"))
    return {"unigrams": unigrams, "bigrams": bigrams, "vocab": vocab}


def perplexity(
    docs: DataFrame,
    key: str,
    lm: dict[str, DataFrame],
    text_col: str = "text",
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """(key, n_bigrams, ppl): add-alpha bigram perplexity per document.

    The count tables are broadcast (a top-pruned web LM is MBs).
    """
    bg = (
        docs.select(key, _tokens(F.col(text_col)).alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            key,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select(key, "bg.w1", "bg.w2")
    )
    bi, uni = F.broadcast(lm["bigrams"]), F.broadcast(lm["unigrams"])
    a = F.lit(float(alpha))
    # V as a 1-row broadcast cross join: stays cluster-side and lazy (no
    # driver collect), constant-folds into every partition.
    scored = (
        bg.join(bi, ["w1", "w2"], "left")
        .join(uni, ["w1"], "left")
        .crossJoin(F.broadcast(lm["vocab"]))
        .select(
            key,
            F.log(
                (F.coalesce(F.col("c_b"), F.lit(0)) + a)
                / (F.coalesce(F.col("c_u"), F.lit(0)) + a * F.col("v_size"))
            ).alias("logp"),
        )
    )
    return scored.groupBy(key).agg(
        F.count("*").alias("n_bigrams"),
        F.exp(-F.sum("logp") / F.count("*")).alias("ppl"),
    )


def ccnet_buckets(
    scored: DataFrame,
    key: str,
    ppl_col: str = "ppl",
    mode: str = "ntile",
) -> DataFrame:
    """head/middle/tail perplexity tertiles (CCNet's corpus split).

    ``mode="ntile"``: exact tertiles via a global NTILE(3) window ordered
    by (round(ppl, 6), key) — the rounded sort key keeps the order (and so
    the bucket boundary) bit-identical across engines. A global window is
    a single-partition sort: correct, and fine up to ~10^8 scored rows,
    but NOT the 10^12-row path.

    ``mode="quantile"``: the scale path — two approxQuantile driver
    scalars (one pass, per-partition sketches; no global sort, no
    single-partition stage), then a map-side threshold compare. Bucket
    boundaries are approximate exactly like CCNet's own reservoir
    estimate; use for production, keep "ntile" for the cross-engine gate.
    """
    from pyspark.sql import Window

    r = F.round(F.col(ppl_col), 6)
    if mode == "quantile":
        t1, t2 = scored.approxQuantile(ppl_col, [1 / 3, 2 / 3], 0.001)
        bucket = (
            F.when(F.col(ppl_col) <= t1, "head")
            .when(F.col(ppl_col) <= t2, "middle")
            .otherwise("tail")
        )
        return scored.withColumn("bucket", bucket)
    w = Window.orderBy(r.asc(), F.col(key).asc())
    tile = F.ntile(3).over(w)
    return scored.withColumn(
        "bucket",
        F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail"),
    )
