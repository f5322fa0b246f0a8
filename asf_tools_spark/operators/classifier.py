"""Model-based document quality classification — the fastText-style linear
filter every large-scale corpus pipeline ends up with (Joulin et al. 2016;
the CCNet/LLaMA-recipe "quality model": heuristics or a trusted corpus
label a seed set, a hashed-bag-of-ngrams linear model generalizes the
judgment to the whole crawl).

Spark-first shape (pyspark.ml, all JVM-side):

  normalized tokens + word bigrams (the fastText feature recipe)
  -> HashingTF into 2^b buckets (feature hashing: no vocabulary state,
     the same trick the dedup/LSH family uses for keys)
  -> LogisticRegression (distributed L-BFGS; the model is O(2^b) driver
     state, broadcast for scoring like centroids/codebooks)

Training labels come from wherever the pipeline has signal:
``weak_labels`` derives them from the heuristic screens
(operators.text.quality_features + repetition_signals), the
bootstrap/distillation pattern — heuristics are precise but rigid; the
model scores every doc smoothly and catches what the rules miss.

Scoring is ``model.transform`` — one narrow pass, no shuffle; the
probability column feeds the same thresholds the heuristic score does in
plans/corpus_pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..core.io import local_frame
from .dedup import normalize_text


def _token_features(df: DataFrame, text_col: str) -> DataFrame:
    """words + joined word-bigrams of the normalized text (fastText's
    default feature set), as one array column. NULL text coalesces to ''
    (a NULL _toks array would crash HashingTF for the whole job; web
    corpora routinely carry NULL-text rows)."""
    ws_expr = F.split(F.coalesce(normalize_text(F.col(text_col)), F.lit("")), " ")
    # Generate fence (see text.quality_features): element_at(ws, i) inside
    # the bigram lambda would otherwise re-substitute the normalize regex +
    # split PER ELEMENT — a regex pass over the whole doc per token
    # (measured: classifier_score 10.4s -> 1.3s warm at sf0.1).
    staged = df.withColumn("_ws", F.explode(F.array(ws_expr)))
    ws = F.col("_ws")
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws("_", F.element_at(ws, i), F.element_at(ws, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.withColumn("_toks", F.concat(ws, bigrams)).drop("_ws")


def weak_labels(
    docs: DataFrame, key: str, text_col: str = "text",
    min_quality: float = 0.5, min_distinct_frac: float = 0.3,
) -> DataFrame:
    """(key, label): 1.0 where the heuristic screens pass, 0.0 otherwise —
    the seed-labeling half of the bootstrap pattern."""
    from .text import quality_features, repetition_signals

    q = quality_features(docs, text_col).select(key, "quality_score")
    r = repetition_signals(docs, key, text_col).select(key, "distinct_frac")
    return q.join(r, key).select(
        key,
        F.when(
            (F.col("quality_score") >= min_quality)
            & (F.col("distinct_frac") >= min_distinct_frac),
            1.0,
        ).otherwise(0.0).alias("label"),
    )


def train_quality_classifier(
    docs: DataFrame, labels: DataFrame, key: str, text_col: str = "text",
    n_features: int = 1 << 16, max_iter: int = 20, reg_param: float = 1e-4,
):
    """Fit the hashed-ngram logistic model; returns a PipelineModel
    (save/load-able, broadcastable driver state). ``labels``: (key, label)
    with label in {0.0, 1.0}."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    train = _token_features(docs.join(labels, key), text_col)
    pipe = Pipeline(stages=[
        HashingTF(inputCol="_toks", outputCol="features", numFeatures=n_features),
        LogisticRegression(
            maxIter=max_iter, regParam=reg_param, labelCol="label",
            featuresCol="features",
        ),
    ])
    return pipe.fit(train)


def score_quality(
    model, docs: DataFrame, key: str, text_col: str = "text",
) -> DataFrame:
    """(all doc columns, model_quality): P(label=1) per doc — one narrow
    scoring pass (hash + broadcast dot product), no shuffle."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(_token_features(docs, text_col))
    p1 = F.element_at(vector_to_array(F.col("probability")), 2)  # [P(0), P(1)]
    return scored.withColumn("model_quality", p1).drop(
        "_toks", "features", "rawPrediction", "probability", "prediction"
    )


# ---- frozen-weights scoring: inference without the ML runtime ----
# The fastText deployment trick: a trained linear model is just (weights,
# intercept) — scoring needs no pyspark.ml at all. Feature indices here
# come from the SQL `hash()` expression (Murmur3, seed 42), NOT ml
# HashingTF (which hashes with the hashUnsafeBytes2 tail variant: "a"
# buckets to 35 there vs 18 under `hash()` at numFeatures=64): that keeps
# the whole inference path inside whole-stage codegen, and training
# (train_frozen_classifier) builds its features from the SAME Catalyst
# expression so train/score indices can never disagree.


def hashed_token_index(tok: Column, n_features: int) -> Column:
    """Feature bucket of one token: nonNegativeMod(hash(tok), n)."""
    return F.pmod(F.hash(tok), F.lit(n_features)).cast("int")


def score_quality_frozen(
    docs: DataFrame, key: str, weights: list[float], intercept: float,
    text_col: str = "text", n_features: int | None = None,
) -> DataFrame:
    """(key, model_quality): sigmoid(w · counts + b) per doc with a FROZEN
    weight vector — zero Python, zero ML runtime. dot(w, counts) = sum over
    token OCCURRENCES of w[idx], computed as explode -> hash -> broadcast
    hash join against the 4096-row weight table -> partial/final sum by
    doc: every stage is whole-stage codegen and the exchange carries one
    partial sum per (partition, doc).

    NOT an F.aggregate fold over the token array against an array
    LITERAL: higher-order-function lambdas run interpreted, and an
    interpreted element_at re-constructs the 4096-element CreateArray per
    token — measured 2.2e9 ops / ~10 s warm for a 536k-token corpus where
    this plan takes ~1.4 s. Float note: the hash-agg sums in arbitrary
    order (the fold was sequential); values are reported at 6 dp where the
    association difference (~1e-15 relative) is invisible."""
    if n_features is None:
        n_features = len(weights)
    if n_features != len(weights):
        raise ValueError(f"n_features={n_features} != len(weights)={len(weights)}")
    spark = docs.sparkSession
    wdf = local_frame(spark, [(i, float(x)) for i, x in enumerate(weights)], "_fidx int, _w double")
    feats = _token_features(docs, text_col)
    toks = feats.select(key, F.explode("_toks").alias("_tok")).select(
        key, hashed_token_index(F.col("_tok"), n_features).alias("_fidx")
    )
    dot = (
        toks.join(F.broadcast(wdf), "_fidx")
        .groupBy(key)
        .agg(F.sum("_w").alias("_dot"))
    )
    z = F.col("_dot") + F.lit(float(intercept))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return dot.select(key, prob.alias("model_quality"))


def train_frozen_classifier(
    docs: DataFrame, labels: DataFrame, key: str, text_col: str = "text",
    n_features: int = 1 << 12, max_iter: int = 50, reg_param: float = 1e-3,
    elastic_net: float = 0.5,
):
    """Train the linear model on features hashed by the SAME Catalyst
    expression score_quality_frozen reads (F.hash + pmod) and return
    (weights, intercept) ready to freeze. Elastic-net (L1 component)
    drives most buckets to exactly 0.0, so the frozen artifact stores a
    small sparse dict. The SparseVector assembly UDF runs at TRAIN time
    only — inference stays UDF-free."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import SparseVector, VectorUDT

    counts = (
        _token_features(docs.join(labels, key), text_col)
        .select(key, "label", F.explode("_toks").alias("_tok"))
        .withColumn("_idx", hashed_token_index(F.col("_tok"), n_features))
        .groupBy(key, "label", "_idx")
        .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
        .groupBy(key, "label")
        .agg(F.sort_array(F.collect_list(F.struct("_idx", "_cnt"))).alias("_iv"))
    )

    @F.udf(VectorUDT())
    def to_vec(iv):
        return SparseVector(n_features, [r["_idx"] for r in iv], [r["_cnt"] for r in iv])

    train = counts.withColumn("features", to_vec("_iv"))
    lr = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, elasticNetParam=elastic_net,
        labelCol="label", featuresCol="features",
    )
    m = lr.fit(train)
    return [float(x) for x in m.coefficients], float(m.intercept)
