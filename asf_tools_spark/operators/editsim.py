"""EXACT edit-distance similarity self-join — all pairs of strings within
Levenshtein distance <= d — via deletion-neighborhood candidate generation
(FastSS; Bocek et al. 2007, public literature) + levenshtein verify.

The web-text use: near-identical titles/slugs/lines that exact dedup
misses by one typo or one dropped character (the step between exact
line-dedup and token-level MinHash in a curation funnel).

Why this shape at 100 TB: NO all-pairs enumeration. Every string within
edit distance d of another shares a string in their <=d-deletion
neighborhoods (take an optimal alignment: deleting each string's
non-matched positions — <= d of them — reaches the alignment's common
subsequence from BOTH sides), so candidates come from ONE equi-join on an
8-byte hashed variant key: len^d variants per string (len+1 at d=1), a
constant fan-out, then distinct pairs + length filter + levenshtein
verify. A hash collision or a shared-variant-but-far pair ("ab"/"ba"
share variant "a" at ed 2) only ever adds a CANDIDATE — verify removes
it, so the join is exact: the brute-force oracle is the exactness proof
(same contract as setsim_join).

All Catalyst: variants are nested array transforms behind one explode;
verify is the built-in levenshtein; no UDF, no window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .pairs import block_pairs


def deletion_variants(col: Column, max_dist: int = 1) -> Column:
    """Array of DISTINCT strings reachable from ``col`` by 0..max_dist
    single-character deletions (includes the string itself)."""
    if max_dist < 1:
        return F.array(col)
    level = F.array(col)
    for _ in range(max_dist):
        # delete each 1-based position from every string of the previous
        # level; array_distinct caps growth at the true neighborhood size
        level = F.array_distinct(
            F.flatten(
                F.transform(
                    level,
                    lambda s: F.concat(
                        F.array(s),
                        F.transform(
                            F.sequence(F.lit(1), F.length(s)),
                            lambda i: F.concat(
                                s.substr(F.lit(1), i - F.lit(1)),
                                s.substr(i + F.lit(1), F.length(s)),
                            ),
                        ),
                    ),
                )
            )
        )
    return level


def editsim_join(
    df: DataFrame, key: str, text_col: str = "title", max_dist: int = 1
) -> DataFrame:
    """(key_a, key_b, dist) for every UNORDERED pair with
    levenshtein(text_a, text_b) <= max_dist, key_a < key_b. Exact — no
    recall loss. ``key`` must be unique (one row per string).

    Plan: explode deletion variants -> xxhash64 the variant (8-byte
    shuffle key; a collision only widens the candidate set) -> blocked
    self-join on the variant hash -> distinct pairs -> length + levenshtein
    verify.
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1 (use exact dedup for 0)")
    sig = df.select(
        F.col(key).alias("_k"),
        F.col(text_col).alias("_s"),
        F.explode(deletion_variants(F.col(text_col), max_dist)).alias("_v"),
    ).select("_k", "_s", F.xxhash64("_v").alias("_vh"))
    cand = (
        block_pairs(sig, sig, "_k", ["_vh"], carry=["_s"])
        .select("key_a", "key_b", "_s_a", "_s_b")
        .distinct()
    )
    return (
        cand.where(
            F.abs(F.length("_s_a") - F.length("_s_b")) <= F.lit(max_dist)
        )
        .select(
            "key_a",
            "key_b",
            F.levenshtein("_s_a", "_s_b").alias("dist"),
        )
        .where(F.col("dist") <= F.lit(max_dist))
    )
