"""The blocked self-join behind every candidate-pair operator.

Near-dup (LSH bands, SimHash blocks, hyperplane buckets), set similarity
(PPJoin prefixes), edit similarity (deletion variants), distance bands
(grid cells), co-location and footprint similarity (space-time cells), the
Mann-Kendall day pairs and the triangle wedges (edges sharing a low-rank
endpoint) all find candidates the same way: join the rows
to themselves on a block key, keep one orientation of each pair, verify.
:func:`block_pairs` is that join, once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def block_pairs(
    a: DataFrame, b: DataFrame, key: str, blocks: Sequence[str],
    carry: Sequence[str] = (),
) -> DataFrame:
    """``(key_a, key_b, *blocks, *{c}_a, *{c}_b)``: one row for each pair
    of an ``a`` row and a ``b`` row that agree on every ``blocks`` column
    and have ``a.key < b.key``. A self-join passes the same frame twice.

    - No dedup: a pair sharing k blocks comes back k times. Callers that
      need a set call ``distinct``/``dropDuplicates``; callers that count
      shared blocks aggregate.
    - A NULL block value pairs with nothing (an inner equi-join).
    - Extra pair predicates go in a ``.where`` after the call; Catalyst
      pushes them into the join's condition, so they filter inside the
      join, not after it.
    - Two-sided form: when ``a`` is a neighbour-exploded copy of ``b``
      (``distance_band_join`` shifts each point onto its 3x3 cells), each
      unordered pair is found twice, once from each side's cell, and
      ``key_a < key_b`` keeps exactly one.

    Both sides are renamed before the join (``key_{a,b}``,
    ``{carry}_{a,b}``) and the blocks are joined by name. A self-join on
    shared-lineage columns compared by reference logs Spark's
    trivially-true-predicate warning and leans on dataset-id
    disambiguation; a by-name join on renamed sides is unambiguous.

    The join volume is the sum over blocks of |block|^2: a few heavy
    blocks dominate it, and this function is where a heavy-block split
    belongs.
    """
    blocks, carry = list(blocks), list(carry)

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            F.col(key).alias(f"key_{s}"), *blocks,
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return (
        side(a, "a").join(side(b, "b"), blocks)
        .where(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a", "key_b", *blocks,
            *[f"{c}_a" for c in carry], *[f"{c}_b" for c in carry],
        )
    )
