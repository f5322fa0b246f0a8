"""Incremental substring-level exact dedup over a page stream — the
cross-batch twin of ``operators.substring`` (Lee et al. 2022 ExactSubstr),
built on the same batch store as the LSH band store
(streaming/near_dup.py).

Keep-first semantics align naturally with stream order: the FIRST batch
that writes a span keeps it; any later batch re-serving the same
>=n-token span (templated pages, syndicated articles) has it cut before
landing. Batches already written are immutable — exactly the contract of
watermarked streaming dedup, lifted from whole-docs to spans.

Per micro-batch:

  1. n-gram occurrences of the new pages (``gram_occurrences`` — the
     SHARED postings emitter, so stream and batch can never disagree on
     tokenization or gram keys);
  2. grams present in the ACCUMULATED postings store = duplicated with
     their canonical copy in an earlier batch -> every occurrence in this
     batch drops (``substring_dedup(external_dup_grams=...)``);
     within-batch duplicates keep the batch-local first copy;
  3. rewritten pages land under the batch's id;
  4. the batch's distinct gram hashes land in the store, PARTITIONED BY
     (bucket = pmod(_gh, N_STORE_BUCKETS)) — the bucket rides
     the lookup join key so a batch's store probe prunes to matching
     partitions.

The store holds EVERY gram seen once (8-byte hashes), not only duplicated
ones — a single earlier sighting is exactly what makes a later copy a
duplicate. That is O(corpus tokens) hashes: the streaming price of
cross-batch span dedup (the batch operator's postings table, made
persistent), same order as the suffix/fingerprint indexes the literature
uses.

Both sinks are ``streaming.store.BatchStore`` s (exactly-once per batch).
The gram store is stamped with the gram width ``n``, pinned at
construction; its bucket count N_STORE_BUCKETS is fixed, because a store
bucketed another way silently misses earlier duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..operators.substring import gram_occurrences, substring_dedup
from .store import BatchStore

N_STORE_BUCKETS = 64


class SubstringDedupIndexer:
    """foreachBatch sink: maintains the gram postings store and the
    rewritten-page output table."""

    def __init__(
        self, store_dir: str, out_dir: str, key: str = "url",
        text_col: str = "text", n: int = 8,
    ):
        self.key = key
        self.text_col = text_col
        self.n = n
        self.store = BatchStore(store_dir, {"gram_n": n}, ("bucket",))
        self.out = BatchStore(out_dir)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # substring_dedup groups by the key: duplicate-key rows inside one
        # micro-batch would be merged into ONE rewritten text and the
        # join-back below would then fan that row out across the
        # duplicates — rows whose OTHER columns no longer correspond to
        # the rewritten text. Enforce key uniqueness per batch up front
        # (deterministic winner: lowest xxhash64 of the text, then text).
        w = Window.partitionBy(self.key).orderBy(
            F.xxhash64(F.col(self.text_col)), F.col(self.text_col)
        )
        batch_df = (
            batch_df.withColumn("_kd_rn", F.row_number().over(w))
            .where(F.col("_kd_rn") == 1)
            .drop("_kd_rn")
        )
        grams = gram_occurrences(
            batch_df, self.key, self.text_col, self.n
        ).withColumn("bucket", F.pmod(F.col("_gh"), F.lit(N_STORE_BUCKETS)))
        batch_gh = grams.select("bucket", "_gh").distinct().persist()
        try:
            # (bucket, _gh) equi-join: bucket is a partition column, so the
            # probe prunes the store scan to the batch's buckets
            store = self.store.before(batch_id)
            ext = None if store is None else (
                store.join(batch_gh, ["bucket", "_gh"], "left_semi").select("_gh")
            )
            rewritten = substring_dedup(
                batch_df, self.key, text_col=self.text_col, n=self.n,
                external_dup_grams=ext,
            )
            # join back ONLY the rewritten text: the input may legitimately
            # carry columns named n_tokens / n_dropped (quality features)
            # that would make the join ambiguous
            out = batch_df.drop(self.text_col).join(
                rewritten.select(self.key, F.col("dedup_text").alias(self.text_col)),
                self.key,
            )
            self.out.write(out, batch_id)
            self.store.write(batch_gh, batch_id)
        finally:
            # a throwing sink is retried with a fresh DataFrame — don't
            # strand a cached copy per failed attempt
            batch_gh.unpersist()


def start_substring_dedup(
    pages: DataFrame, store_dir: str, out_dir: str, checkpoint_dir: str,
    key: str = "url", **kwargs,
):
    indexer = SubstringDedupIndexer(store_dir, out_dir, key=key, **kwargs)
    return (
        pages.writeStream.outputMode("append")
        .foreachBatch(indexer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
