"""Incremental substring-level exact dedup over a page stream — the
cross-batch twin of ``operators.substring`` (Lee et al. 2022 ExactSubstr),
built on the same store discipline as the LSH band store
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
  3. rewritten pages land partitioned by batch_id;
  4. the batch's distinct gram hashes append to the store, PARTITIONED BY
     (gram_n, batch_id, bucket = pmod(_gh, n_buckets)) — the bucket rides
     the lookup join key so a batch's store probe prunes to matching
     partitions.

The store holds EVERY gram seen once (8-byte hashes), not only duplicated
ones — a single earlier sighting is exactly what makes a later copy a
duplicate. That is O(corpus tokens) hashes: the streaming price of
cross-batch span dedup (the batch operator's postings table, made
persistent), same order as the suffix/fingerprint indexes the literature
uses.

Exactly-once (same contract as the band store): both sinks are
dynamic-partition-overwritten by batch_id, and the store lookup reads only
``batch_id < current`` — a replayed batch rewrites its own partitions and
never treats its already-landed grams as earlier duplicates. The gram
width ``gram_n`` is pinned at construction and stamped into the store; a
store written under a different n is rejected instead of silently
mis-deduplicating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..operators.substring import gram_occurrences, substring_dedup
from ..sources.maintenance import _dir_exists

N_STORE_BUCKETS = 64


class SubstringDedupIndexer:
    """foreachBatch sink: maintains the gram postings store and the
    rewritten-page output table. Idempotent per batch_id."""

    def __init__(
        self, store_dir: str, out_dir: str, key: str = "url",
        text_col: str = "text", n: int = 8, n_buckets: int = N_STORE_BUCKETS,
    ):
        self.store_dir = store_dir
        self.out_dir = out_dir
        self.key = key
        self.text_col = text_col
        self.n = n
        self.n_buckets = n_buckets
        self._n_checked = False

    def _store_grams(self, spark, batch_gh: DataFrame, batch_id: int) -> DataFrame:
        store = spark.read.parquet(self.store_dir)
        missing = {"gram_n", "batch_id", "bucket", "_gh"} - set(store.columns)
        if missing:
            raise ValueError(
                f"gram store {self.store_dir} lacks column(s) {sorted(missing)} "
                "— written by an incompatible layout; rebuild before resuming"
            )
        if not self._n_checked:
            # partition listing only, no row scan
            ns = {r.gram_n for r in store.select("gram_n").distinct().collect()}
            if ns - {self.n}:
                raise ValueError(
                    f"gram store {self.store_dir} was built with n={sorted(ns)}, "
                    f"indexer is pinned to n={self.n} — mixed widths silently "
                    "mis-deduplicate"
                )
            self._n_checked = True
        store = store.where(
            (F.col("gram_n") == self.n) & (F.col("batch_id") < F.lit(batch_id))
        )
        # (bucket, _gh) equi-join: bucket is a partition column, so the
        # probe prunes the store scan to the batch's buckets
        return store.join(batch_gh, ["bucket", "_gh"], "left_semi").select("_gh")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
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
        ).withColumn("bucket", F.pmod(F.col("_gh"), F.lit(self.n_buckets)))
        batch_gh = grams.select("bucket", "_gh").distinct().persist()

        ext = None
        if _dir_exists(spark, self.store_dir):
            ext = self._store_grams(spark, batch_gh, batch_id)

        rewritten = substring_dedup(
            batch_df, self.key, text_col=self.text_col, n=self.n,
            external_dup_grams=ext,
        )
        # join back ONLY the rewritten text: the input may legitimately
        # carry columns named n_tokens / n_dropped (quality features) or a
        # batch_id from an upstream batch-stamped table — colliding names
        # would make the write ambiguous or double-stamp the partition col
        out = batch_df.drop(self.text_col, "batch_id").join(
            rewritten.select(
                self.key, F.col("dedup_text").alias(self.text_col)
            ),
            self.key,
        )
        try:
            (
                out.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(self.out_dir)
            )
            (
                batch_gh
                .withColumn("gram_n", F.lit(self.n))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("gram_n", "batch_id", "bucket")
                .parquet(self.store_dir)
            )
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
