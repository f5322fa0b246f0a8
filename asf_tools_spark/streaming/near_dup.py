"""Incremental near-dup detection over a page stream.

Exact-dup streaming is ``streaming.dedup`` (watermarked dropDuplicates);
NEAR-dup needs an index that outlives the micro-batch, so this operator
maintains an append-only **LSH band store** via ``foreachBatch``:

per micro-batch:
  1. MinHash signatures of the new pages (same operators.dedup expressions
     as batch — stream and batch agree on what a near-dup is, and the band
     encoding is the SHARED ``dedup.band_rows`` helper, so batch and stream
     can never disagree on buckets);
  2. within-batch candidate pairs (``lsh_candidate_pairs``) PLUS the
     rep->member pairs of identical-signature groups — the candidate join
     collapses those groups by design, and both copies of such a pair live
     in this batch, so the store join could never recover them;
  3. batch bands equi-joined against the bands of EARLIER batches ->
     cross-batch candidate pairs;
  4. the batch's bands land in the store, PARTITIONED BY
     (band_id, bucket = pmod(xxhash64(band_val), N_STORE_BUCKETS)) — the
     bucket column rides in the join key so each trigger's store scan
     prunes to matching partitions instead of reading the whole corpus's
     bands.

The store grows O(docs x bands), never O(docs²). Candidate pairs still need
the exact-Jaccard verify (operators.dedup.jaccard_on_pairs) downstream,
exactly like the batch pipeline.

Both sinks are ``streaming.store.BatchStore`` s (exactly-once per batch).
The band store is stamped with the hash family, pinned at construction;
the band layout (N_HASHES, BANDS, ROWS_PER_BAND, N_STORE_BUCKETS) is
fixed, because a store written under another layout silently yields zero
cross-batch candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.dedup import (
    band_rows,
    default_hash_family,
    identical_signature_edges,
    lsh_candidate_pairs,
    minhash_signatures,
)
from .store import BatchStore

N_HASHES = 8
BANDS = 4
ROWS_PER_BAND = 2
N_STORE_BUCKETS = 64


def _with_bucket(bands: DataFrame) -> DataFrame:
    return bands.withColumn("bucket", F.pmod(F.xxhash64("band_val"), F.lit(N_STORE_BUCKETS)))


class NearDupIndexer:
    """foreachBatch sink: maintains the band store and an output table of
    candidate pairs (key_a < key_b, deduplicated per batch)."""

    def __init__(
        self, store_dir: str, pairs_dir: str, key: str = "url",
        text_col: str = "text", hash_family: str | None = None,
    ):
        self.key = key
        self.text_col = text_col
        # pinned here, NOT read from the environment per batch: an env flip
        # mid-stream (e.g. bench.py mutating os.environ in-process) must not
        # silently split the store across hash families
        self.hash_family = hash_family or default_hash_family()
        self.store = BatchStore(store_dir, {"family": self.hash_family}, ("band_id", "bucket"))
        self.pairs = BatchStore(pairs_dir)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        sigs = minhash_signatures(
            batch_df, self.key, self.text_col, N_HASHES, family=self.hash_family
        )
        new_bands = _with_bucket(band_rows(sigs, self.key, BANDS, ROWS_PER_BAND)).persist()
        try:
            # within-batch pairs: the batch pipeline + the identical-signature
            # rep->member pairs the candidate join collapses away
            pairs = (
                lsh_candidate_pairs(sigs, self.key, BANDS, ROWS_PER_BAND)
                .unionByName(identical_signature_edges(sigs, self.key))
                .distinct()
            )
            # cross-batch pairs: new bands vs earlier batches' bands; the
            # bucket join key prunes the partitioned store scan. Not
            # pairs.block_pairs: the sides are two different sets, so a
            # pair's smaller key can be on either side (least/greatest
            # under != here; key_a < key_b would need a second join)
            store = self.store.before(batch_id)
            if store is not None:
                cross = (
                    new_bands.alias("n")
                    .join(store.alias("s"), ["band_id", "bucket", "band_val"])
                    .where(F.col(f"n.{self.key}") != F.col(f"s.{self.key}"))
                    .select(
                        F.least(F.col(f"n.{self.key}"), F.col(f"s.{self.key}")).alias("key_a"),
                        F.greatest(F.col(f"n.{self.key}"), F.col(f"s.{self.key}")).alias("key_b"),
                    )
                )
                pairs = pairs.unionByName(cross).distinct()
            self.pairs.write(pairs, batch_id)
            self.store.write(new_bands, batch_id)
        finally:
            new_bands.unpersist()


def start_near_dup(
    pages: DataFrame, store_dir: str, pairs_dir: str, checkpoint_dir: str,
    key: str = "url", **kwargs,
):
    indexer = NearDupIndexer(store_dir, pairs_dir, key=key, **kwargs)
    return (
        pages.writeStream.outputMode("append")
        .foreachBatch(indexer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
