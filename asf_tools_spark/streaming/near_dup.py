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
  3. batch bands equi-joined against the ACCUMULATED band store ->
     cross-batch candidate pairs;
  4. the batch's bands appended to the store, PARTITIONED BY
     (band_id, bucket = pmod(xxhash64(band_val), n_buckets)) — the bucket
     column rides in the join key so each trigger's store scan prunes to
     matching partitions instead of reading the whole corpus's bands.

The store grows O(docs x bands), never O(docs²). Candidate pairs still need
the exact-Jaccard verify (operators.dedup.jaccard_on_pairs) downstream,
exactly like the batch pipeline.

Exactly-once (ADVICE r2): both sinks are partitioned by ``batch_id`` and
written with DYNAMIC partition overwrite, so a micro-batch replay after a
partial failure rewrites its own partitions instead of appending
duplicates — duplicated bands would otherwise permanently inflate the
store and every future cross-batch join. The cross-batch join reads only
``batch_id < current`` from the store, so a replay whose bands already
landed does not self-join against them. The hash family is pinned at
construction and stamped into the store as a partition column; a store
written under a different family is rejected instead of silently yielding
zero cross-batch candidates.
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
from ..sources.maintenance import _dir_exists

N_STORE_BUCKETS = 64


def _with_bucket(bands: DataFrame) -> DataFrame:
    return bands.withColumn("bucket", F.pmod(F.xxhash64("band_val"), F.lit(N_STORE_BUCKETS)))


class NearDupIndexer:
    """foreachBatch sink: maintains the band store and an output table of
    candidate pairs (key_a < key_b, deduplicated per batch). Idempotent per
    batch_id (dynamic partition overwrite on both sinks)."""

    def __init__(
        self, store_dir: str, pairs_dir: str, key: str = "url",
        text_col: str = "text", n_hashes: int = 8, bands: int = 4, rows_per_band: int = 2,
        hash_family: str | None = None,
    ):
        self.store_dir = store_dir
        self.pairs_dir = pairs_dir
        self.key = key
        self.text_col = text_col
        self.n_hashes = n_hashes
        self.bands = bands
        self.rows_per_band = rows_per_band
        # pinned here, NOT read from the environment per batch: an env flip
        # mid-stream (e.g. bench.py mutating os.environ in-process) must not
        # silently split the store across hash families
        self.hash_family = hash_family or default_hash_family()
        self._family_checked = False

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sigs = minhash_signatures(
            batch_df, self.key, self.text_col, self.n_hashes, family=self.hash_family
        )
        new_bands = _with_bucket(
            band_rows(sigs, self.key, self.bands, self.rows_per_band)
        ).persist()
        try:
            # within-batch pairs: the batch pipeline + the identical-signature
            # rep->member pairs the candidate join collapses away
            pairs = (
                lsh_candidate_pairs(sigs, self.key, self.bands, self.rows_per_band)
                .unionByName(identical_signature_edges(sigs, self.key))
                .distinct()
            )

            # cross-batch pairs: new bands vs the accumulated store; the bucket
            # join key prunes the partitioned store scan, batch_id < current
            # keeps a replayed batch from joining its own already-landed bands
            if _dir_exists(spark, self.store_dir):
                store = spark.read.parquet(self.store_dir)
                # schema guard first: a store from an older layout (no family/
                # batch_id partitions) must fail with a clear rebuild message,
                # not an unresolved-column AnalysisException mid-stream
                missing = {"family", "batch_id"} - set(store.columns)
                if missing:
                    raise ValueError(
                        f"band store {self.store_dir} lacks column(s) {sorted(missing)} "
                        "— written by a pre-family/batch_id layout; rebuild the store "
                        "before resuming the stream"
                    )
                # family check via partition pruning (family is a partition col:
                # this lists directories, it does not scan the store's rows) and
                # only until first confirmation — not a full rescan every batch
                if not self._family_checked:
                    fams = {r.family for r in store.select("family").distinct().collect()}
                    if fams - {self.hash_family}:
                        raise ValueError(
                            f"band store {self.store_dir} was written under hash family "
                            f"{sorted(fams)}, indexer is pinned to {self.hash_family!r} — "
                            "joining across families silently yields zero candidates"
                        )
                    self._family_checked = True
                store = store.where(
                    (F.col("family") == self.hash_family)
                    & (F.col("batch_id") < F.lit(batch_id))
                )
                cross = (
                    new_bands.alias("n")
                    .join(store.alias("s"), ["band_id", "bucket", "band_val"])
                    .where(F.col(f"n.{self.key}") != F.col(f"s.{self.key}"))
                    .select(
                        F.least(F.col(f"n.{self.key}"), F.col(f"s.{self.key}")).alias("key_a"),
                        F.greatest(F.col(f"n.{self.key}"), F.col(f"s.{self.key}")).alias("key_b"),
                    )
                    .distinct()
                )
                pairs = pairs.unionByName(cross).distinct()

            (
                pairs.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(self.pairs_dir)
            )
            (
                new_bands
                .withColumn("family", F.lit(self.hash_family))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("family", "batch_id", "band_id", "bucket")
                .parquet(self.store_dir)
            )
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
