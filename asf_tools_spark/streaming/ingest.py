"""Incremental page ingestion as Structured Streaming.

The reference has no streaming surface (every entry point is batch
file-in/file-out, ref pyproject.toml:41-48) — this module is the optional
incremental-WARC-ingestion path (SURVEY §2.9): a file-source stream of page
parquet -> geotag/cell assign (same expressions as batch; streaming and
batch share one logical plan) -> watermarked windowed per-cell counts.
Resumability = checkpointLocation; late pages beyond the watermark drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.pages import geotag_pages
from .near_dup import NearDupIndexer
from .store import BatchStore


def stream_pages(spark: SparkSession, source_dir: str, schema: str | None = None) -> DataFrame:
    schema = schema or "url string, warc_ts timestamp, html binary, text string, lang string"
    return spark.readStream.schema(schema).parquet(source_dir)


def windowed_cell_counts(
    pages: DataFrame,
    cell_res: int = 8,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-(window, cell) page counts with late-data watermarking."""
    tagged = geotag_pages(pages, key="url", cell_res=cell_res)
    return (
        tagged.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "cell_id", "n_pages")
    )


def start_ingest(
    pages: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cell_res: int = 8,
):
    """Append-mode sink with checkpointed state (exactly-once per window)."""
    counts = windowed_cell_counts(pages, cell_res=cell_res)
    return (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def curate_stream(
    pages: DataFrame,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    min_quality: float = 0.5,
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming twin of plans.corpus_pipeline's stateless head: quality
    screen -> PII scrub -> watermarked exact dedup, in one streaming plan.

    The quality/scrub stages are pure Catalyst expressions shared verbatim
    with the batch operators (operators.text), so stream and batch cannot
    disagree on what survives; the only stateful stage is the bounded
    dropDuplicatesWithinWatermark (streaming.dedup semantics). Near-dup
    LSH stays in streaming.near_dup (its band store is a separate sink)."""
    from ..operators.text import pii_scrub, quality_features

    from .dedup import stream_dedup

    screened = quality_features(pages, text_col).where(
        F.col("quality_score") >= min_quality
    )
    scrubbed = (
        pii_scrub(screened, text_col)
        .drop(text_col)
        .withColumnRenamed("scrubbed", text_col)
    )
    return stream_dedup(scrubbed, ts_col=ts_col, text_col=text_col, watermark=watermark)


class CuratedIngestIndexer:
    """foreachBatch sink: lands the curated batch in a
    ``streaming.store.BatchStore`` and feeds the same batch to a
    NearDupIndexer, so the corpus and the LSH band store advance in
    lockstep — a batch can never land in one sink and miss the other, and
    a replayed batch rewrites both."""

    def __init__(self, out_dir: str, near_dup_store_dir: str, near_dup_pairs_dir: str,
                 key: str = "url"):
        self.out = BatchStore(out_dir)
        self.near_dup = NearDupIndexer(near_dup_store_dir, near_dup_pairs_dir, key=key)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()  # two consumers: corpus write + indexer
        try:
            self.out.write(batch_df, batch_id)
            self.near_dup(batch_df, batch_id)
        finally:
            # a throwing sink is retried with a FRESH DataFrame — without
            # this, every failed attempt strands another cached batch copy
            batch_df.unpersist()


def start_curated_ingest(
    pages: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    near_dup_store_dir: str,
    near_dup_pairs_dir: str,
    key: str = "url",
    ts_col: str = "warc_ts",
    min_quality: float = 0.5,
    watermark: str = "24 hours",
):
    """The full streaming curation entry point: curate_stream (quality
    screen + PII scrub + watermarked exact dedup) into one
    CuratedIngestIndexer sink.

    Downstream, near_dup_pairs feed the batch verify/cluster operators
    (jaccard_on_pairs -> near_dup_clusters) exactly like the batch
    pipeline's tail."""
    sink = CuratedIngestIndexer(out_dir, near_dup_store_dir, near_dup_pairs_dir, key=key)
    curated = curate_stream(
        pages, ts_col=ts_col, min_quality=min_quality, watermark=watermark
    )
    return (
        curated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
