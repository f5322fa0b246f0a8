"""Streaming exact dedup — the incremental-ingest twin of
operators.dedup.exact_dedup.

A 100 TB crawl ingested incrementally must drop re-crawled pages online:
``dropDuplicatesWithinWatermark`` on the normalized-text fingerprint keeps
one row per fingerprint across micro-batches, with the dedup state bounded
by the event-time watermark (state for fingerprints older than the
watermark is evicted — unbounded-state dedup is a memory leak at crawl
scale). The fingerprint expression is EXACTLY the batch one
(operators.dedup md5(normalize_text)), so batch and stream agree on what a
duplicate is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.dedup import normalize_text


def with_fingerprint(pages: DataFrame, text_col: str = "text") -> DataFrame:
    return pages.withColumn("fp", F.md5(normalize_text(F.col(text_col))))


def stream_dedup(
    pages: DataFrame,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    watermark: str = "24 hours",
) -> DataFrame:
    """First-seen page per fingerprint within the watermark horizon.

    State size = distinct fingerprints inside the watermark window, not the
    whole crawl; re-crawls later than the horizon re-emit (documented
    bounded-state semantics, same trade as any streaming dedup).
    """
    return (
        with_fingerprint(pages, text_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )
