"""Streaming deduplication — the crawl-time analog of operators/dedup.

A 10^12-page crawl stream re-fetches the same content constantly; batch
dedup (operators/dedup.py) cleans the corpus after the fact, this stage
keeps duplicates from ever entering the sink. Built on Spark's
``dropDuplicatesWithinWatermark``: state holds one entry per distinct
key seen within the watermark horizon and is evicted as event time
advances — bounded state, unlike a plain ``dropDuplicates`` whose state
grows forever on a stream.

Scale shape: one shuffle on the 32-hex-char md5 fingerprint (16 bytes of
entropy — never the raw text/html), state partitioned like any keyed
stateful op (RocksDB-backed, changelog-checkpointed per session.py).
Duplicate pages arriving FURTHER APART than the watermark horizon are
kept — at crawl scale that residue is exactly what the batch MinHash/
exact dedup passes sweep; the two layers are complementary, not
redundant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from gush_spark.functions.text_analysis import md5_fingerprint
from gush_spark.operators.windows import event_time


def with_fingerprint(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint column (normalized-text md5 — identical to
    the batch exact_dedup fingerprint, so stream- and batch-deduped
    corpora agree on what "same content" means)."""
    return pages.withColumn("fingerprint", md5_fingerprint(F.col(text_col)))


def dedup_pages_stream(
    pages: DataFrame,
    watermark_delay: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """First-occurrence-wins streaming dedup on content fingerprint.
    Requires an event-time column ``warc_ts``; the watermark bounds
    both late data and dedup state lifetime."""
    df = event_time(with_fingerprint(pages, text_col), "warc_ts", watermark_delay)
    # dropDuplicatesWithinWatermark raises on a batch frame
    if df.isStreaming:
        return df.dropDuplicatesWithinWatermark(["fingerprint"])
    return df.dropDuplicates(["fingerprint"])

