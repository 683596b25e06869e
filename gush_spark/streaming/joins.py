"""Stream-stream joins — the two-stream form of the prior-event join.

The north_star names "a stateful stream-stream join (page-event vs.
prior-crawl state)"; the keyed-state form lives in streaming/cep.py
(enrichment against accumulated per-url state). This module is the
OTHER canonical form: two live streams joined on key + event-time
bounds, where Spark buffers both sides in state and the watermarks +
time-range condition bound how long — without both, stream-stream join
state grows forever.

Scale shape: one shuffle per side on the join key (url); state per key
is bounded by the time window; late rows beyond the watermark are
dropped from the buffer exactly like any stateful op. The range
condition MUST reference both event-time columns (Spark derives the
state-eviction bound from it — a key-only condition would be an
unbounded-state error for inner joins and a plan-time error for outer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gush_spark.operators.windows import event_time


def join_events_within(
    crawls: DataFrame,
    follows: DataFrame,
    within: str = "30 minutes",
    watermark_delay: str = "10 minutes",
    key: str = "url",
    how: str = "inner",
) -> DataFrame:
    """Join each crawl event with the follow-up events for the same key
    occurring in (crawl_ts, crawl_ts + within] — the crawl→recrawl/drop
    sequence expressed as a genuine two-stream join.

    ``how`` is ``inner`` or ``leftOuter``. Left-outer is the "pages
    never re-crawled" detector: a crawl with no follow-up inside the
    horizon emits ONE null-padded row — but only once the watermark
    passes crawl_ts + within, when Spark evicts the buffered crawl and
    knows no match can still arrive. Crawls near the stream's end whose
    horizon the watermark never crosses stay unreported (inherent to
    watermark-bounded outer joins, not a bug — a live stream's watermark
    keeps advancing).

    Both inputs need an event-time column ``warc_ts``. Output columns:
    key, crawl event id/ts, follow event id/ts/type (follow columns
    null for unmatched crawls under leftOuter).
    """
    c = event_time(crawls.select(
        F.col(key).alias("jkey"),
        F.col("event_id").alias("crawl_event_id"),
        F.col("warc_ts").cast("timestamp").alias("crawl_ts"),
    ), "crawl_ts", watermark_delay)
    f = event_time(follows.select(
        F.col(key).alias("fkey"),
        F.col("event_id").alias("follow_event_id"),
        F.col("warc_ts").cast("timestamp").alias("follow_ts"),
        F.col("event_type").alias("follow_type"),
    ), "follow_ts", watermark_delay)
    return c.join(
        f,
        F.expr(
            f"jkey = fkey AND follow_ts > crawl_ts "
            f"AND follow_ts <= crawl_ts + INTERVAL {within}"
        ),
        how,
    ).select(
        F.col("jkey").alias(key),
        "crawl_event_id",
        "crawl_ts",
        "follow_event_id",
        "follow_ts",
        "follow_type",
    )
