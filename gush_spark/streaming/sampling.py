"""Streaming windowed priority sample — the live twin of
queries_pipeline.weighted_sample_topk: a weight-proportional sample of
each event-time window's pages, maintained in BOUNDED state while the
window is open and emitted exactly once when the watermark closes it.

Why state stays bounded where a naive approach would not: "sample of
the window" over a groupBy would buffer the window's rows; here the
per-(window, shard) state is only the k current winners (parallel
arrays of url/weight/priority), because priority sampling is a pure
min-k over a DETERMINISTIC per-row priority

    priority = md5_60('ws|' ‖ url)  DIV  max(weight, 1)

and min-k is associative and commutative — merging per microbatch in
any order yields EXACTLY the batch answer, not an approximation: the
streamed sample after :func:`finalize_window_sample` EQUALS the batch
twin row for row under any batching (pinned by test).

Shard discipline: the state keys (window, shard = pmod(xxhash64(url),
S)) so one hot window spreads over S tasks; every copy of a url lands
in one shard, per-shard min-k emits ≤ k candidates on event-time
timeout, and the finalize step — min-k over ≤ S·k candidate rows —
restores the exact global sample (min-k distributes over the shard
partition).

Production use: "give me a length-biased sample of every 5-minute
crawl slice, live" — the monitoring/eval feed, with the sample
reproducible across retries, partitionings and engines (no rand(), no
seed drift).

No reference analog (gush has no sampling surface); driver-brief
training-pipeline surface at streaming tier.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gush_spark.operators.windows import event_time
from gush_spark.streaming.keyed_state import run_keyed

SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("window_start_us", T.LongType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("url", T.StringType()),
        T.StructField("weight", T.LongType()),
        T.StructField("priority", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("urls", T.ArrayType(T.StringType())),
        T.StructField("weights", T.ArrayType(T.LongType())),
        T.StructField("priorities", T.ArrayType(T.LongType())),
    ]
)


def windowed_priority_rows(
    pages: DataFrame,
    *,
    ts_col: str = "warc_ts",
    url_col: str = "url",
    weight_expr: str = "length(text)",
    window_duration: str = "5 minutes",
    watermark_delay: str = "2 minutes",
    shards: int = 8,
) -> DataFrame:
    """Map-only (ts, window_start_us, window_end_ms, shard, url,
    weight, priority) rows — works on a stream (adds the watermark) or
    a batch frame (the exact-twin path). ``(window_start_us,
    window_end_ms, shard)`` is the key the sampler keeps state under;
    ``window_end_ms`` is its event-time timeout."""
    w = F.greatest(F.expr(weight_expr).cast("long"), F.lit(1))
    return event_time(pages, ts_col, watermark_delay).select(
        F.col(ts_col),
        F.window(F.col(ts_col), window_duration).alias("_w"),
        F.col(url_col).alias("url"),
        w.alias("weight"),
        F.expr(
            f"CAST(conv(substring(md5(concat('ws|', CAST({url_col} AS STRING)))"
            f", 1, 15), 16, 10) AS BIGINT)"
        ).alias("_u"),
    ).select(
        F.col(ts_col),
        F.unix_micros(F.col("_w.start")).alias("window_start_us"),
        F.unix_millis(F.col("_w.end")).alias("window_end_ms"),
        F.pmod(F.xxhash64("url"), F.lit(int(shards))).cast("int").alias("shard"),
        "url",
        "weight",
        F.expr("_u DIV weight").alias("priority"),
    )


def _merge_topk(
    pdf: pd.DataFrame, state_tuple, k: int
) -> tuple[list, list, list]:
    urls, weights, priorities = state_tuple
    frame = pd.DataFrame(
        {
            "url": list(urls) + list(pdf["url"]),
            "weight": list(weights) + list(pdf["weight"].astype("int64")),
            "priority": list(priorities)
            + list(pdf["priority"].astype("int64")),
        }
    )
    # one url may recur (replays, or recrawls at another weight) — keep
    # its lowest-priority copy. The priority depends on the weight as
    # well as the url, so copies can disagree: sorting before the dedupe
    # (weight breaks a priority tie) makes the kept copy independent of
    # arrival order
    frame = (
        frame.sort_values(["priority", "url", "weight"], kind="stable")
        .drop_duplicates(subset=["url"])
        .head(k)
    )
    return (
        list(frame["url"].astype(object)),
        [int(v) for v in frame["weight"]],
        [int(v) for v in frame["priority"]],
    )


def windowed_priority_sample(
    pages: DataFrame,
    *,
    ts_col: str = "warc_ts",
    url_col: str = "url",
    weight_expr: str = "length(text)",
    window_duration: str = "5 minutes",
    watermark_delay: str = "2 minutes",
    k: int = 16,
    shards: int = 8,
) -> DataFrame:
    """Per-(window, shard) candidate rows: each closed window emits its
    shard's ≤ ``k`` lowest-priority pages exactly once (append mode,
    event-time timeout). Run :func:`finalize_window_sample` over the
    sink for the exact global per-window sample. On a batch frame the
    identical min-k runs per complete (window, shard) group — the
    replay/backfill twin."""
    rows = windowed_priority_rows(
        pages,
        ts_col=ts_col,
        url_col=url_col,
        weight_expr=weight_expr,
        window_duration=window_duration,
        watermark_delay=watermark_delay,
        shards=shards,
    )

    def expire(key: tuple, acc) -> pd.DataFrame:
        urls, weights, priorities = acc
        n = len(urls)
        return pd.DataFrame(
            {
                "window_start_us": [int(key[0])] * n,
                "shard": pd.array([int(key[2])] * n, dtype="int32"),
                "url": list(urls),
                "weight": [int(v) for v in weights],
                "priority": [int(v) for v in priorities],
            }
        )

    return run_keyed(
        rows, ["window_start_us", "window_end_ms", "shard"], SAMPLE_SCHEMA, _STATE_SCHEMA,
        load=lambda stored: ([], [], []) if stored is None else stored,
        step=lambda key, acc, pdf: (_merge_topk(pdf, acc, k), None),
        save=lambda acc: acc,
        # fire when the watermark passes the window end; if the
        # watermark is already past it (stragglers admitted late), the
        # timeout must still be set in the future
        deadline=lambda key, clock_ms: max(int(key[1]), clock_ms + 1),
        expire=expire,
    )


def finalize_window_sample(candidates: DataFrame, *, k: int = 16) -> DataFrame:
    """Exact per-window sample from the shard candidates: min-k over
    ≤ shards·k rows per window (min-k distributes over the shard
    partition, so this EQUALS the single-pass batch sample). One tiny
    window-keyed WindowGroupLimit."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start_us").orderBy(
        F.col("priority"), F.col("url")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("window_start_us", "url", "weight", "priority", "rank")
    )
