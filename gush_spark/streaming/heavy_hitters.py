"""Streaming heavy-hitter CANDIDATES — per-window mergeable Misra-Gries
state, the live twin of operators/heavy_hitters.py (same reason that
module exists next to trending.py: "top phrases of the crawl, live"
has a per-window key universe ~the window's corpus, so the plain
watermarked ``groupBy(window, gram)`` that trending_terms runs would
hold one state row per DISTINCT gram per open window — unbounded.
Here the state per (window, shard) is a bounded MG summary: ``m``
counters + one slot total, regardless of input volume).

Shape:
- slot extraction is map-only (the batch ``_gram_expr`` shifted-window
  transform over the bound words array) and the one shuffle carries
  ``(window, shard, gram)`` where ``shard = pmod(xxhash64(gram), S)``
  — every copy of a gram lands in the same shard, so a shard's count
  of a gram IS its window count, and the per-window hot spot a single
  window-keyed state would create is spread over ``S`` tasks;
- ONE keyed-state machine (``run_window_summary`` over
  streaming/keyed_state.py) holds the MG summary per
  (window, shard); updates are the same vectorized ``mg_merge`` the
  batch pass uses (value_counts add + batched decrement — never a
  per-row loop);
- on event-time timeout (watermark past window end) the state emits
  ≤ ``m`` candidate rows + one slot-sentinel row (gram NULL) and is
  removed — append-once per window, exactly the HLL-register contract
  in streaming/sketches.py.

Guarantee (why candidates, not counts): MG merging is order-dependent,
so the emitted set varies with microbatch boundaries — but the
survival bound does not: a gram with window count
``> shard_slots/(m+1) ≥ window_slots/(m+1)`` (shard slots never exceed
window slots) survives EVERY merge order. So the emitted candidates
are a provable SUPERSET of the true heavy hitters of the window
(share > 1/(m+1)) under any batching — the same
stream-⊇-batch contract as the LSH candidate emitter
(streaming/dedup.py). Exact adjudication is a batch recount of the
candidate set only (``finalize_window_heavy_hitters`` — the pass-2
broadcast semi-join from the batch operator), which makes the
composed stream→finalize output EQUAL to the batch groupBy/HAVING
twin; residuals ride along as the stream-only lower bound for a
consumer who cannot afford the recount.

No reference analog (gush counts per-key events in windows,
`/root/reference/src/main/scala/io/simao/gush/cep/Cep.scala:29-35` —
bounded keys); this is the driver brief's training-pipeline surface
at streaming tier.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gush_spark.functions.text_analysis import words_of
from gush_spark.operators.heavy_hitters import HH_SCALE, _gram_expr, mg_merge
from gush_spark.streaming.keyed_state import run_keyed

HH_CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("window_start_us", T.LongType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("gram", T.StringType()),
        T.StructField("residual", T.LongType()),
        T.StructField("slots", T.LongType()),
    ]
)

# MG summary: parallel arrays ≙ {gram: residual}, plus the slot total
_HH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("grams", T.ArrayType(T.StringType())),
        T.StructField("residuals", T.ArrayType(T.LongType())),
        T.StructField("slots", T.LongType()),
    ]
)


def windowed_gram_slots(
    pages: DataFrame,
    *,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    window_duration: str = "5 minutes",
    watermark_delay: str = "2 minutes",
    n: int = 3,
    shards: int = 8,
) -> DataFrame:
    """Map-only windowed ``n``-gram slots:
    (window_start_us, window_end_ms, shard, gram). Works on a stream
    (adds the watermark) or a batch frame (the exact-twin path tests
    compare against). The words array is bound once per row before the
    per-element transform (CSE — the interpreted-lambda discipline)."""
    df = pages
    if pages.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    return (
        df.withColumn("_ws", words_of(F.col(text_col)))
        .filter(F.size("_ws") >= n)
        .select(
            F.col(ts_col),  # keeps the watermark tag for the stateful op
            F.window(F.col(ts_col), window_duration).alias("w"),
            F.explode(_gram_expr("_ws", n)).alias("gram"),
        )
        .select(F.col(ts_col), *window_shard_key("w", "gram", shards), "gram")
    )


def window_shard_key(window: str, shard_on: str, shards: int) -> list[Column]:
    """The key ``run_window_summary`` keeps state under, read off the
    window struct column ``window``: ``window_start_us``,
    ``window_end_ms`` (the event-time timeout) and
    ``shard = pmod(xxhash64(shard_on), shards)``."""
    return [
        F.unix_micros(F.col(f"{window}.start")).alias("window_start_us"),
        F.unix_millis(F.col(f"{window}.end")).alias("window_end_ms"),
        F.pmod(F.xxhash64(shard_on), F.lit(int(shards))).cast("int").alias("shard"),
    ]


def run_window_summary(
    rows: DataFrame,
    out_schema: T.StructType,
    state_schema: T.StructType,
    *,
    load: Callable,
    merge: Callable,
    save: Callable,
    emit: Callable,
) -> DataFrame:
    """One mergeable summary per (window, shard) of ``rows`` (keyed by
    window_start_us, window_end_ms, shard): chunks fold in through
    ``merge(acc, pdf)``; ``emit(acc)`` — a dict of columns, tagged here
    with the window start and shard — goes out once, when the watermark
    passes the window end (a batch frame: once per complete group). The
    heavy-hitter and sampler machines differ only in these callbacks."""

    def expire(key: tuple, acc) -> pd.DataFrame:
        cols = emit(acc)
        n = len(next(iter(cols.values())))
        return pd.DataFrame(
            {
                "window_start_us": [int(key[0])] * n,
                "shard": pd.array([int(key[2])] * n, dtype="int32"),
                **cols,
            }
        )

    return run_keyed(
        rows, ["window_start_us", "window_end_ms", "shard"], out_schema, state_schema,
        load=load,
        step=lambda key, acc, pdf: (merge(acc, pdf), None),
        save=lambda acc, watermark_ms: save(acc),
        # fire when the watermark passes the window end; if the
        # watermark is already past it (stragglers admitted late), the
        # timeout must still be set in the future
        deadline=lambda key, clock_ms: max(int(key[1]), clock_ms + 1),
        expire=expire,
    )


def _load_mg(stored) -> tuple[pd.Series, int]:
    if stored is None:
        return pd.Series(dtype="int64"), 0
    grams, residuals, slots = stored
    return pd.Series(list(residuals), index=list(grams), dtype="int64"), int(slots)


def _mg_rows(acc: tuple[pd.Series, int]) -> dict:
    residual, slots = acc
    k = len(residual)
    return {
        "gram": list(residual.index.astype(object)) + [None],
        "residual": [int(v) for v in residual] + [0],
        "slots": [0] * k + [slots],
    }


def windowed_heavy_hitter_candidates(
    pages: DataFrame,
    *,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    window_duration: str = "5 minutes",
    watermark_delay: str = "2 minutes",
    n: int = 3,
    inv_share: int = 4000,
    counters: int | None = None,
    shards: int = 8,
) -> DataFrame:
    """Candidate + slot-sentinel rows per finalized window. ``counters``
    (the per-shard summary size ``m``) must be ≥ ``inv_share - 1`` for
    the superset guarantee, same floor as the batch operator. On a
    batch frame the identical MG summary runs per complete
    (window, shard) group — the replay/backfill twin."""
    m = counters if counters is not None else inv_share - 1
    if m < inv_share - 1:
        raise ValueError(
            f"counters={m} breaks the MG guarantee for inv_share={inv_share}"
            f" (need >= {inv_share - 1})"
        )
    slots = windowed_gram_slots(
        pages,
        ts_col=ts_col,
        text_col=text_col,
        window_duration=window_duration,
        watermark_delay=watermark_delay,
        n=n,
        shards=shards,
    )
    return run_window_summary(
        slots, HH_CANDIDATES_SCHEMA, _HH_STATE_SCHEMA,
        load=_load_mg,
        merge=lambda acc, pdf: (
            mg_merge(acc[0], pdf["gram"].value_counts(), m), acc[1] + len(pdf)
        ),
        save=lambda acc: (list(acc[0].index.astype(object)), [int(v) for v in acc[0]], acc[1]),
        emit=_mg_rows,
    )


def finalize_window_heavy_hitters(
    candidates: DataFrame,
    pages: DataFrame,
    *,
    ts_col: str = "warc_ts",
    text_col: str = "text",
    window_duration: str = "5 minutes",
    n: int = 3,
    inv_share: int = 4000,
    scale: int = HH_SCALE,
) -> DataFrame:
    """Pass-2 exact adjudication of streamed candidates against a batch
    corpus (the sink's raw pages): recount ONLY the candidate grams
    behind a broadcast semi-join, threshold against the window's true
    slot total. Equals the per-window batch ``GROUP BY gram HAVING``
    twin outright whenever the stream admitted every counted row
    (candidates ⊇ heavies is the MG guarantee; the recount removes the
    false positives). Totals come from the corpus, not the sentinels —
    sentinels are the stream-side diagnostic (what the stream actually
    admitted; a gap between the two is the late-data volume)."""
    cands = (
        candidates.filter(F.col("gram").isNotNull())
        .select("window_start_us", "gram")
        .distinct()
    )
    slots = windowed_gram_slots(
        pages,
        ts_col=ts_col,
        text_col=text_col,
        window_duration=window_duration,
        watermark_delay="0 seconds",
        n=n,
        shards=1,
    ).select("window_start_us", "gram")
    totals = slots.groupBy("window_start_us").agg(
        F.count(F.lit(1)).alias("total_slots")
    )
    exact = (
        slots.join(F.broadcast(cands), ["window_start_us", "gram"], "left_semi")
        .groupBy("window_start_us", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.join(F.broadcast(totals), "window_start_us")
        .filter(F.col("n") * F.lit(inv_share) > F.col("total_slots"))
        .select(
            "window_start_us",
            "gram",
            "n",
            "total_slots",
            F.expr(f"n * {scale} div total_slots").alias("share_scaled"),
        )
    )
