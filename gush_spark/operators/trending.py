"""Trending terms per event-time window — the canonical streaming
analytics composite (trending hashtags/queries): token counts per
tumbling window, then the top-k per window.

Works identically on a batch or a watermarked streaming input: the
count is ONE windowed aggregation (streaming: append-mode emit when
the watermark passes; state is one counter per (window, term-key)
inside the horizon). The top-k stage is batch-side (read time /
foreachBatch) because cascaded streaming aggregations are not a thing —
the stream emits additive state and the finalize runs at read time.

Scale design: ``hash_terms=True`` (default) shuffles (window,
16-byte md5) and recovers the term text as ``min(term)`` inside the
SAME aggregation — the text rides the partial-agg buffer (one value
per key per partition), never a wide exchange; identical discipline to
queries_pipeline.frequent_phrases_hashed. The top-k rank filter
compiles to a Partial WindowGroupLimit below the exchange (see
top_docs_per_source), so the second shuffle carries ≤ k·windows·
partitions rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gush_spark.functions.text_analysis import words_of
from gush_spark.operators.windows import event_time, windowed_agg


def windowed_term_counts(
    df: DataFrame,
    *,
    ts_col: str,
    text_col: str,
    window_duration: str,
    watermark_delay: str | None = None,
    hash_terms: bool = True,
) -> DataFrame:
    """(window_start, term, n) token counts per tumbling window,
    watermarked ``watermark_delay`` on a stream (None: no watermark)."""
    toks = event_time(df, ts_col, watermark_delay).select(
        F.col(ts_col).alias("_ts"),
        F.explode(words_of(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    win = F.window(F.col("_ts"), window_duration).alias("w")
    if hash_terms:
        counted = windowed_agg(
            toks.withColumn("tk", F.md5("term")), win, ["tk"],
            [F.count(F.lit(1)).alias("n"), F.min("term").alias("term")],
        )
    else:
        counted = windowed_agg(toks, win, ["term"], [F.count(F.lit(1)).alias("n")])
    return counted.select("window_start", "term", "n")


def top_terms_per_window(counts: DataFrame, k: int) -> DataFrame:
    """Top-k terms per window by count, term-ascending tie-break
    (deterministic, engine-stable). Batch-side stage."""
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("term")
    )
    return (
        counts.select(
            "window_start",
            "term",
            "n",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= k)
    )


def decayed_term_scores(
    counts: DataFrame,
    *,
    now_s: int,
    half_life_s: int,
    max_buckets: int = 30,
    k: int | None = None,
) -> DataFrame:
    """Recency-weighted term popularity: each windowed count decays by
    half per ``half_life_s`` of age, so a term spiking NOW outranks one
    that was big yesterday — the trending score behind "rising queries"
    dashboards.

    Takes the OUTPUT of ``windowed_term_counts`` (batch frame or the
    read side of its streaming sink) — read-time finalize: the stream
    keeps one additive counter per (window, term); decay is applied
    when asked, so re-reading later re-decays correctly without
    touching state.

    Cross-engine exactness: ages quantize to integer half-life buckets
    (clamped at ``max_buckets``) and each count contributes
    ``n << (max_buckets - bucket)`` to a BIGINT accumulator — the sum
    is exact integer arithmetic in any order; the only float op is one
    final division by 2^max_buckets (correctly rounded, identical on
    both engines). Keep ``max_buckets + log2(max count)`` under 62 to
    stay inside int64.

    Scale: input is already reduced to (window, term, n); this is one
    further term-keyed agg over vocabulary-sized data, then top-k via
    orderBy+limit (TakeOrderedAndProject — per-partition heads, never a
    global sort)."""
    # clamp BOTH ends: ages beyond the horizon floor at max_buckets,
    # and windows newer than now_s (clock skew, a probe running over
    # future-dated fixtures) count as age 0 instead of shifting past
    # 63 bits into a long overflow
    bucket = F.greatest(
        F.least(
            F.floor(
                (
                    F.lit(now_s)
                    - F.col("window_start").cast("timestamp").cast("long")
                )
                / F.lit(half_life_s)
            ).cast("int"),
            F.lit(max_buckets),
        ),
        F.lit(0),
    )
    scaled = (
        counts.withColumn("_b", bucket)
        .select(
            "term",
            F.col("n").alias("_n"),
            (
                F.col("n")
                * F.expr(
                    f"shiftleft(cast(1 as bigint), cast({max_buckets} - _b as int))"
                )
            ).alias("_w"),
        )
    )
    out = (
        scaled.groupBy("term")
        .agg(
            F.sum("_n").alias("n"),
            F.sum("_w").alias("score_scaled"),
        )
        .select(
            "term",
            "n",
            "score_scaled",
            (F.col("score_scaled").cast("double") / F.lit(float(2**max_buckets)))
            .alias("score"),
        )
    )
    if k is None:
        return out
    top = out.orderBy(F.desc("score_scaled"), "term").limit(k)
    w = Window.orderBy(F.desc("score_scaled"), "term")
    return top.select(
        "term", "n", "score_scaled", "score",
        F.row_number().over(w).cast("long").alias("rnk"),
    )


def volume_anomaly_windows(
    counts: DataFrame,
    key_col: str,
    *,
    lookback: int = 8,
    min_history: int = 4,
    k_sq: int = 9,
    min_ratio_pct: int = 0,
) -> DataFrame:
    """Crawler-trap / volume-spike detection: flag (key, window) rows
    whose count exceeds the key's trailing baseline by more than
    ``sqrt(k_sq)`` standard deviations — the host suddenly emitting
    100× its usual pages (a calendar/faceted-search trap, a feed stuck
    in a loop) that a crawl curator wants quarantined before it
    dominates a mixture.

    Takes the OUTPUT of a windowed count (``(key…, window_start, n)``
    — batch frame or the read side of the streaming counter sink):
    read-time finalize over additive state, the same layering as
    ``decayed_term_scores``, so a resumed/backfilled stream re-reads
    and re-flags correctly without bespoke state.

    Cross-engine exactness — no sqrt, no float variance: with ``m``
    trailing windows, trailing sum ``S`` and sum-of-squares ``Q``, the
    z-test ``(n − S/m)² > k_sq · var`` multiplies out to the BIGINT
    comparison ``(n·m − S)² > k_sq · (Q·m − S²)``; the optional floor
    ``min_ratio_pct`` (e.g. 150 = "at least 1.5× baseline mean") is
    ``n·m·100 ≥ pct·S``. The only float is the reported
    ``spike_ratio`` — one division of exact integers. Safe in int64
    for per-window counts up to ~10^8 at the defaults (k_sq·m·Q·m <
    2^63); past that cast the accumulators to DECIMAL(38,0).

    Semantics notes (deliberate): the baseline is the key's trailing
    ACTIVE windows (a ROWS frame — windows where the key emitted
    nothing are skipped, not zero-filled: traps are persistent-host
    spikes, and zero-filling 10^9 quiet hosts per window is exactly
    the work we refuse); a zero-variance baseline flags ANY up-spike
    that clears ``min_ratio_pct`` (the exact-z view: any deviation
    from a constant is infinite sigmas) — set ``min_ratio_pct`` if
    that is too eager. Keys with fewer than ``min_history`` trailing
    windows never flag.

    Scale: input is already reduced to (key, window, n); one window
    function over a key-partitioned sort of counter-sized rows, never
    the corpus."""
    w = (
        Window.partitionBy(key_col)
        .orderBy("window_start")
        .rowsBetween(-lookback, -1)
    )
    m = F.count("n").over(w)
    s = F.sum("n").over(w)
    q = F.sum(F.col("n") * F.col("n")).over(w)
    stats = counts.select(
        key_col,
        "window_start",
        "n",
        m.alias("hist_windows"),
        s.alias("base_n"),
        q.alias("_base_sq"),
    )
    dev = F.col("n") * F.col("hist_windows") - F.col("base_n")
    var_m2 = (
        F.col("_base_sq") * F.col("hist_windows")
        - F.col("base_n") * F.col("base_n")
    )
    flag = (
        (F.col("hist_windows") >= F.lit(min_history))
        & (dev > F.lit(0))
        & (
            F.col("n") * F.col("hist_windows") * F.lit(100)
            >= F.lit(min_ratio_pct) * F.col("base_n")
        )
        & (dev * dev > F.lit(k_sq) * var_m2)
    )
    return stats.select(
        key_col,
        "window_start",
        "n",
        "hist_windows",
        "base_n",
        F.when(
            F.col("hist_windows") > 0,
            (F.col("n") * F.col("hist_windows")).cast("double")
            / F.col("base_n"),
        ).alias("spike_ratio"),
        flag.alias("is_anomaly"),
    )


def vocab_growth(
    counts: DataFrame,
) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve from windowed term counts:
    per window, how many terms appear for the FIRST time, plus the
    running vocabulary size — the curve a curator reads to see whether
    a crawl is still discovering new language or re-crawling the same
    content (a flattening curve at constant volume = diminishing
    coverage).

    Input is ``windowed_term_counts`` output (batch frame or the read
    side of the streaming counter sink) — like ``decayed_term_scores``
    this is a read-time finalize, so the stream keeps additive state
    only. Two aggregations over vocabulary-sized data: min(window) per
    term, then counts per first-window; the cumulative sum runs over
    ≤ |windows| rows (single-partition window over a tiny frame —
    windows number in the thousands even for years of hourly data)."""
    first = counts.groupBy("term").agg(
        F.min("window_start").alias("first_window")
    )
    per_window = first.groupBy("first_window").agg(
        F.count(F.lit(1)).alias("n_new_terms")
    )
    w = (
        Window.orderBy("first_window")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_window.select(
        F.col("first_window").alias("window_start"),
        "n_new_terms",
        F.sum("n_new_terms").over(w).alias("cum_vocab"),
    )
