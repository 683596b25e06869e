"""Streaming data-quality monitor — the per-window twin of the batch
expectations audit (operators/validate.py): while the corpus stream
runs, emit per-event-time-window counters (rows, null text, empty
text, length stats) and HLL distinct-fingerprint registers, and fold
them into a windowed quality report (null/empty/dup rates) at read
time.

Why not reuse the batch operator directly: exact COUNT(DISTINCT) is a
streaming non-starter (state = the key set, unbounded), and Spark
refuses the cascaded aggregation a distinct-then-count needs. The
monitor therefore splits along the same line as streaming/sketches:

- counters: ONE watermarked additive aggregation — every metric is a
  sum/min/max, so state per open (window, group) is a handful of longs
  and append mode emits each window exactly once when the watermark
  passes (reference analog: gush's windowed insert counters,
  src/main/scala/io/simao/gush/cep/Cep.scala:29-35);
- distinct fingerprints: the deterministic HLL register aggregation
  (streaming/sketches.windowed_hll_registers over the content
  fingerprint) — ≤ m small rows per window, max-mergeable across
  resumes/backfills;
- report: a read-time join of the two sinks on the window key — rates
  are single divisions; the dup rate is an ESTIMATE (HLL ±~1.04/√m),
  explicitly suffixed ``_est``, unlike the batch audit's exact form.

Both stages run identically on a batch frame (no watermark), which is
what the stream≡batch equivalence test pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gush_spark.functions.text_analysis import md5_fingerprint, norm_text
from gush_spark.operators.sketches import finalize_registers
from gush_spark.operators.windows import windowed_agg
from gush_spark.streaming.sketches import windowed_hll_registers


def windowed_quality_counters(
    df: DataFrame,
    *,
    ts_col: str,
    text_col: str,
    window_duration: str,
    watermark_delay: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Additive per-window counters: ``(window_start, group…, n_rows,
    n_null_text, n_empty, n_nonnull, sum_chars, min_chars, max_chars)``.
    One watermarked aggregation; all metrics merge associatively, so a
    resumed run or batch backfill sums/extremes into the same window
    without special handling."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    t = F.col(text_col)
    proj = df.select(
        F.col(ts_col).alias("_ts"),
        *group_cols,
        t.isNull().cast("int").alias("_null"),
        (t.isNotNull() & (norm_text(t) == "")).cast("int").alias("_empty"),
        F.length(t).alias("_len"),
    )
    return windowed_agg(
        proj, F.window(F.col("_ts"), window_duration).alias("w"), group_cols, [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_null").alias("n_null_text"),
            F.sum("_empty").alias("n_empty"),
            F.count("_len").alias("n_nonnull"),
            F.sum("_len").cast("long").alias("sum_chars"),
            F.min("_len").cast("long").alias("min_chars"),
            F.max("_len").cast("long").alias("max_chars"),
        ],
    ).drop("window_end")


def windowed_fingerprint_registers(
    df: DataFrame,
    *,
    ts_col: str,
    text_col: str,
    window_duration: str,
    watermark_delay: str,
    group_cols: tuple[str, ...] = (),
    m_bits: int = 8,
) -> DataFrame:
    """HLL registers over the content fingerprint per window — the
    bounded-state stand-in for exact distinct-content counting."""
    return windowed_hll_registers(
        df,
        ts_col=ts_col,
        key=md5_fingerprint(F.col(text_col)),
        window_duration=window_duration,
        watermark_delay=watermark_delay,
        group_cols=group_cols,
        m_bits=m_bits,
    )


def quality_monitor_report(
    counters: DataFrame,
    registers: DataFrame,
    *,
    group_cols: tuple[str, ...] = (),
    m_bits: int = 8,
) -> DataFrame:
    """Read-time fold of the two monitor sinks into one report row per
    (window, group): exact null/empty rates + estimated distinct
    contents and dup rate. Duplicate (window, bucket) register rows
    max-merge inside the finalizer, so resumed runs never double-count.
    The estimate can exceed ``n_nonnull`` slightly at tiny cardinality;
    ``dup_rate_est`` clamps at 0 rather than reporting a negative
    rate."""
    keys = ["window_start", *group_cols]
    est = finalize_registers(
        registers, keys, m_bits=m_bits, out="approx_distinct_contents"
    )
    j = counters.join(est, keys, "left")
    dup_est = (
        F.col("n_nonnull") - F.col("approx_distinct_contents")
    ).cast("double") / F.col("n_rows")
    return j.select(
        *keys,
        "n_rows",
        "n_null_text",
        "n_empty",
        (F.col("n_null_text").cast("double") / F.col("n_rows")).alias(
            "null_rate"
        ),
        (F.col("n_empty").cast("double") / F.col("n_rows")).alias(
            "empty_rate"
        ),
        (F.col("sum_chars").cast("double") / F.col("n_nonnull")).alias(
            "avg_chars"
        ),
        "min_chars",
        "max_chars",
        F.coalesce(F.col("approx_distinct_contents"), F.lit(0)).alias(
            "approx_distinct_contents"
        ),
        F.greatest(dup_est, F.lit(0.0)).alias("dup_rate_est"),
    )


def windowed_length_histogram(
    df: DataFrame,
    *,
    ts_col: str,
    text_col: str,
    window_duration: str,
    watermark_delay: str,
    group_cols: tuple[str, ...] = (),
    buckets: int = 16,
    width: int = 32,
) -> DataFrame:
    """Per-window normalized-length histogram as ADDITIVE counters:
    ``(window_start, group…, bucket, n)`` with
    ``bucket = length(norm_text) DIV width`` clamped to the last bin —
    the streaming feed for :func:`drift_monitor_report`. One
    watermarked aggregation; counts merge associatively, so resumes
    and batch backfills sum into the same (window, group, bucket) row.
    State per open window is ≤ ``buckets`` longs per group — the same
    bounded-state argument as the quality counters."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    b = F.least(
        (F.length(norm_text(F.col(text_col))) / F.lit(width)).cast("long"),
        F.lit(buckets - 1),
    )
    proj = df.select(
        F.col(ts_col).alias("_ts"), *group_cols, b.alias("bucket")
    )
    return windowed_agg(
        proj, F.window(F.col("_ts"), window_duration).alias("w"),
        [*group_cols, "bucket"], [F.count(F.lit(1)).cast("long").alias("n")],
    ).drop("window_end")


def drift_monitor_report(
    hist: DataFrame,
    *,
    window_seconds: int,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Read-time window-over-window drift from the histogram sink: for
    every (group, window) WITH a predecessor window, the fixed-point L1
    distance between the two length histograms — the LIVE form of
    ``operators/snapshot.drift_report`` (there: two corpus versions;
    here: consecutive event-time windows of one stream). A crawler
    regression (truncated pages, boilerplate floods) moves the
    histogram the moment the window closes, typically before any
    membership diff runs.

    Same integer discipline as the batch operator: exact counts,
    ``count·1e9 DIV total`` shares, integer abs — deterministic across
    resumes because the sink rows it reads are additive-exact. Windows
    without a predecessor emit nothing (a monitor needs a baseline, not
    a spurious full-mass alarm). Duplicate sink rows from a resumed run
    must be pre-summed by the caller if the sink is append-replay
    (IdempotentKeyedSink already guarantees uniqueness)."""
    from gush_spark.operators.snapshot import DRIFT_SCALE

    gc = list(group_cols)
    cur = hist.select(
        F.col("window_start").alias("w"), *gc,
        F.col("bucket").alias("b"), F.col("n").alias("c_new"),
    )
    prev = hist.select(
        (F.col("window_start") + F.expr(f"INTERVAL {window_seconds} SECOND"))
        .alias("w"),
        *[F.col(g).alias(f"_p_{g}") for g in gc],
        F.col("bucket").alias("b"),
        F.col("n").alias("c_old"),
    )
    # rename-based keys keep the self-join unambiguous
    for g in gc:
        prev = prev.withColumnRenamed(f"_p_{g}", g)
    aligned = cur.join(prev, on=["w", *gc, "b"], how="full_outer").select(
        "w", *gc, "b",
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    tot = aligned.groupBy("w", *gc).agg(
        F.sum("c_old").cast("long").alias("n_prev"),
        F.sum("c_new").cast("long").alias("n_cur"),
    )
    scored = aligned.join(tot, on=["w", *gc]).select(
        "w", *gc, "n_prev", "n_cur",
        F.abs(
            F.when(
                F.col("n_prev") > 0,
                F.expr(f"c_old * {DRIFT_SCALE}L DIV n_prev"),
            ).otherwise(F.lit(0))
            - F.when(
                F.col("n_cur") > 0,
                F.expr(f"c_new * {DRIFT_SCALE}L DIV n_cur"),
            ).otherwise(F.lit(0))
        ).alias("_d"),
    )
    return (
        scored.filter((F.col("n_prev") > 0) & (F.col("n_cur") > 0))
        .groupBy("w", *gc)
        .agg(
            F.max("n_prev").alias("n_prev"),
            F.max("n_cur").alias("n_cur"),
            F.sum("_d").cast("long").alias("drift_x1e9"),
        )
        .select(
            F.col("w").alias("window_start"), *gc,
            "n_prev", "n_cur", "drift_x1e9",
        )
    )
