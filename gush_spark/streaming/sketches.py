"""Streaming windowed sketches — approximate distinct per event-time
window, as ONE append-mode streaming aggregation.

Exact ``COUNT(DISTINCT key)`` per window is the classic streaming
non-starter: the state is the key set itself (unbounded per window),
and Spark refuses cascaded streaming aggregations that a
distinct-then-count would need. The HLL register formulation
(operators/sketches.py) collapses both problems:

- state per (window, bucket) is ONE small integer (``max(rho)`` is an
  associative aggregate Spark can run partial/final inside a single
  streaming agg with watermark state eviction);
- the stream EMITS registers — at most ``m`` rows per finalized
  window, regardless of input volume — and the estimate is computed by
  :func:`gush_spark.operators.sketches.finalize_registers` at read
  time. Storing registers (not estimates) in the sink also means late
  re-emits or resumed runs merge by ``max`` without double counting.

Because the sketch is deterministic (md5-derived), the streamed
registers are BIT-EQUAL to the batch sketch over the same
non-late rows — asserted in tests/test_streaming_sketches.py, the
same stream≡batch contract every other operator here follows
(reference analog: gush's windowed insert counters,
src/main/scala/io/simao/gush/cep/Cep.scala:29-35, which are exact and
single-node; this is their unbounded-cardinality replacement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from gush_spark.operators.sketches import hll_bucket_rho
from gush_spark.operators.windows import windowed_agg


def windowed_hll_registers(
    df: DataFrame,
    *,
    ts_col: str,
    key: Column,
    window_duration: str,
    watermark_delay: str,
    group_cols: tuple[str, ...] = (),
    m_bits: int = 8,
) -> DataFrame:
    """Register rows per (window, group, bucket) — streaming or batch.

    On a streaming ``df`` this is a single watermarked aggregation:
    append mode emits each window's registers once the watermark
    passes, and the state store holds ≤ m integers per open
    (window, group). On a batch ``df`` (no watermark needed) the same
    plan computes the batch twin used by the equivalence test.
    """
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    bucket, rho = hll_bucket_rho(key, m_bits=m_bits)
    return windowed_agg(
        df.where(key.isNotNull()),  # COUNT DISTINCT semantics, as in batch
        F.window(F.col(ts_col), window_duration).alias("w"),
        [*group_cols, bucket],
        [F.max(rho).alias("m_j")],
    ).drop("window_end")


def windowed_cms_counters(
    df: DataFrame,
    *,
    ts_col: str,
    key: Column,
    window_duration: str,
    watermark_delay: str,
    d: int | None = None,
    w_bits: int | None = None,
) -> DataFrame:
    """Count-min counters per event-time window — the frequency twin of
    :func:`windowed_hll_registers`, and the streaming input to skew
    defense: a window's counters estimate per-host volume, so hot hosts
    (``cms_estimate`` ≥ threshold) can be routed to the salted
    aggregation path (operators/windows.salted_agg) for the NEXT
    window without ever holding per-key exact counts in state.

    One pass, one watermarked aggregation: the d (row, bucket)
    coordinates are exploded inline (no multi-scan union — file
    sources would re-read every file d times), state and emitted rows
    are ≤ d·2^w_bits per window. Counters ADD, so re-emits / resumed
    runs / a batch backfill merge by sum. Estimates come from
    ``operators.sketches.cms_estimate`` over a window's counter slice
    at read time.
    """
    from gush_spark.operators.sketches import CMS_D, CMS_W_BITS, _cms_bucket

    d = CMS_D if d is None else d
    w_bits = CMS_W_BITS if w_bits is None else w_bits
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    coords = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                _cms_bucket(key, i, w_bits).cast("int").alias("b"),
            )
            for i in range(d)
        ]
    )
    return windowed_agg(
        df.where(key.isNotNull()).select(F.col(ts_col), F.explode(coords).alias("rb")),
        F.window(F.col(ts_col), window_duration).alias("w"),
        ["rb.r", "rb.b"],
        [F.count(F.lit(1)).alias("c")],
    ).drop("window_end")


def windowed_histogram_bins(
    df: DataFrame,
    *,
    ts_col: str,
    value: Column,
    width: float,
    window_duration: str,
    watermark_delay: str,
) -> DataFrame:
    """Histogram bin counts per event-time window — streaming quantiles.

    Completes the streaming sketch triad (distinct: HLL registers,
    frequency: CMS counters, quantiles: these bins). Bin counts are
    additive under merge like the CMS counters; a window's quantiles
    come from the same cumulative walk
    ``operators.sketches.approx_quantiles_hist`` performs, run over the
    stored bins at read time (they are already the ``groupBy(bin)``
    result, so the read-time walk touches bins only). State and emit
    volume per window = the number of occupied bins (bounded by
    range/width), never the row count.
    """
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    binned = df.where(value.isNotNull()).select(
        F.col(ts_col),
        F.floor(value / F.lit(width)).cast("long").alias("bin"),
    )
    return windowed_agg(
        binned, F.window(F.col(ts_col), window_duration).alias("w"),
        ["bin"], [F.count(F.lit(1)).alias("c")],
    ).drop("window_end")
