"""Event-time window aggregation — batch and streaming (SURVEY.md §2.5/§2.6).

The reference's only windows are processing-time tumbling batches via
``groupedWithin`` feeding a count (cep/Cep.scala:29-35) or a mean
(cep/Cep.scala:37-49). Our engine is event-time end-to-end: tumbling,
sliding and session windows on the event timestamp with watermarks.

``windowed_agg`` is the one place a window becomes output columns:
every windowed operator in the engine (the streaming pipelines,
trending terms and the catalog queries) groups through it and gets
``window_start``/``window_end`` back in place of the window struct.
The caller builds the window column and declares its event time with
``event_time``, the engine's one watermark (``event_time_column`` reads
it back); the aggregation is the same on a batch frame, which is what
the stream≡batch tests compare. The keyed-state window key the sampler
shards on is built next to its machine
(streaming/sampling.windowed_priority_rows).

Scale notes: windowed groupBy is a hash aggregation with map-side partial
aggregation — one shuffle on (key, window). For skewed keys use
``salted_agg`` (two-stage: partial on (key, salt) → merge on key), which
turns one hot reducer into ``salt_buckets`` parallel ones.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def event_time(df: DataFrame, ts_col: str, delay: str | None) -> DataFrame:
    """``df`` watermarked ``delay`` on ``ts_col`` when it is a stream;
    a batch frame or ``delay=None`` (the only opt-out) comes back as is.
    Spark rejects a malformed ``delay``."""
    if df.isStreaming and delay is not None:
        return df.withWatermark(ts_col, delay)
    return df


def event_time_column(df: DataFrame) -> str | None:
    """The column ``event_time`` watermarked upstream of ``df``, or None."""
    return next((f.name for f in df.schema if "spark.watermarkDelayMs" in f.metadata), None)


def tumbling(ts_col: str, duration: str) -> Column:
    return F.window(F.col(ts_col), duration)


def sliding(ts_col: str, duration: str, slide: str) -> Column:
    return F.window(F.col(ts_col), duration, slide)


def session(ts_col: str, gap: str) -> Column:
    return F.session_window(F.col(ts_col), gap)


def windowed_agg(df: DataFrame, window: Column, keys, aggs) -> DataFrame:
    """``aggs`` per (``window``, ``keys``) with the window struct replaced
    by ``window_start``/``window_end`` in front of the keys and
    aggregates (stable names keep the oracle comparison honest).

    ``window`` is grouped on exactly as given, alias included, so the
    analyzed plan and a stream's state-store key schema are those of a
    plain ``groupBy(window, *keys)``; the struct's name is read back
    from the aggregate's first column. A caller that keeps only the
    start drops ``window_end``, and Catalyst prunes it."""
    out = df.groupBy(window, *keys).agg(*aggs)
    struct, *rest = out.columns
    return out.select(
        F.col(f"{struct}.start").alias("window_start"),
        F.col(f"{struct}.end").alias("window_end"),
        *rest,
    )


def windowed_count(
    df: DataFrame, ts_col: str, duration: str, *keys: str, slide: str | None = None
) -> DataFrame:
    """A1 analog (WindowedInsertCount, cep/Cep.scala:29-35): events per
    (window, keys). Tumbling when ``slide`` is None, else sliding."""
    win = sliding(ts_col, duration, slide) if slide else tumbling(ts_col, duration)
    return windowed_agg(df, win, keys, [F.count(F.lit(1)).alias("n_events")])


def session_count(df: DataFrame, ts_col: str, gap: str, *keys: str) -> DataFrame:
    """Session windows (north_rule addition; no reference analog):
    per-key activity sessions separated by > gap."""
    return windowed_agg(df, session(ts_col, gap), keys, [F.count(F.lit(1)).alias("n_events")])


def salt_column(
    df: DataFrame, keys: list[str], salt_buckets: int, salt_on: str | None = None
) -> Column:
    """Deterministic salt in [0, salt_buckets): xxhash64 of stable row
    content, never ``monotonically_increasing_id`` / ``rand``.

    A nondeterministic salt re-buckets rows when a map task is retried
    after some reducers already fetched its output — rows get counted
    twice or lost (the classic nondeterministic-expression-before-shuffle
    bug; local runs never retry, a 1000-executor job does). Hashing row
    content is retry-stable: a replayed task re-derives the same salt.

    ``salt_on`` should name a column that varies *within* a group (e.g.
    an event id or url). Without it all non-key columns are hashed —
    which silently DEGENERATES to a single bucket when a hot key's rows
    are byte-identical (exact duplicate events, common in crawl
    replays), so omitting ``salt_on`` emits a warning.
    """
    if salt_on is not None:
        src = [F.col(salt_on)]
    else:
        import warnings

        warnings.warn(
            "salt_column without salt_on hashes all non-key columns: "
            "byte-identical duplicate rows of a hot key collapse into one "
            "salt bucket and the skew mitigation does nothing. Pass "
            "salt_on=<within-group-unique column> (e.g. an event id).",
            stacklevel=2,
        )
        non_keys = [c for c in df.columns if c not in keys]
        src = [F.col(c) for c in (non_keys or keys)]
    return F.pmod(F.xxhash64(*src), F.lit(salt_buckets))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    agg_exprs: dict[str, str],
    salt_buckets: int = 8,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-stage skew-safe aggregation (north_rule: skew handled explicitly).

    Stage 1 groups by (keys..., salt) where salt spreads a hot key over
    ``salt_buckets`` reducers; stage 2 merges partials per key. Only
    decomposable aggregates are supported: count → sum of partial counts,
    sum → sum, min/min, max/max, avg → sum/count recombined.

    ``agg_exprs`` maps output column → "fn(col)" with fn in
    {count,sum,min,max,avg}; ``count(*)`` counts rows, ``count(col)``
    counts non-null values of col (SQL semantics — partial non-null
    counts merge by sum). The salt is deterministic row-content hashing
    (see ``salt_column``) — the same scheme the streaming rollup uses
    (streaming/pipeline.py).
    """
    salted = df.withColumn("_salt", salt_column(df, keys, salt_buckets, salt_on))

    partial_cols, merge_cols = [], []
    for out_name, spec in agg_exprs.items():
        fn, _, col = spec.partition("(")
        col = col.rstrip(")")
        fn = fn.strip().lower()
        if fn == "count":
            src = F.lit(1) if col.strip() == "*" else F.col(col.strip())
            partial_cols.append(F.count(src).alias(f"_p_{out_name}"))
            merge_cols.append(F.sum(f"_p_{out_name}").alias(out_name))
        elif fn in ("sum", "min", "max"):
            partial_cols.append(getattr(F, fn)(col).alias(f"_p_{out_name}"))
            merge_cols.append(getattr(F, fn)(f"_p_{out_name}").alias(out_name))
        elif fn == "avg":
            partial_cols.append(F.sum(col).alias(f"_ps_{out_name}"))
            partial_cols.append(F.count(col).alias(f"_pc_{out_name}"))
            merge_cols.append(
                (F.sum(f"_ps_{out_name}") / F.sum(f"_pc_{out_name}")).alias(out_name)
            )
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")

    stage1 = salted.groupBy(*keys, "_salt").agg(*partial_cols)
    return stage1.groupBy(*keys).agg(*merge_cols)
