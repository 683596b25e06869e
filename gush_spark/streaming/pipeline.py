"""End-to-end streaming pipelines — the GushApp analog (SURVEY.md §3.1).

Two flagship assemblies:

- ``pages_pipeline``: pages stream → cheap column filters (BELOW the
  UDF, so Catalyst pushes them into the scan) → vectorized extraction →
  event-time tumbling window count per host → exactly-once sink. This
  is gush's `bookingsWindowCount` end to end (GushCEP.scala:40-42).

- ``cep_pipeline``: page_events stream → blacklist filters → stateful
  CEP enrichment (prior-crawl join) → exactly-once append sink. This is
  gush's full CEP layer with state gush never had.

Every pipeline here hands its transformed stream to one runner,
``_run`` — gush's single Source → flows → ``Sink.combine`` assembly
(GushCEP.scala:15-22): ``writeStream`` → ``foreachBatch`` (optional
per-batch step → exactly-once sink → per-partition lineage) →
checkpoint → trigger. Each returns ``(query, sink)``; callers own the
trigger choice (AvailableNow for tests/bench, ProcessingTime in
production) and the checkpoint location (resume = same checkpoint,
gush's postRestart analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gush_spark.config import DEFAULT_CONFIG, GushSparkConfig, duration_us
from gush_spark.functions.extract import with_extracted_text
from gush_spark.operators.events import blacklist_filter, host_of, supported_kinds_filter
from gush_spark.operators.windows import event_time, windowed_agg
from gush_spark.streaming.cep import cep_enrich
from gush_spark.streaming.metrics import partition_lineage, with_observed_metrics
from gush_spark.streaming.sink import IdempotentKeyedSink
from gush_spark.streaming.source import read_input_stream, read_page_events_stream


def _run(
    df: DataFrame,
    sink: IdempotentKeyedSink,
    checkpoint_path: str,
    available_now: bool,
    mode: str = "update",
    lineage_path: str | None = None,
    step=None,
    persist: bool = False,
):
    """The one streaming runner every pipeline starts through.

    Per microbatch: optional ``step(batch_df)`` → ``sink.write_batch``
    → ``partition_lineage`` of the per-partition row counts the sink
    read off the footers of the files it wrote (when ``lineage_path``
    is set; no extra Spark job). ``persist`` pins the microbatch for the
    whole body, so a step that reads it several times does not
    recompute its upstream. Both callees are called positionally and
    looked up by name at call time, so tracing can patch them. Returns
    ``(query, sink)``."""

    def write(batch_df, batch_id):
        if persist:
            batch_df = batch_df.persist()
        try:
            out = batch_df if step is None else step(batch_df)
            parts = sink.write_batch(out, batch_id)
            if lineage_path:
                partition_lineage(parts, batch_id, lineage_path)
        finally:
            if persist:
                batch_df.unpersist()

    writer = (
        df.writeStream.outputMode(mode)
        .foreachBatch(write)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), sink


def _windowed(df: DataFrame, config: GushSparkConfig, keys: list[str], aggs) -> DataFrame:
    """Tumbling ``config.window_duration`` event-time aggregation of
    ``aggs`` per ``keys`` (watermarked on a stream) through
    ``windowed_agg``."""
    df = event_time(df, "warc_ts", config.watermark_delay)
    return windowed_agg(df, F.window("warc_ts", config.window_duration), keys, aggs)


def _page_counts() -> list:
    return [
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.when(F.col("extract_error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
    ]


def extracted_pages(
    pages: DataFrame,
    config: GushSparkConfig = DEFAULT_CONFIG,
    fix_encoding: bool = False,
) -> DataFrame:
    """Filters-then-extraction plan prefix shared by batch and
    streaming. ``fix_encoding`` fuses mojibake repair into the
    extraction Arrow batch (functions/extract.extract_fixing_udf)."""
    df = pages.withColumn("host", host_of(F.col("url")))
    df = blacklist_filter(df, config)  # pushable predicates BEFORE the UDF
    return with_extracted_text(df, fix_encoding=fix_encoding)


def windowed_host_counts(extracted: DataFrame, config: GushSparkConfig = DEFAULT_CONFIG,
                         streaming: bool | None = None) -> DataFrame:
    """Pages and extraction errors per (host, window); watermarked when
    ``extracted`` is a stream. ``streaming`` is ignored: the frame
    decides. It is still accepted because the benchmark's batch twin
    (perfbench/run.py) passes ``streaming=False``."""
    return _windowed(extracted, config, ["host"], _page_counts())


def pages_pipeline(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
    config: GushSparkConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    lineage_path: str | None = None,
):
    """Flagship: rate-controlled pages stream → extraction → windowed
    counts → exactly-once keyed sink ((host, window) ≙ (url, window) at
    page granularity)."""
    stream = read_input_stream(spark, pages_path, config)
    extracted = with_observed_metrics(extracted_pages(stream, config))
    agg = windowed_host_counts(extracted, config)
    sink = IdempotentKeyedSink(sink_path, keys=["host", "window_start"])
    return _run(agg, sink, checkpoint_path, available_now, lineage_path=lineage_path)


def featurize_pipeline(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
    config: GushSparkConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    lineage_path: str | None = None,
):
    """Scaling-bench flagship: pages stream → fused extract+featurize
    pandas UDF (quality/lang/fingerprints/minhash/simhash in one Arrow
    stage) → windowed per-host rollup → exactly-once sink.

    The map stage carries ~all the CPU, runs in Python worker processes
    (which scale with cores — unlike interpreted JVM array lambdas, see
    functions/page_features.py), and is shuffle-free. This is the job
    the N-vs-4N efficiency criterion is evidenced on
    (tools/bench_scaling.py)."""
    from gush_spark.functions.page_features import with_page_features

    stream = read_input_stream(spark, pages_path, config)
    stream = stream.withColumn("host", host_of(F.col("url")))
    stream = blacklist_filter(stream, config)  # pushable, below the UDF
    agg = _windowed(with_page_features(stream), config, ["host"], [
        *_page_counts(),
        # decimal sum → one double division: deterministic under any
        # partitioning/accumulation order (double avg() is not — the
        # N-vs-4N identical-output check would fail on FP order)
        (
            F.sum(F.col("quality_score").cast("decimal(18,6)")).cast("double")
            / F.count("quality_score")
        ).alias("avg_quality"),
        F.min("fp60").alias("min_fp60"),
        F.sum(F.element_at("minhash", 1)).alias("mh0_sum"),
    ])
    sink = IdempotentKeyedSink(sink_path, keys=["host", "window_start"])
    # rollup output is small (hosts × coarse windows): one output file
    # per batch keeps the sink's fixed cost off the scaling path
    return _run(agg, sink, checkpoint_path, available_now,
                lineage_path=lineage_path, step=lambda df: df.coalesce(1))


def salted_rollup_pipeline(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
    config: GushSparkConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    lineage_path: str | None = None,
):
    """Skew-safe streaming rollup (north_rule: salted repartitioning on
    skewed hosts, in the streaming path).

    A Zipf-hot host concentrates one (window, host) state key on one
    reducer; salting splits it into ``config.skew_salt_buckets`` sub-keys
    (deterministic ``xxhash64(url) mod buckets``), so the stateful
    aggregation fans the hot key over that many state partitions. The
    sink stores the PARTIALS keyed (host, window_start, salt) —
    last-committed-batch-wins per partial — and ``read_salted_rollup``
    merges them (counts/sums are decomposable; Spark's update-mode
    semantics are preserved because each partial is itself a complete
    running aggregate for its sub-key)."""
    stream = read_input_stream(spark, pages_path, config)
    extracted = extracted_pages(stream, config)
    salted = extracted.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("url")), F.lit(config.skew_salt_buckets))
    )
    agg = _windowed(salted, config, ["host", "salt"], _page_counts())
    sink = IdempotentKeyedSink(sink_path, keys=["host", "window_start", "salt"])
    return _run(agg, sink, checkpoint_path, available_now, lineage_path=lineage_path)


def read_salted_rollup(spark: SparkSession, sink: IdempotentKeyedSink) -> DataFrame:
    """Merge the salted partials back to per-(host, window) totals."""
    partials = sink.read(spark)
    return (
        partials.groupBy("window_start", "window_end", "host")
        .agg(F.sum("n_pages").alias("n_pages"), F.sum("n_errors").alias("n_errors"))
    )


def read_host_anomalies(
    spark: SparkSession,
    sink: IdempotentKeyedSink,
    *,
    lookback: int = 8,
    min_history: int = 4,
    k_sq: int = 9,
    min_ratio_pct: int = 150,
) -> DataFrame:
    """Crawler-trap report over a drained ``pages_pipeline`` /
    ``featurize_pipeline`` sink: each (host, window) count tested
    against the host's trailing baseline with the integer-exact z²-test
    (``operators/trending.volume_anomaly_windows``).

    Read-time finalize — the same layering as ``read_salted_rollup``
    and ``decayed_term_scores``: the stream keeps one additive counter
    per (host, window) in the exactly-once sink; the anomaly verdict is
    derived when asked, so a resumed or backfilled stream re-reads and
    re-flags correctly with no bespoke anomaly state. ``job.py
    --anomaly-k`` writes this next to the sink after the drain."""
    from gush_spark.operators.trending import volume_anomaly_windows

    counts = sink.read(spark).select(
        "host", "window_start", F.col("n_pages").alias("n")
    )
    return volume_anomaly_windows(
        counts, "host",
        lookback=lookback, min_history=min_history,
        k_sq=k_sq, min_ratio_pct=min_ratio_pct,
    )


def read_recrawl_priorities(
    spark: SparkSession,
    sink: IdempotentKeyedSink,
    *,
    k: int | None = None,
) -> DataFrame:
    """Recrawl schedule over a drained ``cep_pipeline`` sink: per url,
    change-rate (recrawl events = observed content changes) ×
    staleness vs corpus-now, the Cho & Garcia-Molina policy
    (``operators/recrawl.recrawl_priorities``).

    Read-time finalize, same layering as ``read_host_anomalies``: the
    stream keeps only the enriched event log in the exactly-once sink
    (counts/max are additive facts of it); the schedule is derived when
    asked, so resumed or backfilled streams re-prioritize correctly
    with no bespoke scheduling state. ``job.py --recrawl-topk`` writes
    this next to the sink after the drain. ``session_closed`` summary
    rows (when the pipeline emits closures) are not fetches and are
    excluded."""
    from gush_spark.operators.recrawl import recrawl_priorities

    obs = sink.read(spark).filter(
        F.col("event_type").isin("crawl", "recrawl")
    ).select(
        "url",
        F.timestamp_micros(F.col("warc_ts_us")).alias("_ts"),
        "event_type",
    )
    return recrawl_priorities(
        obs, "url", "_ts", F.col("event_type") == F.lit("recrawl"), k=k
    )


def curation_stream_pipeline(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
    config: GushSparkConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    quality_threshold: float = 0.5,
    lang: str = "en",
    scrub: bool = False,
    max_pii: int | None = None,
    bench_keys=None,
    bench_bitmap=None,
    contamination_threshold: float = 0.5,
    fix_encoding: bool = False,
    lm_model=None,
    lm_min_logp: float = -7.0,
    gopher_gate: bool = False,
    lineage_path: str | None = None,
):
    """Crawl-time corpus curation: pages stream → blacklist filters →
    vectorized extraction (optionally fused with mojibake repair) →
    streaming exact dedup (watermark-bounded state, first occurrence
    wins) → optional PII scrub → quality + language gates (pure column
    expressions) → optional benchmark-decontamination gate →
    exactly-once append sink of curated docs.

    ``fix_encoding=True`` repairs UTF-8-as-cp1252 mojibake INSIDE the
    extraction Arrow batch (zero extra transfer) and, critically,
    BEFORE the dedup fingerprint — a corrupted copy of a clean page
    dedupes against it instead of slipping past as distinct bytes.

    The streaming twin of the batch ``curation_pipeline`` catalog query:
    the batch pass sweeps the corpus (including near-dup clustering,
    which needs global connectivity); this stage keeps exact duplicates
    and junk from ever landing. Stateful footprint: one dedup entry per
    distinct fingerprint inside the watermark horizon — the only
    shuffle is on the 16-byte fingerprint.

    ``scrub=True`` redacts PII from the extracted text BEFORE the
    quality gates (operators/scrub — stateless column expressions,
    fused into the same projection); ``max_pii`` additionally drops
    pages with more than that many matches. ``bench_keys`` is a STATIC
    DataFrame of distinct benchmark shingle md5s
    (operators/decontaminate.benchmark_ngram_keys); the gate runs
    inside foreachBatch where the microbatch is a plain batch frame, so
    the verified batch operator applies as-is — the bench side is
    broadcast, no stream state. ``bench_bitmap`` (mutually exclusive
    with ``bench_keys``) is a Bloom bitmap
    (operators/decontaminate.benchmark_bloom_bitmap) for reference sets
    too big to broadcast exactly — bits per key, overlap an upper
    bound, so the stream can over-drop a clean page but never leak a
    benchmark page.

    ``lm_model`` is an optional ``(model, ctx, vocab)`` triple from
    ``operators/lm.train_bigram_lm`` — a STATIC in-domain LM trained
    offline on a trusted corpus. The gate drops pages whose mean bigram
    log-probability under it falls below ``lm_min_logp`` (the CCNet
    head/middle/tail cut). It runs inside foreachBatch like the
    decontamination gate: the model tables are broadcast, the only
    microbatch shuffle is the per-fingerprint score aggregation — no
    stream state.

    ``gopher_gate=True`` additionally applies the seven published
    Gopher/MassiveText rules (functions/text_analysis.gopher_rules —
    Rae et al. 2021 A1.1) as a stateless column-expression filter fused
    into the same projection as the quality/language gates: zero extra
    shuffles, zero Python, zero stream state."""
    from gush_spark.functions import text_analysis as ta
    from gush_spark.streaming.dedup import dedup_pages_stream

    stream = read_input_stream(spark, pages_path, config)
    extracted = extracted_pages(stream, config, fix_encoding=fix_encoding)
    deduped = dedup_pages_stream(
        extracted.filter(F.col("extract_error").isNull()),
        watermark_delay=config.watermark_delay,
        text_col="extracted_text",
    )
    if scrub:
        from gush_spark.operators.scrub import scrub_columns

        sc_cols = scrub_columns(F.col("extracted_text"))
        deduped = deduped.withColumn("n_pii", sc_cols["n_pii"]).withColumn(
            "extracted_text", sc_cols["clean_text"]
        )
        if max_pii is not None:
            deduped = deduped.filter(F.col("n_pii") <= max_pii)
    else:
        deduped = deduped.withColumn("n_pii", F.lit(0).cast("long"))
    feats = ta.quality_features(F.col("extracted_text"))
    scores = ta.lang_scores(F.col("extracted_text"))
    curated = (
        deduped.select(
            "url", "host", "warc_ts", "fingerprint", "extracted_text", "n_pii",
            feats["n_tokens"].cast("long").alias("n_tokens"),
            feats["quality_score"].alias("quality_score"),
            scores["pred_lang"].alias("pred_lang"),
        )
        .filter(
            (F.col("quality_score") >= quality_threshold)
            & (F.col("pred_lang") == lang)
        )
    )
    if gopher_gate:
        curated = curated.filter(
            ta.gopher_rules(F.col("extracted_text"))["keep"]
        )

    if bench_keys is not None and bench_bitmap is not None:
        raise ValueError("pass bench_keys OR bench_bitmap, not both")

    def _gate(kept):
        if lm_model is not None:
            from gush_spark.operators.lm import lm_gate

            model, lm_ctx, vocab = lm_model
            # fingerprint is the per-document key (dedup upstream
            # guarantees uniqueness within the batch)
            kept = lm_gate(
                kept, model, lm_ctx, vocab, "fingerprint",
                "extracted_text", min_mean_logp=lm_min_logp,
            )
        if bench_keys is not None or bench_bitmap is not None:
            from gush_spark.operators.decontaminate import (
                ngram_overlap,
                ngram_overlap_bloom,
            )

            # gate on the unique content fingerprint, NOT url: two
            # distinct-content pages sharing a url in one microbatch
            # must be scored (and kept/dropped) per document,
            # matching the batch operator's per-doc semantics
            if bench_bitmap is not None:
                scored = ngram_overlap_bloom(
                    kept, bench_bitmap, "fingerprint", "extracted_text",
                    threshold=contamination_threshold,
                )
            else:
                scored = ngram_overlap(
                    kept, None, "fingerprint", "extracted_text",
                    threshold=contamination_threshold,
                    bench_keys=bench_keys,
                )
            flags = scored.filter(F.col("contaminated")).select("fingerprint")
            kept = kept.join(F.broadcast(flags), on="fingerprint", how="left_anti")
        return kept

    sink = IdempotentKeyedSink(sink_path, keys=[])  # append: curated rows
    # the microbatch plan above (pandas-UDF extraction, dedup state,
    # scrub regexes) is expensive — a gated batch is persisted so every
    # gate branch reads it once instead of recomputing it
    gated = lm_model is not None or bench_keys is not None or bench_bitmap is not None
    return _run(curated, sink, checkpoint_path, available_now, mode="append",
                lineage_path=lineage_path, step=_gate if gated else None,
                persist=gated)


def start_independent_queries(
    spark: SparkSession,
    events_path: str,
    specs: dict,
    checkpoint_root: str,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
) -> dict:
    """S7 variant (b): N fully independent StreamingQueries over ONE
    replayable source — gush's ``Sink.combine(...5 sinks...)`` fan-out
    (GushCEP.scala:15-22) when the sinks must not share fate.

    Each spec is ``name -> (transform, sink, output_mode)`` where
    ``transform(stream_df) -> df`` and ``sink`` is an
    ``IdempotentKeyedSink``. Every query re-reads the source with its
    OWN offsets + checkpoint (``checkpoint_root/name``), so the sinks
    progress, restart and backpressure independently — one slow or
    crashing consumer cannot stall the others. The cost vs the shared
    ``fan_out`` foreachBatch (streaming/sink.py) is N source scans; the
    source being a replayable table (Iceberg/parquet) is exactly what
    makes this safe. Returns name -> (query, sink)."""
    return {
        name: _run(
            transform(read_page_events_stream(spark, events_path, max_files_per_trigger)),
            sink, f"{checkpoint_root}/{name}", available_now, mode=mode,
        )
        for name, (transform, sink, mode) in specs.items()
    }


def _supported_events(spark: SparkSession, events_path: str, config: GushSparkConfig,
                      max_files_per_trigger: int) -> DataFrame:
    """Change-event stream behind the kind and blacklist filters (cep, state)."""
    stream = read_page_events_stream(spark, events_path, max_files_per_trigger)
    return blacklist_filter(supported_kinds_filter(stream), config)


def cep_pipeline(
    spark: SparkSession,
    events_path: str,
    sink_path: str,
    checkpoint_path: str,
    config: GushSparkConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    lineage_path: str | None = None,
    politeness_quota: int | None = None,
):
    """CEP: event stream → filters → stateful enrichment → append sink.

    ``politeness_quota`` swaps the default crawl/recrawl/drop machine
    for the crawl-politeness gate (``make_politeness_rule`` — at most
    N fetches per host per event-time window, deferred events flagged
    not dropped; ``job.py --politeness-quota``). The rule's
    cross-trigger guarantee holds only inside its retention horizon, so
    the retention is sized here to COVER the pipeline's watermark
    delay: every event the watermark admits meets a still-live window
    counter (state stays bounded — retention·window is a constant)."""
    stream = _supported_events(spark, events_path, config, max_files_per_trigger)
    if politeness_quota is not None:
        import math

        from gush_spark.streaming.cep import (
            POLITENESS_RETENTION_WINDOWS,
            POLITENESS_SCHEMA,
            POLITENESS_WIN_US,
            make_politeness_rule,
        )

        retention = max(
            POLITENESS_RETENTION_WINDOWS,
            math.ceil(duration_us(config.watermark_delay) / POLITENESS_WIN_US),
        )
        enriched = cep_enrich(
            stream,
            watermark_delay=config.watermark_delay,
            rule=make_politeness_rule(
                politeness_quota, retention_windows=retention
            ),
            output_schema=POLITENESS_SCHEMA,
        )
    else:
        enriched = cep_enrich(stream, watermark_delay=config.watermark_delay)
    sink = IdempotentKeyedSink(sink_path, keys=[])  # append mode: every row kept
    return _run(enriched, sink, checkpoint_path, available_now, mode="append",
                lineage_path=lineage_path)


# ---------------------------------------------------------------------------
# streaming link graph — html → extracted hyperlink edges → per-window
# host→host counts → exactly-once keyed sink (job.py --pipeline linkgraph)
# ---------------------------------------------------------------------------
def windowed_link_edges(
    pages: DataFrame, config: GushSparkConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-window host→host link edge counts straight off the raw html
    (operators/links.extract_links: JVM regexp tag scan + one explode,
    absolute/relative/junk resolution). Shared by the streaming
    pipeline and its batch twin so stream == batch is testable
    row-for-row.

    Scale shape: extraction is map-only inside the microbatch scan
    stage; only (warc_ts, src_host, dst_host) survive to the windowed
    state, so the stateful agg keys are hosts×hosts×windows — bounded
    behind the watermark like windowed_host_counts, never page- or
    byte-proportional.
    """
    from gush_spark.operators.links import extract_links

    links = extract_links(
        pages.withColumn("_html_s", F.col("html").cast("string")),
        url_col="url",
        html_col="_html_s",
        keep=("warc_ts",),
    )
    return _windowed(links, config, ["src_host", "dst_host"],
                     [F.count(F.lit(1)).alias("n_links")])


def link_graph_pipeline(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
    config: GushSparkConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    lineage_path: str | None = None,
):
    """Rate-controlled pages stream → hyperlink extraction → windowed
    host→host edge counts → exactly-once keyed sink keyed
    (src_host, dst_host, window_start). The streaming producer of the
    edge frame the batch graph family (pagerank / degrees / k-core)
    consumes — the crawl's link structure maintained incrementally
    instead of recomputed per snapshot."""
    stream = read_input_stream(spark, pages_path, config)
    agg = windowed_link_edges(stream, config)
    sink = IdempotentKeyedSink(
        sink_path, keys=["src_host", "dst_host", "window_start"]
    )
    return _run(agg, sink, checkpoint_path, available_now, lineage_path=lineage_path)


# ---------------------------------------------------------------------------
# CDC table materialization — the binlog→current-table view (the
# reference's home domain: a change stream folded to latest row state;
# job.py --pipeline state)
# ---------------------------------------------------------------------------
def _latest_per_url(events: DataFrame) -> DataFrame:
    """One row per url: its newest event by the struct-max argmax on
    (warc_ts, event_id) — map-side combinable, no window."""
    return (
        events.groupBy("url")
        .agg(F.max(F.struct("warc_ts", "event_id", "event_type", "host")).alias("s"))
        .select("url", *(F.col(f"s.{c}").alias(c)
                         for c in ("warc_ts", "event_id", "event_type", "host")))
    )


def latest_state_pipeline(
    spark: SparkSession,
    events_path: str,
    sink_path: str,
    checkpoint_path: str,
    config: GushSparkConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    lineage_path: str | None = None,
):
    """Change stream → per-url CURRENT state, event-time exact.

    Each microbatch folds to ONE row per touched url (a struct-max
    argmax on (warc_ts, event_id) — map-side combinable, no window);
    the sink resolves across batches by the SAME event-time order
    (``resolve_order``), so a late batch carrying an older version
    loses to the newer row already written — latest-state is exact
    under ANY arrival order and needs no watermark: out-of-order data
    is resolved, not dropped. State per key is one sink row; compaction
    folds history with the same ordering. This is the gush
    binlog-to-table semantics (BinlogEvent → latest row) built on
    replayable offsets + idempotent MERGE instead of an actor chain."""
    stream = _supported_events(spark, events_path, config, max_files_per_trigger)
    sink = IdempotentKeyedSink(
        sink_path, keys=["url"], resolve_order=["warc_ts", "event_id"]
    )
    return _run(stream, sink, checkpoint_path, available_now,
                lineage_path=lineage_path, step=_latest_per_url)



def read_page_state(spark: SparkSession, sink: IdempotentKeyedSink) -> DataFrame:
    """Current-table view: latest event per url + liveness (a url whose
    newest event is a drop is tombstoned, not deleted — deletions are
    data)."""
    latest = sink.read(spark)
    return latest.withColumn("is_active", F.col("event_type") != "drop")


def batch_latest_state(
    events: DataFrame, config: GushSparkConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Batch twin of the streaming materializer (stream == batch
    tests): the SAME kind/blacklist filters, then the same struct-max
    argmax over the full event set — without the filters an
    unsupported-kind or ignored-host event could become a url's
    'current' state here while the stream never saw it."""
    latest = _latest_per_url(blacklist_filter(supported_kinds_filter(events), config))
    return latest.withColumn("is_active", F.col("event_type") != "drop")


# ---------------------------------------------------------------------------
# Windowed priority sample — live weight-proportional sampling
# (job.py --pipeline sample)
# ---------------------------------------------------------------------------
def sample_pipeline(
    spark: SparkSession,
    pages_path: str,
    sink_path: str,
    checkpoint_path: str,
    config: GushSparkConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    sample_k: int = 16,
    sample_shards: int = 8,
    lineage_path: str | None = None,
):
    """Rate-controlled pages stream → per-(window, shard) bounded
    min-k priority-sample state → exactly-once keyed sink
    (streaming/sampling.py). Each closed window's shard candidates
    land append-once; ``sampling.finalize_window_sample`` over the
    sink yields the exact per-window sample (== the batch twin, the
    module's pinned contract). The live eval/monitoring feed: a
    length-biased sample of every crawl slice, reproducible across
    retries and cluster sizes."""
    from gush_spark.streaming.sampling import windowed_priority_sample

    stream = read_input_stream(spark, pages_path, config)
    cands = windowed_priority_sample(
        stream,
        ts_col="warc_ts",
        url_col="url",
        weight_expr="length(text)",
        window_duration=config.window_duration,
        watermark_delay=config.watermark_delay,
        k=sample_k,
        shards=sample_shards,
    )
    sink = IdempotentKeyedSink(
        sink_path, keys=["window_start_us", "shard", "url"]
    )
    return _run(cands, sink, checkpoint_path, available_now, mode="append",
                lineage_path=lineage_path)
