"""Cluster job entrypoint — the GushApp analog (reference:
src/main/scala/gush_example/gush.scala:33-36), packaged for
``spark-submit --py-files`` (north_rule requirement).

Usage (cluster):

    tools/package.sh                       # builds dist/gush_spark.zip
    spark-submit \\
      --py-files dist/gush_spark.zip \\
      --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
      dist/job.py \\
      --pipeline featurize \\
      --input  s3://bucket/pages/ \\
      --sink   s3://bucket/rollups/ \\
      --checkpoint s3://bucket/ckpt/featurize \\
      [--config gush.yml] [--continuous]

The master, executor sizing, and dynamic allocation come from
spark-submit; this module only applies the engine's semantic confs
(state store, Arrow, timezone — session.ENGINE_CONFS). Resume is the
reference's postRestart analog: re-submit with the same --checkpoint
and the stream continues from committed offsets.

``--lineage PATH`` applies to every pipeline: a ``LineageListener``
appends each microbatch's progress to PATH, and the pipeline's runner
appends one ``partition_lineage`` record (per-partition row counts of
the rows the sink committed) per batch. Flags that apply to only some
pipelines are declared once in ``PIPELINE_FLAGS``; setting one on
another pipeline fails at parse time, before a cluster is provisioned.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from gush_spark.config import DEFAULT_CONFIG, GushSparkConfig
from gush_spark.session import ENGINE_CONFS
from gush_spark.streaming.metrics import LineageListener
from gush_spark.streaming.pipeline import (
    cep_pipeline,
    curation_stream_pipeline,
    featurize_pipeline,
    latest_state_pipeline,
    link_graph_pipeline,
    pages_pipeline,
    salted_rollup_pipeline,
    sample_pipeline,
)
from gush_spark.streaming.supervisor import run_supervised

PIPELINES = {
    "pages": pages_pipeline,        # extract → windowed counts → sink
    "featurize": featurize_pipeline,  # extract → featurize → rollup → sink
    "cep": cep_pipeline,            # events → stateful CEP → sink
    "salted": salted_rollup_pipeline,  # skew-salted rollup (hot hosts)
    "curation": curation_stream_pipeline,  # extract → dedup → quality/lang gates
    "linkgraph": link_graph_pipeline,  # html → link edges → windowed counts
    "state": latest_state_pipeline,  # change events → latest row per url (CDC)
    "sample": sample_pipeline,      # windowed priority sample (min-k state)
}


def build_cluster_session(app_name: str) -> SparkSession:
    """Session for spark-submit: engine confs only, no master override."""
    builder = SparkSession.builder.appName(app_name)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


CURATION = ("curation",)

#: Every pipeline-specific flag, declared once:
#: ``(flag, pipelines it applies to, pipeline kwarg it sets, help,
#: argparse options)``. The kwarg is None for a post-drain report or a
#: config setting. A flag left at its default is neither checked nor
#: passed; set on any other pipeline it is a parse error.
PIPELINE_FLAGS = (
    ("--input-format", tuple(p for p in PIPELINES if p not in ("cep", "state")), None,
     "pages container: parquet shards or raw WARC archives (cep/state "
     "consume the page_events change stream)",
     dict(choices=("parquet", "warc"), default="parquet")),
    ("--scrub", CURATION, "scrub",
     "redact PII from extracted text before the quality gates "
     "(operators/scrub)", dict(action="store_true")),
    ("--max-pii", CURATION, "max_pii",
     "with --scrub, drop pages with more than N PII matches", dict(type=int)),
    ("--bench-keys", CURATION, "bench_keys",
     "parquet of distinct benchmark shingle md5s (column sk, see "
     "operators/decontaminate.benchmark_ngram_keys) — gate out "
     "contaminated pages", {}),
    ("--bench-bloom", CURATION, "bench_bitmap",
     "parquet of a Bloom bitmap (word_idx, word — operators/decontaminate."
     "benchmark_bloom_bitmap) for reference sets too big to broadcast "
     "exactly; mutually exclusive with --bench-keys", {}),
    ("--quality-threshold", CURATION, "quality_threshold",
     "minimum quality_score to keep a page", dict(type=float, default=0.5)),
    ("--lang", CURATION, "lang",
     "keep pages whose predicted language matches (lang-ID is the n-gram "
     "stopword profile)", dict(default="en")),
    ("--fix-encoding", CURATION, "fix_encoding",
     "repair UTF-8-as-cp1252 mojibake inside the extraction batch, BEFORE "
     "the dedup fingerprint (functions/encoding; lossless rounds only)",
     dict(action="store_true")),
    ("--lm-ref", CURATION, "lm_model",
     "parquet of a trusted reference corpus (doc_id, text) — trains the "
     "in-domain bigram LM at startup (operators/lm.train_bigram_lm) and "
     "gates pages on mean bigram log-probability", {}),
    ("--lm-min-logp", CURATION, "lm_min_logp",
     "minimum mean bigram log-probability under the --lm-ref model to keep "
     "a page (requires --lm-ref)", dict(type=float)),
    ("--gopher-gate", CURATION, "gopher_gate",
     "additionally gate pages on the seven published Gopher/MassiveText "
     "quality rules (functions/text_analysis.gopher_rules, Rae et al. 2021 "
     "A1.1) — stateless column expressions fused into the quality/language "
     "projection", dict(action="store_true")),
    ("--politeness-quota", ("cep",), "politeness_quota",
     "run the crawl-politeness gate instead of the default machine — at "
     "most N fetches per (host, event-time window), deferred events "
     "flagged not dropped (streaming/cep.make_politeness_rule)",
     dict(type=int)),
    ("--sample-k", ("sample",), "sample_k",
     "per-window sample size (bounded min-k state per (window, shard); "
     "finalize with streaming/sampling.finalize_window_sample — the result "
     "provably equals the batch twin)", dict(type=int)),
    ("--anomaly-k", ("pages", "featurize"), None,
     "after the drain, write a crawler-trap report (<sink>_anomalies) "
     "flagging (host, window) counts more than K sigma above the host's "
     "trailing baseline (integer-exact z²-test, "
     "operators/trending.volume_anomaly_windows); availableNow mode only",
     dict(type=int)),
    ("--recrawl-topk", ("cep",), None,
     "after the drain, write a recrawl schedule (<sink>_recrawl) — top-K "
     "urls by change-rate x staleness (Cho & Garcia-Molina; "
     "pipeline.read_recrawl_priorities); availableNow mode only",
     dict(type=int)),
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="gushspark streaming job")
    ap.add_argument("--pipeline", choices=sorted(PIPELINES), default="pages")
    ap.add_argument("--input", required=True)
    ap.add_argument("--sink", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--config", help="YAML job config (GushConfig analog)")
    ap.add_argument("--lineage", help="per-microbatch lineage JSONL path")
    ap.add_argument(
        "--continuous", action="store_true",
        help="run until stopped (default: AvailableNow — drain and exit)",
    )
    ap.add_argument(
        "--max-restarts", type=int, default=0,
        help="supervised mode: restart a failed query from its checkpoint "
             "up to N times (the reference's actor-supervision analog; "
             "0 = fail fast)",
    )
    for flag, pipelines, _, help_, options in PIPELINE_FLAGS:
        ap.add_argument(flag, help=f"{'/'.join(pipelines)} pipeline: {help_}", **options)
    args = ap.parse_args(argv)
    if args.max_pii is not None and not args.scrub:
        ap.error("--max-pii requires --scrub (the gate runs on scrubbed text)")
    if args.bench_keys and args.bench_bloom:
        ap.error("--bench-keys and --bench-bloom are mutually exclusive")
    if args.lm_min_logp is not None and not args.lm_ref:
        ap.error("--lm-min-logp requires --lm-ref (the model to score under)")
    if args.continuous and (args.anomaly_k is not None or args.recrawl_topk is not None):
        ap.error("--anomaly-k/--recrawl-topk are post-drain reports (availableNow only)")
    kwargs = dict(available_now=not args.continuous, lineage_path=args.lineage)
    for flag, pipelines, kwarg, _, _ in PIPELINE_FLAGS:
        dest = flag[2:].replace("-", "_")
        value = getattr(args, dest)
        if value == ap.get_default(dest):
            continue
        if args.pipeline not in pipelines:
            ap.error(f"{flag} only applies to --pipeline {'/'.join(pipelines)}")
        if kwarg:
            kwargs[kwarg] = value

    config = (
        GushSparkConfig.from_yaml(args.config) if args.config else DEFAULT_CONFIG
    )
    if args.input_format != "parquet":
        import dataclasses

        config = dataclasses.replace(config, input_format=args.input_format)
    spark = build_cluster_session(f"gushspark_{args.pipeline}")
    try:
        if args.lineage:
            spark.streams.addListener(LineageListener(args.lineage))
        # parquet-path flags become frames (and the LM) once a session exists
        for key in ("bench_keys", "bench_bitmap", "lm_model"):
            if key in kwargs:
                kwargs[key] = spark.read.parquet(kwargs[key])
        if "lm_model" in kwargs:
            from gush_spark.operators.lm import train_bigram_lm

            kwargs["lm_model"] = train_bigram_lm(kwargs["lm_model"], "doc_id", "text")
        pipeline = PIPELINES[args.pipeline]

        def start():
            return pipeline(
                spark,
                args.input,
                sink_path=args.sink,
                checkpoint_path=args.checkpoint,
                config=config,
                **kwargs,
            )

        if args.max_restarts > 0:
            _query, sink, _n_restarts = run_supervised(
                start, max_restarts=args.max_restarts, lineage_path=args.lineage
            )
        else:
            query, sink = start()
            query.awaitTermination()
        if args.anomaly_k is not None:
            from gush_spark.streaming.pipeline import read_host_anomalies

            report = read_host_anomalies(spark, sink, k_sq=args.anomaly_k**2)
            report.write.mode("overwrite").parquet(f"{args.sink}_anomalies")
        if args.recrawl_topk is not None:
            from gush_spark.streaming.pipeline import read_recrawl_priorities

            schedule = read_recrawl_priorities(spark, sink, k=args.recrawl_topk)
            schedule.write.mode("overwrite").parquet(f"{args.sink}_recrawl")
        return 0
    finally:
        # the listener bus is asynchronous: stopping drains it while the
        # Python callback server is still up, so the LineageListener
        # writes the last progress records and the terminated one
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
