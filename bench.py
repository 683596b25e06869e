#!/usr/bin/env python
"""Bench harness — headline queries + streaming throughput, one JSON line.

Runs every catalog query from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run
on, ``gush_spark.session.DEFAULT_CPUS``), materializing each result via
the ``noop`` sink (full execution, no driver collect). Also measures the
flagship streaming pipeline (pages stream -> vectorized extraction ->
windowed counts -> exactly-once sink) as sustained pages/sec plus p95
microbatch latency — the BASELINE.json headline metric.

Output: ONE json line
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "streaming": {"pages": N, "pages_per_sec": ..., "p95_batch_sec": ...}}

Scaling-efficiency evidence (north_rule two-cluster-size criterion) lives
in tools/bench_scaling.py -> BENCH/BASELINE.md; this file is the driver's
per-round single-config run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "60000"))
# streaming state partitions: per-microbatch fixed cost is O(state
# partitions) (one RocksDB store commit each), so size to the data volume
# per trigger, not to the core count. Measured on this box: 32 stores ->
# 3-8s floor per batch; 8 stores -> ~0.9s. On a 1000-executor cluster this
# would be sized to total cores; the knob is what matters.
STREAM_SHUFFLE = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"))
SKIP_STREAMING = os.environ.get("SPARK_GRAFT_BENCH_NO_STREAM", "") == "1"


def _sf_of(path: str) -> float:
    name = Path(path).name  # e.g. sf0.1
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _warm_session(spark) -> None:
    """Session-level warmup BEFORE any timed query: JVM JIT, codegen
    caches, the noop sink, parquet reader init and the Python worker
    pool. Without this, whatever query happens to be registered FIRST
    absorbs the cold-start (measured: incremental_exact_dedup 1.4s at
    position 1 vs 0.85s warm, same session) — and the driver-window
    rotation now puts real operators first, so the charge would land on
    them and read as a phantom round-over-round regression."""
    import __spark_entry__ as entrypoint

    qs = entrypoint.queries()
    # one scan-heavy JVM query, one events query, one Arrow-UDF query
    for name in ("exact_dedup", "word_frequencies", "compression_ratio_scores"):
        if name in qs:
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()


def bench_queries(spark) -> tuple[dict[str, float], dict[str, list[float]], list[str]]:
    import __spark_entry__ as entrypoint

    _warm_session(spark)
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    suspect: list[str] = []
    for name, fn in entrypoint.queries().items():
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()  # warm (scan cache, JIT)
        # min of 2 timed runs, with BOTH runs disclosed ("query_runs")
        # and a throttle-suspect flag: this shared VM randomly throttles
        # 2-5x for multi-second windows, and a single sample inside one
        # would read as a phantom regression; the min of two warm runs is
        # the quiet-host figure, and a >2x spread between the two runs
        # marks the query so a reader can separate regressions from host
        # noise without re-running
        pair = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            pair.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(pair)
        runs[name] = pair
        if max(pair) > 2 * min(pair):
            suspect.append(name)
        # queries that persist intermediates (semantic k-means
        # assignments, incremental indexes) register them in
        # CacheManager, which never GCs — 120 queries of leftovers
        # thrash executor storage and re-time later queries 3x slower
        # than standalone (measured: semantic_canonical_vecs 19.3s in
        # catalog order vs 6.5s alone). Clear BETWEEN queries, never
        # between the two runs of a pair (warm-run semantics).
        spark.catalog.clearCache()
    return timings, runs, suspect


def bench_ann_index(spark) -> dict:
    """Index-build vs query cost for the ANN family, separated.

    The catalog entries (ann_topk_ivfpq, ann_topk_ivf_kmeans,
    pq_adc_topk) time train+build+probe as ONE query because the
    oracle must reproduce the whole composition — but at real scale the
    index is a write-once materialized table amortized over every
    query. Here each index builds ONCE (timed, materialized to parquet
    like a production index table), then the probe stage runs against
    the loaded index (min of 2 timed runs) — the figure a capacity
    plan actually needs. Same parameters as the catalog entries."""
    from gush_spark.operators import pq as pq_ops
    from gush_spark.operators import similarity

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(vecs.select("embedding").first()[0])
    queries_df = vecs.filter("vec_id < 8")
    work = Path(tempfile.mkdtemp(prefix="gush_bench_annidx_"))
    out: dict[str, dict] = {}

    def _timed_query(fn) -> list[float]:
        fn().write.format("noop").mode("overwrite").save()  # warm
        pair = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            pair.append(round(time.perf_counter() - t0, 3))
        return pair

    # --- IVF-PQ (catalog: ann_topk_ivfpq)
    t0 = time.perf_counter()
    asg, cents, cb, codes = pq_ops.ivfpq_build(
        vecs, n_cells=8, cell_iters=1, pq_iters=1, dim=dim, spread=None,
    )
    for name, df in (("asg", asg), ("cents", cents), ("cb", cb), ("codes", codes)):
        df.write.mode("overwrite").parquet(str(work / f"ivfpq_{name}"))
    build = time.perf_counter() - t0
    idx = {n: spark.read.parquet(str(work / f"ivfpq_{n}"))
           for n in ("asg", "cents", "cb", "codes")}
    runs = _timed_query(lambda: pq_ops.ivfpq_query(
        idx["asg"], idx["cents"], idx["cb"], idx["codes"], queries_df,
        n_probe=2, k=5, dim=dim,
    ))
    out["ivfpq"] = {"build_sec": round(build, 3), "query_sec": min(runs),
                    "query_runs": runs}
    spark.catalog.clearCache()

    # --- trained-kmeans IVF (catalog: ann_topk_ivf_kmeans)
    t0 = time.perf_counter()
    labeled, cents = similarity.kmeans_ivf_build(vecs, n_cells=10, iters=2)
    labeled.write.mode("overwrite").parquet(str(work / "ivf_labeled"))
    cents.write.mode("overwrite").parquet(str(work / "ivf_cents"))
    build = time.perf_counter() - t0
    lab = spark.read.parquet(str(work / "ivf_labeled"))
    cen = spark.read.parquet(str(work / "ivf_cents"))
    runs = _timed_query(lambda: similarity.kmeans_ivf_query(
        lab, cen, queries_df, k=5, n_probe=2,
    ))
    out["ivf_kmeans"] = {"build_sec": round(build, 3), "query_sec": min(runs),
                         "query_runs": runs}
    spark.catalog.clearCache()

    # --- flat PQ + ADC (catalog: pq_adc_topk)
    t0 = time.perf_counter()
    cb = pq_ops.pq_train(vecs, iters=1, dim=dim)
    codes = pq_ops.pq_encode(vecs, cb, dim=dim)
    cb.write.mode("overwrite").parquet(str(work / "pq_cb"))
    codes.write.mode("overwrite").parquet(str(work / "pq_codes"))
    build = time.perf_counter() - t0
    cbl = spark.read.parquet(str(work / "pq_cb"))
    cdl = spark.read.parquet(str(work / "pq_codes"))
    runs = _timed_query(lambda: pq_ops.pq_adc_topk(
        cdl, cbl, queries_df, k=5, dim=dim,
    ))
    out["pq_adc"] = {"build_sec": round(build, 3), "query_sec": min(runs),
                     "query_runs": runs}

    # --- PQ ADC + exact rerank (catalog: pq_adc_rerank_topk) — same
    # index as pq_adc; only the probe differs (ADC top-20 shortlist +
    # exact integer rerank), so build cost is shared and the marginal
    # rerank cost is the delta vs pq_adc's query_sec
    runs = _timed_query(lambda: pq_ops.pq_adc_rerank_topk(
        cdl, cbl, queries_df, vecs, r=20, k=5, dim=dim,
    ))
    out["pq_adc_rerank"] = {"build_sec": out["pq_adc"]["build_sec"],
                            "query_sec": min(runs), "query_runs": runs}
    spark.catalog.clearCache()
    shutil.rmtree(work, ignore_errors=True)
    return out


def steady_stats(progress: list[tuple[int, int, float]]) -> dict:
    """Steady-state rate and p95 from ``(batch_id, input_rows, seconds)``
    per microbatch. Steady excludes batch 0 (python-worker spawn,
    codegen, RocksDB init) and the empty AvailableNow tail batch; the
    p95 is the nearest rank (sorted sample at index ⌊0.95·n⌋, clamped)
    over those same batches, with its sample count beside it."""
    steady = [(r, d) for b, r, d in progress if b > 0 and r > 0]
    secs = sorted(d for _, d in steady)
    return {
        "steady_pages_per_sec":
            round(sum(r for r, _ in steady) / sum(secs), 1) if steady else None,
        "p95_batch_sec":
            round(secs[min(len(secs) - 1, int(0.95 * len(secs)))], 3) if secs else None,
        "p95_samples": len(secs),
    }


def bench_streaming(spark) -> dict:
    """Two runs of ``_stream_once`` with BOTH disclosed — the same
    min-of-2-warm-runs convention as the query section, because a
    single streaming sample inside one of this VM's random throttle
    windows reads as a phantom regression (r03 recorded p95 7.0s in a
    flagged window; the quiet figure was 2.1s). Headline fields are the
    PER-METRIC best across the two runs (max steady rate, min p95 —
    throttle stalls only ever worsen a metric, and the two can land in
    different runs); both runs are disclosed verbatim under ``runs``.
    ``throttle_suspect`` flags a >2x steady-rate spread."""
    runs = [_stream_once(spark) for _ in range(2)]
    rates = [r["steady_pages_per_sec"] or 0 for r in runs]
    out = dict(max(runs, key=lambda r: r["steady_pages_per_sec"] or 0))
    p95s = [r["p95_batch_sec"] for r in runs if r["p95_batch_sec"] is not None]
    out["p95_batch_sec"] = min(p95s) if p95s else None
    out["runs"] = runs
    out["throttle_suspect"] = bool(min(rates) and max(rates) > 2 * min(rates))
    return out


def _stream_once(spark) -> dict:
    """Sustained throughput of the flagship pipeline on a generated
    pages table (deterministic, FIXTURES.md §1 shape)."""
    from gush_spark.config import GushSparkConfig
    from gush_spark.sources.fixtures import generate_pages
    from gush_spark.streaming.pipeline import pages_pipeline

    # 32 files, 8 per trigger: each microbatch's extraction fans out over 8
    # input splits (at 100 TB files-per-batch >> cores, so parallelism is
    # free there; here we have to create it).
    cache_dir = Path(tempfile.gettempdir()) / f"gush_bench_pages_{BENCH_PAGES}_v2"
    if not (cache_dir / "_DONE").exists():
        shutil.rmtree(cache_dir, ignore_errors=True)
        generate_pages(cache_dir, n_pages=BENCH_PAGES, n_hosts=200,
                       rows_per_file=max(1, BENCH_PAGES // 32))
        (cache_dir / "_DONE").touch()

    work = Path(tempfile.mkdtemp(prefix="gush_bench_stream_"))
    config = GushSparkConfig(max_files_per_trigger=8)
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE))
    t0 = time.perf_counter()
    query, _sink = pages_pipeline(
        spark,
        pages_path=str(cache_dir),
        sink_path=str(work / "sink"),
        checkpoint_path=str(work / "ckpt"),
        config=config,
        available_now=True,
    )
    query.awaitTermination()
    wall = time.perf_counter() - t0
    spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
    progress = [
        (p.batchId, p.numInputRows, p.batchDuration / 1000.0)
        for p in query.recentProgress
        if p.batchDuration
    ]
    shutil.rmtree(work, ignore_errors=True)
    return {
        "pages": BENCH_PAGES,
        "wall_sec": round(wall, 3),
        "pages_per_sec": round(BENCH_PAGES / wall, 1),
        **steady_stats(progress),
        "n_batches": len(progress),
    }


def main() -> None:
    from gush_spark.session import DEFAULT_CPUS, build_session

    spark = build_session("gush_spark_bench", cores=DEFAULT_CPUS,
                          shuffle_partitions=DEFAULT_CPUS)
    timings, runs, suspect = bench_queries(spark)
    ann_index = bench_ann_index(spark)
    streaming = None if SKIP_STREAMING else bench_streaming(spark)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "timing": "min_of_2_warm_runs_after_session_warmup",
        "queries": timings,
        "query_runs": runs,
        "throttle_suspect": suspect,
        "sf": _sf_of(SF_DIR),
        "cpus": DEFAULT_CPUS,
        "ann_index": ann_index,
    }
    if streaming:
        out["streaming"] = streaming
    # the driver stores only the tail of stdout, which truncated the
    # first ~20 per-query timings in BENCH_r03 — persist the complete
    # record so round-over-round comparison survives any tail cap
    last_run = Path(_REPO) / "BENCH" / "last_run.json"
    last_run.parent.mkdir(exist_ok=True)
    last_run.write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
