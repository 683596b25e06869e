"""Benchmark runner for the gush_spark streaming pipelines.

    python3 perfbench/run.py --workload pages_backlog --seed 1 --seconds 18 --trace 0

Runs one workload in this process against a fresh local Spark session
(``build_session(cores=<nproc>)``, the program's own defaults), checks the
output against a reference computed from the generated input, and prints
a detail line and then the result line (see README.md). ``--trace 1``
switches on the Spark event log and spans around the sink write and the
lineage pass, and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

T0 = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import measure  # noqa: E402
from measure import median  # noqa: E402

# Both workloads are closed loops: the stream drains a pre-generated
# backlog, and takes the next files only when the batch before is done.
# The warm-up batch 0 reads as many files as any later batch (the
# pipeline's default files per trigger), which warms the JVM three times
# over before the timed part; the backlog holds more than the pipeline
# drains in --seconds on a 4-core host.
WORKLOADS = {
    "pages_backlog": {"pipeline": "pages", "warm_files": 4, "rows_per_file": 2500,
                      "backlog_rows_per_s": 8_000},
    "cep_events": {"pipeline": "cep", "warm_files": 1, "rows_per_file": 2000,
                   "backlog_rows_per_s": 1_500},
}
N_HOSTS = 200
SETUP_REPS = 3
SINK_READS = 3
HEAP_CAP_MB = 4096
PHASES = ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch",
          "commitOffsets")

E2E = {"setup_s": "s", "rows_per_s": "1/s", "batch_p50_s": "s"}
PER_LAYER = {
    "session.build_s": "s", "source.latest_offset_ms": "ms", "source.get_batch_ms": "ms",
    "source.files_per_batch": "count", "source.backlog_files": "count",
    "plan.planning_ms": "ms", "extract.rows": "count", "extract.error_rows": "count",
    "extract.stage_task_s": "s", "extract.python_s": "s",
    "extract.standalone_rows_per_s": "1/s", "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B", "shuffle.spill_bytes": "B", "shuffle.skew": "ratio",
    "state.rows_total": "count", "state.rows_updated": "count", "state.bytes": "B",
    "state.update_ms": "ms", "state.commit_ms": "ms", "state.rocksdb_sync_ms": "ms",
    "state.late_rows_dropped": "count", "cep.rules_rows_per_s": "1/s",
    "cep.python_s": "s", "cep.output_rows": "count", "sink.write_s": "s",
    "sink.commit_s": "s", "sink.files": "count", "sink.rows": "count", "sink.read_s": "s",
    "lineage.ms": "ms", "wal.commit_ms": "ms", "wal.offsets_ms": "ms",
    "batch.no_data_s": "s", "canary_ratio": "ratio",
}


def heap_mb() -> int:
    """About half of physical RAM, capped: the program's 20g default does
    not fit a small host."""
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return min(HEAP_CAP_MB, int(line.split()[1]) // 1024 // 2)
    return HEAP_CAP_MB


class Spans:
    """Spans recorded around calls into the program, keyed by batch id."""

    def __init__(self):
        self.spans: list[dict] = []

    def wrap(self, name: str, fn, batch_arg: int):
        def traced(*args):
            t = time.time()
            try:
                return fn(*args)
            finally:
                self.spans.append({"name": name, "batch": args[batch_arg], "start": t,
                                   "end": time.time()})
        return traced


class Run:
    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.pages = self.spec["pipeline"] == "pages"
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.inp = self.work / "in"
        self.trace = args.trace == 1
        self.spans = Spans()
        self.detail: dict = {"workload": args.workload, "seed": args.seed}
        self.failed = 0
        self.attempted = 0
        self.phases: dict[str, float] = {}

    def generate(self) -> None:
        import gen

        t = time.perf_counter()
        s = self.spec
        self.n_files = s["warm_files"] + math.ceil(
            self.args.seconds * s["backlog_rows_per_s"] / s["rows_per_file"])
        write = gen.write_pages if self.pages else gen.write_events
        write(self.inp, self.args.seed, self.n_files, s["rows_per_file"], N_HOSTS,
              time.time() - 100_000)
        self.detail.update(gen_s=time.perf_counter() - t, input_files=self.n_files)

    def session(self):
        from gush_spark.session import build_session

        conf = {}
        if self.trace:
            ev = self.work / "ev"
            ev.mkdir(exist_ok=True)
            conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{ev}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false"}
        return build_session("perfbench", cores=self.cores, extra_conf=conf)

    def start_query(self, spark, d: Path):
        """The pipeline as ``job.py --lineage`` runs it: a LineageListener
        attached and ``lineage_path`` set."""
        from gush_spark.streaming.metrics import LineageListener
        from gush_spark.streaming.pipeline import cep_pipeline, pages_pipeline

        spark.streams.addListener(LineageListener(d / "lineage.jsonl"))
        run = pages_pipeline if self.pages else cep_pipeline
        return run(spark, str(self.inp), str(d / "sink"), str(d / "ckpt"),
                   lineage_path=str(d / "lineage_partitions.jsonl"))

    def main(self) -> int:
        from gush_spark.session import stop_session

        self.cores = len(os.sched_getaffinity(0))
        heap = heap_mb()
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}m"
        os.environ["PYTHONPATH"] = str(ROOT) + os.pathsep + os.environ.get("PYTHONPATH", "")
        # temporary files of this process, the JVM and its workers stay in the work dir
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
        self.detail.update(heap_mb=heap, cores=self.cores)
        if self.trace:
            self.install_spans()
        self.generate()
        self.mark("generated")

        # set-up = session build + query start + warm-up batch 0, three
        # times; the first build launches the JVM. The canary's first probe
        # runs between set-ups, outside the timed part.
        setups, builds = [], []
        for rep in range(SETUP_REPS):
            t = time.time()
            spark = self.session()
            builds.append(time.time() - t)
            self.d = self.work / f"rep{rep}"
            self.query, self.sink = self.start_query(spark, self.d)
            marker = self.d / "sink" / "_commits" / "0"
            while not marker.exists():
                if self.query.exception() is not None or time.time() > t + 120:
                    print(f"warm-up batch did not commit: {self.query.exception()}",
                          file=sys.stderr)
                    return 3
                time.sleep(0.02)
            setups.append(marker.stat().st_mtime - t)
            if rep < SETUP_REPS - 1:
                self.query.stop()
                if rep == 1:
                    canary_first = measure.canary_s(spark)
                spark.stop()
        self.spark = spark
        self.detail["setup_reps_s"] = setups
        self.mark("set_up")

        # timed part: the backlog drains for --seconds after batch 0
        rss = measure.RssSampler()
        rss.start()
        while time.time() < marker.stat().st_mtime + self.args.seconds and self.query.isActive:
            time.sleep(0.05)
        peak_rss = rss.stop()
        self.query.stop()
        if self.query.exception() is not None:  # the batch that failed
            print(f"stream failed: {self.query.exception()}", file=sys.stderr)
            self.attempted += 1
            self.failed += 1

        self.mark("drained")
        e2e = self.stream_metrics()
        e2e["setup_s"] = median(setups)
        self.detail["peak_rss_mb"] = peak_rss
        ok = self.check_output()
        self.mark("checked")
        if self.trace:
            reads = [self.timed_read() for _ in range(SINK_READS)]
            standalone = self.standalone()

        canary_last = measure.canary_s(spark)
        ratio = canary_last / canary_first
        self.detail.update(canary_first_s=canary_first, canary_last_s=canary_last,
                           canary_ratio=ratio, noisy=not 1 / 1.25 <= ratio <= 1.25)
        self.mark("canary")
        app_id = spark.sparkContext.applicationId
        stop_session()  # flushes the event log
        if not ok:
            self.failed = self.attempted
        self.detail["failed_frac"] = self.failed / max(1, self.attempted)
        if self.trace:
            metrics, units = self.layer_metrics(builds, reads, app_id), PER_LAYER
            metrics.update(standalone, canary_ratio=ratio)
            self.write_trace(e2e)
        else:
            metrics, units = e2e, E2E
        self.mark("reported")
        self.detail["phases_s"] = self.phases
        print(json.dumps({"detail": self.detail}, default=float))
        print(json.dumps({
            "correct": ok, "attempted": self.attempted, "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }))
        return 0 if ok else 1

    def mark(self, phase: str) -> None:
        """Seconds from process start to the end of ``phase``."""
        self.phases[phase] = time.time() - T0

    def timed_read(self) -> float:
        """One ``IdempotentKeyedSink.read`` of the current view, counted."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            self.sink.read(self.spark).count()
        except Exception as e:  # a failed read is a failed operation
            print(f"sink read failed: {e}", file=sys.stderr)
            self.failed += 1
        return time.perf_counter() - t

    # -- end-to-end metrics ----------------------------------------------
    def stream_metrics(self) -> dict:
        self.prog = measure.progress_records(self.query)
        commits = measure.commit_times(self.d / "sink")
        self.files = measure.source_files(self.d / "ckpt")
        self.committed = sorted(commits)  # 0..N, the sink commits in order
        timed = self.committed[1:]
        self.per_batch = [p for p in self.prog if p["batchId"] in timed]
        data = [p for p in self.per_batch if p["numInputRows"] > 0]
        in_rows = sum(p["numInputRows"] for p in data)
        span = commits[timed[-1]] - commits[0] if timed else 0.0
        self.attempted += len(self.per_batch)
        if not data:  # nothing committed in --seconds counts as a failure
            self.attempted += 1
            self.failed += 1

        # a batch's rate: its input rows over the time from the commit of
        # the batch before to its own (the closed loop hands the engine the
        # next files when the batch before commits)
        rates = [p["numInputRows"] / (commits[p["batchId"]] - commits[p["batchId"] - 1])
                 for p in data]
        batch_s = [p["durationMs"]["triggerExecution"] / 1000 for p in data]
        t = measure.tail(batch_s)
        self.detail["batch_tail_s"] = (
            {"value": t[0], "percentile": t[1], "samples": t[2]} if t
            else {"value": None, "samples": len(batch_s), "why": "fewer than 11 samples"})
        self.detail.update(batch_s=batch_s, batch_rows_per_s=rates,
                           timed_batches=len(self.per_batch), data_batches=len(data),
                           timed_rows=in_rows, timed_span_s=span,
                           drain_rows_per_s=in_rows / span if span > 0 else 0.0)
        return {"rows_per_s": median(rates), "batch_p50_s": median(batch_s)}

    # -- output check ----------------------------------------------------
    def check_output(self) -> bool:
        self.consumed = [str(self.inp / f) for b in self.committed
                         for f in self.files.get(b, [])]
        got, want = self.check_pages() if self.pages else self.check_events()
        bad = measure.compare_rows(got, want)
        self.detail.update(sink_hash=measure.rows_hash(got), sink_view_rows=len(got),
                           reference_rows=len(want), mismatched_rows=bad)
        return bad == 0 and len(want) > 0

    def check_pages(self):
        """Reference: the batch twin ``windowed_host_counts(streaming=False)``
        over the on-time rows of the files the committed batches read."""
        from pyspark.sql import functions as F

        from gush_spark.streaming.pipeline import extracted_pages, windowed_host_counts
        from gush_spark.streaming.source import PAGES_SCHEMA
        import gen

        cols = ["window_start", "window_end", "host", "n_pages", "n_errors"]
        pages = self.spark.read.schema(PAGES_SCHEMA).parquet(*self.consumed)
        pages = pages.filter(F.col("warc_ts") >= gen.EPOCH0)
        want = windowed_host_counts(extracted_pages(pages), streaming=False).select(cols)
        got = self.sink.read(self.spark).select(cols)
        return [tuple(r) for r in got.collect()], [tuple(r) for r in want.collect()]

    def check_events(self):
        """Reference: the pure rule engine ``apply_rules`` per host over the
        events the watermark admits (far-behind ones are dropped)."""
        import pandas as pd
        import pyarrow.parquet as pq

        from gush_spark.streaming.cep import apply_rules
        import gen

        ev = pd.concat([pq.read_table(f).to_pandas() for f in self.consumed],
                       ignore_index=True)
        ev = ev[ev["warc_ts"] >= gen.EPOCH0].copy()
        ev["warc_ts_us"] = ev["warc_ts"].astype("datetime64[us]").astype("int64")
        self.events = ev
        want = []
        for _, g in ev.groupby("host", sort=False):
            want.extend(measure.cep_tuples(apply_rules(g, {})))
        return measure.cep_tuples(self.sink.read(self.spark).toPandas()), want

    # -- per-layer metrics (traced run) ------------------------------------
    def install_spans(self) -> None:
        from gush_spark.streaming import pipeline
        from gush_spark.streaming.sink import IdempotentKeyedSink

        # (self, batch_df, batch_id) and (batch_df, batch_id, out_path)
        IdempotentKeyedSink.write_batch = self.spans.wrap(
            "sink.write_batch", IdempotentKeyedSink.write_batch, 2)
        pipeline.partition_lineage = self.spans.wrap(
            "partition_lineage", pipeline.partition_lineage, 1)

    def standalone(self) -> dict:
        """Rows/s of the extraction UDF alone (a batch read of the files the
        stream committed, written to ``noop``) or of ``apply_rules_fast``
        alone on the per-host frames; 0 for the layer a workload lacks."""
        from gush_spark.functions.extract import with_extracted_text
        from gush_spark.streaming.cep import apply_rules_fast
        from gush_spark.streaming.source import PAGES_SCHEMA

        out = {"extract.standalone_rows_per_s": 0.0, "cep.rules_rows_per_s": 0.0}
        if self.pages:
            df = self.spark.read.schema(PAGES_SCHEMA).parquet(*self.consumed)
            n = df.count()
            t = time.perf_counter()
            with_extracted_text(df).write.format("noop").mode("overwrite").save()
            out["extract.standalone_rows_per_s"] = n / (time.perf_counter() - t)
        else:
            groups = [g for _, g in self.events.groupby("host", sort=False)]
            t = time.perf_counter()
            for g in groups:
                apply_rules_fast(g, {})
            out["cep.rules_rows_per_s"] = len(self.events) / (time.perf_counter() - t)
        return out

    def layer_metrics(self, builds, reads, app_id) -> dict:
        parsed = measure.parse_event_log(self.work / "ev" / app_id)
        stages, jobs = parsed["stages"], parsed["jobs"]
        timed = set(self.committed[1:])
        by_batch: dict[int, list[dict]] = {}
        for s in stages.values():
            if s["batch"] in timed:
                by_batch.setdefault(s["batch"], []).append(s)
        per_batch = self.per_batch
        data = [p for p in per_batch if p["numInputRows"] > 0]

        def per(fn):  # median over timed batches of a per-batch stage sum
            return median(sum(fn(s) for s in ss) for ss in by_batch.values())

        def dur(phase):
            return median(p["durationMs"].get(phase, 0) for p in data)

        def state(field, agg=median):
            return agg([sum(o.get(field, 0) for o in p["stateOperators"])
                        for p in per_batch] or [0])

        skews = [max(s["task_reads"]) / median(r for r in s["task_reads"] if r > 0)
                 for ss in by_batch.values() for s in ss if s["shuffle_read"] > 0]
        spans = [s for s in self.spans.spans if s["batch"] in timed]
        writes = [s for s in spans if s["name"] == "sink.write_batch"]
        commit_s = []  # the write span minus the Spark jobs run inside it
        for w in writes:
            inside = sum(j["end"] - j["start"] for j in jobs.values()
                         if j["batch"] == w["batch"] and "end" in j
                         and w["start"] <= j["start"] <= w["end"])
            commit_s.append(w["end"] - w["start"] - inside)
        observed = [p.get("observedMetrics", {}).get("gush_metrics", {}) for p in per_batch]
        rows = measure.commit_rows(self.d / "sink")
        backlog, consumed = [], len(self.files.get(0, []))
        for b in self.committed[1:]:
            consumed += len(self.files.get(b, []))
            backlog.append(self.n_files - consumed)
        python_s = per(lambda s: s["python_s"])
        return {
            "session.build_s": median(builds),
            "source.latest_offset_ms": dur("latestOffset"),
            "source.get_batch_ms": dur("getBatch"),
            "source.files_per_batch": median(len(self.files.get(b, [])) for b in timed),
            "source.backlog_files": median(backlog),
            "plan.planning_ms": dur("queryPlanning"),
            "extract.rows": sum(o.get("rows") or 0 for o in observed),
            "extract.error_rows": sum(o.get("error_rows") or 0 for o in observed),
            "extract.stage_task_s": per(lambda s: s["task_s"] if s["python_s"] else 0)
            if self.pages else 0.0,
            "extract.python_s": python_s if self.pages else 0.0,
            "shuffle.write_bytes": per(lambda s: s["shuffle_write"]),
            "shuffle.read_bytes": per(lambda s: s["shuffle_read"]),
            "shuffle.spill_bytes": per(lambda s: s["spill"]),
            "shuffle.skew": median(skews),
            "state.rows_total": state("numRowsTotal", max),
            "state.rows_updated": state("numRowsUpdated"),
            "state.bytes": state("memoryUsedBytes", max),
            "state.update_ms": state("allUpdatesTimeMs"),
            "state.commit_ms": state("commitTimeMs"),
            "state.rocksdb_sync_ms": median(
                sum(o.get("customMetrics", {}).get("rocksdbCommitFileSyncLatencyMs", 0)
                    for o in p["stateOperators"]) for p in per_batch),
            "state.late_rows_dropped": state("numRowsDroppedByWatermark", sum),
            "cep.python_s": 0.0 if self.pages else python_s,
            "cep.output_rows": 0 if self.pages else sum(rows[b] for b in timed),
            "sink.write_s": median(w["end"] - w["start"] for w in writes),
            "sink.commit_s": median(commit_s),
            "sink.files": sum(1 for _ in (self.d / "sink" / "data").rglob("*.parquet")),
            "sink.rows": sum(rows.values()),
            "sink.read_s": median(reads),
            "lineage.ms": 1000 * median(s["end"] - s["start"] for s in spans
                                        if s["name"] == "partition_lineage"),
            "wal.commit_ms": dur("walCommit"),
            "wal.offsets_ms": dur("commitOffsets"),
            "batch.no_data_s": median(p["durationMs"]["triggerExecution"] / 1000
                                      for p in per_batch if p["numInputRows"] == 0),
        }

    def write_trace(self, e2e: dict) -> None:
        """Spans (triggers with their durationMs phases as children, sink
        writes, lineage passes), their self times and the traced
        end-to-end metrics, to ``.perfbench_trace/``."""
        spans = list(self.spans.spans)
        for p in self.prog:
            start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            spans.append({"name": "trigger", "batch": p["batchId"], "start": start,
                          "end": start + p["durationMs"]["triggerExecution"] / 1000})
            for phase in PHASES:  # durations only: laid end to end in run order
                d = p["durationMs"].get(phase, 0) / 1000
                spans.append({"name": phase, "parent": "trigger", "batch": p["batchId"],
                              "start": start, "end": start + d})
                start += d
        self.detail["self_ms"] = self_times(spans, set(self.committed[1:]))
        self.detail["traced_e2e"] = e2e
        out = ROOT / ".perfbench_trace"
        out.mkdir(exist_ok=True)
        (out / f"{self.args.workload}-{self.args.seed}.json").write_text(
            json.dumps({"spans": spans, "detail": self.detail}, default=float))


def self_times(spans: list[dict], batches: set[int]) -> dict:
    """Median per batch of each layer's self time: its span minus the part
    its child spans cover (sink write and lineage nest in addBatch)."""
    children = {"trigger": PHASES, "addBatch": ("sink.write_batch", "partition_lineage")}
    per: dict[str, list[float]] = {}
    for b in batches:
        mine: dict[str, float] = {}
        for s in spans:
            if s["batch"] == b:
                mine[s["name"]] = mine.get(s["name"], 0.0) + s["end"] - s["start"]
        for name, total in mine.items():
            kids = sum(mine.get(c, 0.0) for c in children.get(name, ()))
            per.setdefault(name, []).append(1000 * (total - kids))
    return {k: median(v) for k, v in per.items()}


def stop_spark() -> None:
    """Stop the session and the gateway JVM, and wait until the JVM and
    every process it started (Python workers, shell-outs) has ended."""
    from pyspark import SparkContext

    from gush_spark.session import stop_session

    try:
        stop_session()
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception as e:  # the JVM and its workers are still ended below
        print(f"perfbench: stopping Spark failed: {e}", file=sys.stderr)
    procs = measure.descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    measure.reap(procs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import gush_spark.streaming.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    run = Run(args)
    try:
        return run.main()
    finally:
        stop_spark()
        shutil.rmtree(run.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
