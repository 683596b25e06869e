#!/usr/bin/env python
"""Stateful-stream soak (VERDICT r4 item #3): run the two flagship
stateful streams over 60+ microbatches of sustained, skewed, CHURNING
input and record the state-store size series — stateOperators
numRowsTotal / memoryUsedBytes per batch, captured by our own
LineageListener (streaming/metrics.py, the S2 lifecycle component) —
then assert the plateau.

The claim under test is the 100 TB one: keyed state is bounded behind
the late-data horizon, so a stream that runs for a month holds the same
state a stream that ran for an hour holds — it does NOT grow with
stream length. The per-rule pruning is already test-pinned batch-by-
batch; this soak measures the whole stack (watermark advance → RocksDB
eviction → listener accounting) over a long run, the way the scaling
evidence measures throughput.

Soaked jobs:

1. ``curation`` — the streaming curation pipeline's exact-dedup state
   (``dropDuplicatesWithinWatermark`` on content fingerprint behind a
   10-minute watermark). Input: 60 files x 2,000 pages, event time
   advancing 2 s/page (each microbatch ~67 min of event time), ~3% late
   rows 30-120 min behind (watermark-drop fodder), ~every page distinct
   content. Unbounded behavior would be ~120k state rows (one per
   distinct fingerprint ever seen); bounded behavior is the ~10-minute
   horizon (~300 fingerprints).

2. ``politeness`` — the crawl-politeness CEP gate
   (``applyInPandasWithState`` keyed by host, per-(host, window) quota
   counters pruned behind the retention horizon, idle hosts TTL-evicted
   20 min past the watermark). Input: 64 files x 4,000 events over a
   Zipf-skewed 300-host base population PLUS 50 fresh single-file
   ephemeral hosts per file (host churn — the crawl frontier always
   discovers new hosts). Unbounded behavior would be ~3,500 state rows
   (one per host ever seen, growing forever); bounded behavior is the
   base population plus ~2-3 files of ephemeral hosts.

Plateau assertion (per job, over input-carrying batches): split the
series into thirds; max(numRowsTotal) over the LAST third must be
within 1.25x of the MIDDLE third's max (no late-run growth), the final
batch must sit within 1.10x of the middle max, and the peak must stay
under 40% of the unbounded counterfactual (distinct keys ever seen).
Watermark drops must be observed (> 0) so the horizon is known to be
exercised. Exit 1 on any violation.

Writes BENCH/soak.json (full per-batch series + summary) and prints the
markdown summary for BENCH/BASELINE.md.

Usage: python tools/soak_state.py [out_json]
"""

from __future__ import annotations

import datetime as dt
import json
import random
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

EPOCH0 = dt.datetime(2024, 3, 1, 0, 0, 0)

# -- politeness soak input shape -------------------------------------------
EV_FILES = 64
EV_PER_FILE = 4_000
EV_DT_US = 125_000            # 8 events/s -> each file spans 500 s
BASE_HOSTS = 300              # Zipf-skewed persistent population
EPH_PER_FILE = 50             # fresh hosts that appear in ONE file only
EPH_FRAC = 0.10               # share of a file's events on ephemeral hosts
LATE_FRAC = 0.03              # 5-30 min behind -> beyond the 2-min watermark
POLITENESS_TTL_MS = 1_200_000  # idle hosts evicted 20 min past watermark

# -- curation soak input shape ---------------------------------------------
PAGE_FILES = 60
PAGES_PER_FILE = 2_000


def gen_events(out_dir: Path) -> None:
    """Deterministic churning event stream (see module docstring)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gush_spark.sources.fixtures import PAGE_EVENTS_ARROW_SCHEMA

    rng = random.Random(7)
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    eid = 0
    for f in range(EV_FILES):
        rows = []
        file_t0_us = f * EV_PER_FILE * EV_DT_US
        for i in range(EV_PER_FILE):
            ts_us = file_t0_us + i * EV_DT_US
            if rng.random() < LATE_FRAC:
                ts_us -= rng.randint(300, 1800) * 1_000_000
                ts_us = max(ts_us, 0)
            if rng.random() < EPH_FRAC:
                host = f"eph{f:03d}-{rng.randrange(EPH_PER_FILE):02d}.example"
            else:
                hid = min(int(rng.paretovariate(1.2)), BASE_HOSTS) - 1
                host = f"host{hid:04d}.example"
            rows.append(
                {
                    "event_id": eid,
                    "url": f"https://{host}/p/{eid}",
                    "host": host,
                    "warc_ts": EPOCH0 + dt.timedelta(microseconds=ts_us),
                    "event_type": "crawl" if eid % 3 else "recrawl",
                    "fields": [("fetch_ms", str(rng.randint(10, 900)))],
                }
            )
            eid += 1
        tbl = pa.Table.from_pandas(
            pd.DataFrame(rows), schema=PAGE_EVENTS_ARROW_SCHEMA,
            preserve_index=False,
        )
        pq.write_table(tbl, out_dir / f"part-{f:05d}.parquet")


def _records(lineage: Path) -> list[dict]:
    """The lineage listener's complete JSONL records written so far (a
    line still being appended has no newline yet and is left out)."""
    if not lineage.exists():
        return []
    return [json.loads(line) for line in lineage.read_text().split("\n")[:-1]]


def _series(records: list[dict]) -> list[dict]:
    """Per-batch state series from the lineage listener's records."""
    out = []
    for p in records:
        if p.get("kind") != "progress" or not p.get("state_operators"):
            continue
        s = p["state_operators"][0]
        out.append(
            {
                "batch": p["batch_id"],
                "rows_in": p["num_input_rows"],
                "state_rows": s["num_rows_total"],
                "state_bytes": s["memory_used_bytes"],
                "dropped_late": s["num_rows_dropped_by_watermark"],
            }
        )
    return out


def _assess(name: str, series: list[dict], unbounded_keys: int) -> dict:
    inp = [r for r in series if r["rows_in"] > 0]
    third = max(1, len(inp) // 3)
    mid = max(r["state_rows"] for r in inp[third: 2 * third])
    last = max(r["state_rows"] for r in inp[2 * third:])
    final = inp[-1]["state_rows"]
    peak = max(r["state_rows"] for r in inp)
    drops = sum(r["dropped_late"] for r in inp)
    checks = {
        "enough_batches": len(inp) >= 50,
        "no_late_run_growth": last <= mid * 1.25,
        "final_at_plateau": final <= mid * 1.10,
        "far_below_unbounded": peak <= 0.40 * unbounded_keys,
        "watermark_exercised": drops > 0,
    }
    rep = {
        "job": name,
        "batches_with_input": len(inp),
        "rows_in_total": sum(r["rows_in"] for r in inp),
        "state_rows": {
            "peak": peak, "middle_third_max": mid,
            "last_third_max": last, "final": final,
        },
        "state_bytes_final": inp[-1]["state_bytes"],
        "state_bytes_peak": max(r["state_bytes"] for r in inp),
        "dropped_by_watermark": drops,
        "unbounded_counterfactual_keys": unbounded_keys,
        "checks": checks,
        "pass": all(checks.values()),
        "series": series,
    }
    flag = "PASS" if rep["pass"] else "FAIL"
    print(
        f"[{flag}] {name}: {len(inp)} batches, "
        f"{rep['rows_in_total']} rows in, state rows peak {peak} "
        f"(mid-third max {mid}, last-third max {last}, final {final}) "
        f"vs unbounded {unbounded_keys}; "
        f"{drops} late rows dropped; "
        f"state bytes final {inp[-1]['state_bytes']}",
        flush=True,
    )
    return rep


def _run_with_listener(spark, start_fn) -> list[dict]:
    from gush_spark.streaming.metrics import LineageListener

    lineage = Path(tempfile.mkdtemp(prefix="soak_lineage_")) / "lineage.jsonl"
    listener = LineageListener(lineage)
    spark.streams.addListener(listener)
    try:
        q = start_fn()
        q.awaitTermination()
        # listener callbacks are async; wait for the terminated record
        for _ in range(100):
            if any(p.get("kind") == "terminated" for p in _records(lineage)):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    series = _series(_records(lineage))
    shutil.rmtree(lineage.parent, ignore_errors=True)
    return series


def soak_curation(spark, work: Path) -> dict:
    from pyspark.sql import functions as F

    from gush_spark.config import GushSparkConfig
    from gush_spark.sources.fixtures import generate_pages
    from gush_spark.streaming.pipeline import curation_stream_pipeline

    pages = work / "pages"
    if not (pages / "_DONE").exists():
        shutil.rmtree(pages, ignore_errors=True)
        generate_pages(
            pages, n_pages=PAGE_FILES * PAGES_PER_FILE, n_hosts=500,
            rows_per_file=PAGES_PER_FILE,
        )
        (pages / "_DONE").touch()
    cfg = GushSparkConfig(max_files_per_trigger=1)  # one file per microbatch

    def start():
        q, _sink = curation_stream_pipeline(
            spark,
            str(pages),
            str(work / "cur_sink"),
            str(work / "cur_ckpt"),
            config=cfg,
        )
        return q

    series = _run_with_listener(spark, start)
    distinct = (
        spark.read.parquet(str(pages))
        .select(F.md5(F.col("text").cast("binary")))
        .distinct()
        .count()
    )
    return _assess("curation_dedup", series, unbounded_keys=distinct)


def soak_politeness(spark, work: Path) -> dict:
    from gush_spark.streaming.cep import (
        POLITENESS_SCHEMA,
        cep_enrich,
        make_politeness_rule,
    )
    from gush_spark.streaming.source import read_page_events_stream

    events = work / "events"
    gen_events(events)

    def start():
        stream = read_page_events_stream(
            spark, str(events), max_files_per_trigger=1
        )
        gated = cep_enrich(
            stream,
            watermark_delay="2 minutes",  # <= retention (3 x 1-min windows)
            rule=make_politeness_rule(quota=5),
            output_schema=POLITENESS_SCHEMA,
            ttl_ms=POLITENESS_TTL_MS,
        )
        return (
            gated.writeStream.format("parquet")
            .option("path", str(work / "pol_sink"))
            .option("checkpointLocation", str(work / "pol_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    series = _run_with_listener(spark, start)
    hosts_ever = BASE_HOSTS + EV_FILES * EPH_PER_FILE
    return _assess("politeness_cep", series, unbounded_keys=hosts_ever)


def main() -> None:
    out_json = Path(sys.argv[1]) if len(sys.argv) > 1 else REPO / "BENCH" / "soak.json"
    from gush_spark.session import build_session

    work = Path(tempfile.gettempdir()) / "gush_soak"
    work.mkdir(parents=True, exist_ok=True)
    for sub in ("cur_sink", "cur_ckpt", "pol_sink", "pol_ckpt"):
        shutil.rmtree(work / sub, ignore_errors=True)
    spark = build_session("soak_state", cores=8, shuffle_partitions=4)
    t0 = time.perf_counter()
    reports = [soak_curation(spark, work), soak_politeness(spark, work)]
    wall = round(time.perf_counter() - t0, 1)
    out_json.write_text(json.dumps(
        {"wall_s": wall, "jobs": reports}, indent=1, default=str))
    print(f"\nwall {wall}s -> {out_json}")

    print("\n| job | batches | rows in | state rows mid/last/final | "
          "unbounded keys | late drops | state bytes (final) |")
    print("|---|---|---|---|---|---|---|")
    for r in reports:
        sr = r["state_rows"]
        print(
            f"| {r['job']} | {r['batches_with_input']} "
            f"| {r['rows_in_total']} "
            f"| {sr['middle_third_max']} / {sr['last_third_max']} / {sr['final']} "
            f"| {r['unbounded_counterfactual_keys']} "
            f"| {r['dropped_by_watermark']} "
            f"| {r['state_bytes_final']} |"
        )
    spark.stop()
    sys.exit(0 if all(r["pass"] for r in reports) else 1)


if __name__ == "__main__":
    main()
