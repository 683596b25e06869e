"""Event-sequence fixtures through the real streaming pipeline — the
port of the reference's stream-level tests (BinlogToAkkaTest.scala:25-79;
SURVEY.md §5.1.3): fixed input stream + watermark ⇒ exact output rows.
"""

import pandas as pd
import pytest

from gush_spark.config import GushSparkConfig
from gush_spark.sources.fixtures import EPOCH0, canonical_event_sequences, generate_page_events
from gush_spark.streaming.pipeline import cep_pipeline


def _us(ts_s: int) -> int:
    import calendar

    return (calendar.timegm(EPOCH0.timetuple()) + ts_s) * 1_000_000


CFG = GushSparkConfig(ignored_hosts=("ignored.example",), watermark_delay="10 minutes")


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events"
    # 5 chunks → 5 ordered microbatches under maxFilesPerTrigger=1
    generate_page_events(d, canonical_event_sequences(), n_chunks=5)
    return str(d)


def test_canonical_sequences_exact_rows(spark, events_dir, tmp_dirs):
    query, sink = cep_pipeline(
        spark, events_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, max_files_per_trigger=1,
        lineage_path=tmp_dirs["lineage"],
    )
    query.awaitTermination(120)
    out = sink.read_all_appends(spark).toPandas()
    got = {
        int(r.event_id): (r.url, r.event_type, None if pd.isna(r.prior_ts_us) else int(r.prior_ts_us),
                          int(r.crawl_count))
        for r in out.itertuples()
    }

    # event 4 (ignored.example) filtered by config blacklist (F3 analog,
    # port of BinlogToAkkaTest.scala:57-79)
    assert 4 not in got
    # event 8 is late beyond the watermark → dropped (north_rule late-data)
    assert 8 not in got
    assert set(got) == {1, 2, 3, 5, 6, 7, 9, 10}

    # u1: crawl → recrawl (same batch? chunks: [1,2],[3,4],[5,6],[7,8],[9,10])
    assert got[1] == ("https://hostA.example/u1", "crawl", None, 1)
    assert got[2] == ("https://hostA.example/u1", "recrawl", _us(5), 2)
    # recrawl in a LATER microbatch still sees prior state (stateful join)
    assert got[5] == ("https://hostA.example/u1", "recrawl", _us(20), 3)
    # u2: crawl then drop across batches; drop enriched then evicted
    assert got[3] == ("https://hostB.example/u2", "crawl", None, 1)
    assert got[7] == ("https://hostB.example/u2", "drop", _us(10), 1)
    # u3 single crawl
    assert got[6] == ("https://hostC.example/u3", "crawl", None, 1)
    # u5 two crawls far apart: second sees first (state survives)
    assert got[9] == ("https://hostE.example/u5", "crawl", None, 1)
    assert got[10] == ("https://hostE.example/u5", "crawl", _us(200), 2)


def test_lineage_written_per_batch(spark, events_dir, tmp_dirs):
    import json
    from pathlib import Path

    query, sink = cep_pipeline(
        spark, events_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, max_files_per_trigger=1,
        lineage_path=tmp_dirs["lineage"],
    )
    query.awaitTermination(120)
    recs = [json.loads(line) for line in Path(tmp_dirs["lineage"]).read_text().splitlines()]
    assert all(r["kind"] == "partition_lineage" for r in recs)
    total = sum(r["total_rows"] for r in recs)
    assert total == sink.read_all_appends(spark).count()
    assert len(recs) >= 5  # one per microbatch


def test_listener_records_state_timings(spark, events_dir, tmp_dirs, tmp_path):
    """Each state operator in the LineageListener's progress record
    carries its state-store commit, update and removal times (the
    removal time of applyInPandasWithState is its event-time-timeout
    pass) and the provider's custom metrics, among them RocksDB's
    commit file-sync latency."""
    import json
    import time

    from gush_spark.streaming.metrics import LineageListener

    out = tmp_path / "progress.jsonl"
    listener = LineageListener(out)
    spark.streams.addListener(listener)
    try:
        query, _sink = cep_pipeline(
            spark, events_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
            config=CFG, available_now=True, max_files_per_trigger=1,
        )
        query.awaitTermination(120)
        recs: list = []
        for _ in range(100):  # listener callbacks are async
            recs = [json.loads(line) for line in out.read_text().splitlines()]
            if any(r["kind"] == "terminated" for r in recs):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    ops = [s for r in recs if r["kind"] == "progress" for s in r["state_operators"]]
    assert len(ops) >= 5  # one per microbatch
    for s in ops:
        for key in ("commit_time_ms", "all_updates_time_ms", "all_removals_time_ms"):
            assert isinstance(s[key], int) and s[key] >= 0, (key, s)
        sync = s["custom_metrics"]["rocksdbCommitFileSyncLatencyMs"]
        assert isinstance(sync, int) and sync >= 0, s


def test_soak_tool_reads_listener_state_series(spark, events_dir, tmp_dirs):
    """tools/soak_state.py takes its per-batch state series from the
    LineageListener's JSONL records; pin that path on a small stateful
    stream."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "tools" / "soak_state.py"
    spec = importlib.util.spec_from_file_location("soak_state", path)
    soak = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(soak)

    def start():
        query, _sink = cep_pipeline(
            spark, events_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
            config=CFG, available_now=True, max_files_per_trigger=1,
        )
        return query

    series = soak._run_with_listener(spark, start)
    with_input = [r for r in series if r["rows_in"] > 0]
    assert len(with_input) >= 5  # one per input file
    assert sum(r["rows_in"] for r in with_input) == 10
    assert all(r["state_rows"] >= 0 and r["state_bytes"] > 0 for r in series)


def test_batch_frame_equals_rule_spec_per_host(spark, events_dir):
    """On a batch frame ``cep_enrich`` runs the keyed-state runner's
    twin: each host is stepped once, on fresh state, over all its
    events. That must equal the pure ``apply_rules`` spec per host."""
    from pyspark.sql import functions as F

    from gush_spark.streaming.cep import CEP_OUTPUT_SCHEMA, apply_rules, cep_enrich
    from gush_spark.streaming.source import read_page_events_batch

    ev = read_page_events_batch(spark, events_dir)
    got = cep_enrich(ev).toPandas()
    pdf = ev.select(
        "host", "event_id", "url",
        F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("warc_ts_us"),
        "event_type",
    ).toPandas()

    def norm(df):
        cols = [f.name for f in CEP_OUTPUT_SCHEMA.fields]
        ints = {c: "int64" for c in ("event_id", "warc_ts_us", "crawl_count", "session_id")}
        return df[cols].astype({**ints, "prior_ts_us": "Int64"})

    want = pd.concat([norm(apply_rules(g, {})) for _, g in pdf.groupby("host")])
    assert len(got) == len(want) == len(canonical_event_sequences())
    pd.testing.assert_frame_equal(
        norm(got).sort_values("event_id").reset_index(drop=True),
        want.sort_values("event_id").reset_index(drop=True),
    )
