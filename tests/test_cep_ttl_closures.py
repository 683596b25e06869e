"""TTL eviction as an observable event: when a host's CEP state times
out (event-time idle past watermark + ttl), session_closed summary rows
are emitted for its live urls before the state is removed."""

from __future__ import annotations

import datetime as dt

import pytest

from gush_spark.streaming.cep import cep_enrich
from gush_spark.streaming.source import PAGE_EVENTS_SCHEMA, read_page_events_stream

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _chunk(spark, path, rows):
    spark.createDataFrame(rows, PAGE_EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(path))


def _write_chunks(spark, src, chunks):
    """One bare parquet file per chunk, so maxFilesPerTrigger=1 replays
    them in order as microbatches."""
    import os
    import shutil
    import time

    src.mkdir()
    for i, rows in enumerate(chunks):
        _chunk(spark, src / f"tmp{i}", rows)
    files = sorted(src.rglob("*.parquet"))
    now = time.time()
    for i, f in enumerate(files):
        dst = src / f"part-{i}.parquet"
        shutil.copy(f, dst)
        # the file source orders new files by mtime: pin strictly
        # ascending mtimes so chunk replay order is deterministic
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(f.parent)
    return str(src)


def _run_closures(spark, events_dir, checkpoint, name):
    stream = read_page_events_stream(spark, events_dir, max_files_per_trigger=1)
    enriched = cep_enrich(
        stream, watermark_delay="10 minutes", ttl_ms=60_000, emit_closures=True
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q, spark.table(name).toPandas()


@pytest.fixture()
def events_dir(spark, tmp_path):
    h = dt.timedelta(hours=1)
    # chunk0 advances the watermark so chunk1's host can arm its TTL;
    # chunks 2-3 advance event time far past the (tiny) TTL
    chunks = [
        [(1, "http://b.example/x", "b.example", T0, "crawl", None)],
        [
            (2, "http://a.example/1", "a.example", T0 + 1 * h, "crawl", None),
            (3, "http://a.example/1", "a.example", T0 + 1 * h + dt.timedelta(seconds=30), "recrawl", None),
            (4, "http://a.example/2", "a.example", T0 + 1 * h, "crawl", None),
        ],
        [(5, "http://b.example/x", "b.example", T0 + 3 * h, "recrawl", None)],
        [(6, "http://b.example/x", "b.example", T0 + 4 * h, "recrawl", None)],
    ]
    return _write_chunks(spark, tmp_path / "events", chunks)


def test_ttl_eviction_emits_session_closures(spark, events_dir, tmp_dirs):
    _, out = _run_closures(spark, events_dir, tmp_dirs["checkpoint"], "ttl_out")
    closed = out[out["event_type"] == "session_closed"]
    # host a went idle: both its live urls get a closure record with the
    # final state snapshot
    a_closed = closed[closed["host"] == "a.example"]
    by_url = {r.url: r for r in a_closed.itertuples()}
    assert set(by_url) == {"http://a.example/1", "http://a.example/2"}
    assert by_url["http://a.example/1"].crawl_count == 2
    assert by_url["http://a.example/2"].crawl_count == 1
    assert all(r.event_id == -1 for r in a_closed.itertuples())
    assert all(r.session_id == 1 for r in a_closed.itertuples())
    # normal enrichment rows unaffected
    assert (out["event_type"] != "session_closed").sum() == 6


def test_key_seen_only_in_first_batch_times_out(spark, tmp_path):
    """Batch 0 runs with no watermark yet. A host seen only there must
    still arm its idle deadline (from its newest event time), so it
    expires once later batches move the watermark past it."""
    h = dt.timedelta(hours=1)
    chunks = [
        [(1, "http://c.example/x", "c.example", T0, "crawl", None)],
        [(2, "http://b.example/x", "b.example", T0 + 1 * h, "crawl", None)],
        [(3, "http://b.example/x", "b.example", T0 + 3 * h, "recrawl", None)],
        [(4, "http://b.example/x", "b.example", T0 + 4 * h, "recrawl", None)],
    ]
    events_dir = _write_chunks(spark, tmp_path / "events", chunks)
    q, out = _run_closures(spark, events_dir, str(tmp_path / "ckpt"), "ttl_batch0")
    closed = out[out["event_type"] == "session_closed"]
    assert sorted(closed["host"]) == ["b.example", "c.example"]
    c = closed[closed["host"] == "c.example"].iloc[0]
    crawl = out[out["event_id"] == 1].iloc[0]
    assert (c.url, c.crawl_count, c.prior_ts_us) == (crawl.url, 1, crawl.warc_ts_us)
    # both hosts expired: no state is left behind
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 0
