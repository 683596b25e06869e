"""The output columns of every windowed operator, names and order.

The stream≡batch tests compare an operator with itself, so they cannot
see a column move; a sink, a catalog oracle or a read-time finalize
that selects by position would. These pins are taken from analysis
only (``DataFrame.columns``), on small batch frames and on unstarted
streams."""

from __future__ import annotations

from datetime import datetime
from types import SimpleNamespace

import pytest

from gush_spark import queries, queries_pipeline
from gush_spark.operators import trending, windows
from gush_spark.sources.fixtures import generate_pages
from gush_spark.streaming import pipeline, sampling
from gush_spark.streaming.source import read_pages_batch

WINDOW = ["window_start", "window_end"]
KW = dict(ts_col="warc_ts", window_duration="5 minutes", watermark_delay="1 minute")
TEXT = dict(KW, text_col="extracted_text")


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("window_columns_pages")
    generate_pages(d, n_pages=20, n_hosts=2, seed=5, rows_per_file=20)
    return str(d)


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    """A two-row ``events`` table in the catalog's schema."""
    d = tmp_path_factory.mktemp("window_columns_sf")
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 1), 7, "click", 1.5, '{"k": 3}'),
         (2, datetime(2024, 1, 1, 0, 9), 7, "view", 2.5, '{"k": 4}')],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def frames(spark, pages_dir, sf_dir):
    raw = read_pages_batch(spark, pages_dir)
    return SimpleNamespace(spark=spark, sf_dir=sf_dir, raw=raw,
                           pages=pipeline.extracted_pages(raw),
                           events=queries.load(spark, sf_dir, "events"))


OPERATORS = {
    "windowed_count": (
        lambda f: windows.windowed_count(f.events, "ts", "10 minutes", "event_type"),
        [*WINDOW, "event_type", "n_events"]),
    "windowed_count_sliding": (
        lambda f: windows.windowed_count(f.events, "ts", "10 minutes", "event_type",
                                         slide="5 minutes"),
        [*WINDOW, "event_type", "n_events"]),
    "session_count": (
        lambda f: windows.session_count(f.events, "ts", "30 minutes", "user_id"),
        [*WINDOW, "user_id", "n_events"]),
    "windowed_host_counts": (
        lambda f: pipeline.windowed_host_counts(f.pages),
        [*WINDOW, "host", "n_pages", "n_errors"]),
    "windowed_link_edges": (
        lambda f: pipeline.windowed_link_edges(f.raw),
        [*WINDOW, "src_host", "dst_host", "n_links"]),
    "windowed_term_counts": (
        lambda f: trending.windowed_term_counts(f.pages, **TEXT),
        ["window_start", "term", "n"]),
    "windowed_term_counts_unhashed": (
        lambda f: trending.windowed_term_counts(f.pages, hash_terms=False, **TEXT),
        ["window_start", "term", "n"]),
    "windowed_priority_rows": (
        lambda f: sampling.windowed_priority_rows(f.raw),
        ["warc_ts", "window_start_us", "window_end_ms", "shard", "url", "weight",
         "priority"]),
    "q_field_projection_avg": (
        lambda f: queries.q_field_projection_avg(f.spark, f.sf_dir),
        ["window_start_s", "event_type", "avg_k", "n_events"]),
    "q_tumbling_window_avg": (
        lambda f: queries.q_tumbling_window_avg(f.spark, f.sf_dir),
        ["window_start_s", "event_type", "avg_value", "n_events"]),
    "q_tumbling_window_count": (
        lambda f: queries.q_tumbling_window_count(f.spark, f.sf_dir),
        ["window_start_s", "event_type", "n_events"]),
    "q_sliding_window_count": (
        lambda f: queries.q_sliding_window_count(f.spark, f.sf_dir),
        ["window_start_s", "event_type", "n_events"]),
    "q_session_window_count": (
        lambda f: queries.q_session_window_count(f.spark, f.sf_dir),
        ["user_id", "session_start_us", "session_end_us", "n_events"]),
    "q_host_volume_anomalies": (
        lambda f: queries_pipeline.q_host_volume_anomalies(f.spark, f.sf_dir),
        ["user_id", "window_start", "n", "hist_windows", "base_n", "spike_ratio",
         "is_anomaly"]),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_windowed_operator_columns(frames, name):
    build, want = OPERATORS[name]
    assert build(frames).columns == want


@pytest.mark.parametrize("name,want", [
    ("pages_pipeline", [*WINDOW, "host", "n_pages", "n_errors"]),
    ("featurize_pipeline", [*WINDOW, "host", "n_pages", "n_errors", "avg_quality",
                            "min_fp60", "mh0_sum"]),
    ("salted_rollup_pipeline", [*WINDOW, "host", "salt", "n_pages", "n_errors"]),
    ("link_graph_pipeline", [*WINDOW, "src_host", "dst_host", "n_links"]),
])
def test_windowed_pipeline_columns(spark, pages_dir, tmp_path, monkeypatch, name, want):
    """The stream each windowed pipeline hands its runner, unstarted."""
    monkeypatch.setattr(pipeline, "_run", lambda df, sink, *args, **kwargs: (df, sink))
    stream, _sink = getattr(pipeline, name)(
        spark, pages_dir, str(tmp_path / "sink"), str(tmp_path / "ckpt"))
    assert stream.isStreaming
    assert stream.columns == want
