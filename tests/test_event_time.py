"""Event time, declared once (``operators/windows.event_time``): what the
helper does to a stream and a batch frame, and the one watermark each
stateful pipeline hands its runner — on ``warc_ts``, with the config's
delay. Pins are taken from analysis only, on unstarted streams."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from gush_spark.config import GushSparkConfig, duration_us
from gush_spark.operators.windows import event_time, event_time_column
from gush_spark.sources.fixtures import generate_page_events, generate_pages
from gush_spark.streaming import pipeline
from gush_spark.streaming.source import read_pages_batch, read_pages_stream

CFG = GushSparkConfig(window_duration="5 minutes", watermark_delay="3 minutes")


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("event_time")
    generate_pages(d / "pages", n_pages=20, n_hosts=2, seed=5, rows_per_file=20)
    generate_page_events(d / "events")
    return {"pages": str(d / "pages"), "events": str(d / "events")}


def watermarks(df) -> list[tuple[str, int]]:
    """(event-time column, delay in ms) of every ``EventTimeWatermark``
    in ``df``'s analyzed plan."""
    found, todo = [], [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "EventTimeWatermark":
            found.append((node.eventTime().name(),
                          node.delay().extractAsDuration().toMillis()))
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return found


def test_event_time_watermarks_a_stream(spark, inputs):
    stream = read_pages_stream(spark, inputs["pages"])
    assert event_time_column(stream) is None
    marked = event_time(stream, "warc_ts", "3 minutes")
    assert event_time_column(marked) == "warc_ts"
    assert watermarks(marked) == [("warc_ts", 180_000)]


def test_event_time_leaves_batch_frames_and_none_alone(spark, inputs):
    batch = read_pages_batch(spark, inputs["pages"])
    assert event_time(batch, "warc_ts", "3 minutes") is batch
    stream = read_pages_stream(spark, inputs["pages"])
    assert event_time(stream, "warc_ts", None) is stream


def test_event_time_hands_a_malformed_delay_to_spark(spark, inputs):
    stream = read_pages_stream(spark, inputs["pages"])
    with pytest.raises(AnalysisException):
        event_time(stream, "warc_ts", "3 minutos")


@pytest.mark.parametrize("name,source,want", [
    ("pages_pipeline", "pages", 1),
    ("featurize_pipeline", "pages", 1),
    ("salted_rollup_pipeline", "pages", 1),
    ("link_graph_pipeline", "pages", 1),
    ("curation_stream_pipeline", "pages", 1),
    ("cep_pipeline", "events", 1),
    ("sample_pipeline", "pages", 1),
    ("latest_state_pipeline", "events", 0),
])
def test_pipeline_event_time(spark, inputs, tmp_path, monkeypatch, name, source, want):
    """The stream each pipeline hands its runner, unstarted."""
    monkeypatch.setattr(pipeline, "_run", lambda df, sink, *args, **kwargs: (df, sink))
    stream, _sink = getattr(pipeline, name)(
        spark, inputs[source], str(tmp_path / "sink"), str(tmp_path / "ckpt"), CFG)
    assert stream.isStreaming
    delay_ms = duration_us(CFG.watermark_delay) // 1000
    assert watermarks(stream) == [("warc_ts", delay_ms)] * want
