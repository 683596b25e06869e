"""Streaming link-graph pipeline: the windowed host→host edge counts
from the stream must equal the batch computation on the same pages, and
a kill/resume run must produce identical sink rows (exactly-once).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gush_spark.config import GushSparkConfig
from gush_spark.sources.fixtures import EPOCH0, PAGES_ARROW_SCHEMA
from gush_spark.streaming.pipeline import link_graph_pipeline, windowed_link_edges
from gush_spark.streaming.source import read_pages_batch

CFG = GushSparkConfig(watermark_delay="4 hours", max_files_per_trigger=2)

HOSTS = [f"h{i}.example" for i in range(6)]


def _page(i: int) -> dict:
    host = HOSTS[i % len(HOSTS)]
    # deterministic anchors: two absolute links to the next two hosts
    # (with folding noise), one relative link, one junk link
    t1, t2 = HOSTS[(i + 1) % len(HOSTS)], HOSTS[(i + 2) % len(HOSTS)]
    html = (
        "<html><body>"
        f'<A HREF="http://WWW.{t1}:80/x{i}">one</A>'
        f'<a href="//{t2}/y">two</a>'
        '<a href="/self">self</a>'
        '<a href="mailto:a@b.example">junk</a>'
        f"<p>page {i}</p></body></html>"
    ).encode()
    return {
        "url": f"https://{host}/p/{i}",
        "warc_ts": EPOCH0 + dt.timedelta(seconds=i * 120),
        "html": html,
        "text": f"page {i}",
        "lang": "en",
        "case": "links",
    }


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("link_pages")
    rows = [_page(i) for i in range(240)]
    for f in range(6):  # 6 files → multiple microbatches at 2/trigger
        tbl = pa.Table.from_pandas(
            pd.DataFrame(rows[f * 40 : (f + 1) * 40]),
            schema=PAGES_ARROW_SCHEMA,
            preserve_index=False,
        )
        pq.write_table(tbl, d / f"part-{f:05d}.parquet")
    return str(d)


def _expected(spark, pages_dir):
    return windowed_link_edges(read_pages_batch(spark, pages_dir), CFG).toPandas()


def test_stream_equals_batch(spark, pages_dir, tmp_dirs):
    query, sink = link_graph_pipeline(
        spark, pages_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, lineage_path=tmp_dirs["lineage"],
    )
    query.awaitTermination(180)
    got = sink.read(spark).toPandas()
    exp = _expected(spark, pages_dir)

    key = ["window_start", "src_host", "dst_host"]
    cols = key + ["n_links"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[cols],
        exp.sort_values(key).reset_index(drop=True)[cols],
        check_dtype=False,
    )
    # every page contributes 3 edges (junk dropped): 240 * 3
    assert int(got.n_links.sum()) == 720
    # the relative link resolves to the source host (self-edges exist)
    self_edges = got[got.src_host == got.dst_host]
    assert int(self_edges.n_links.sum()) == 240


def test_kill_resume_exactly_once(spark, pages_dir, tmp_dirs):
    one_file = GushSparkConfig(watermark_delay="4 hours", max_files_per_trigger=1)
    sink_path = tmp_dirs["sink"] + "_kr"
    ckpt = tmp_dirs["checkpoint"] + "_kr"

    # run 1: stop after the first progress (mid-stream kill)
    query, sink = link_graph_pipeline(
        spark, pages_dir, sink_path, ckpt, config=one_file, available_now=True
    )
    while not query.recentProgress:
        query.awaitTermination(1)
    query.stop()
    query.awaitTermination(60)

    # run 2: resume from checkpoint to completion
    query, sink = link_graph_pipeline(
        spark, pages_dir, sink_path, ckpt, config=one_file, available_now=True
    )
    query.awaitTermination(180)

    got = sink.read(spark).toPandas()
    exp = _expected(spark, pages_dir)
    key = ["window_start", "src_host", "dst_host"]
    cols = key + ["n_links"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[cols],
        exp.sort_values(key).reset_index(drop=True)[cols],
        check_dtype=False,
    )
