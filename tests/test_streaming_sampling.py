"""Streaming windowed priority sample (streaming/sampling.py): min-k
over a deterministic priority is associative, so the streamed sample
after finalize must EQUAL the batch twin row for row under real
microbatch boundaries."""

import datetime as dt
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gush_spark.sources.fixtures import PAGES_ARROW_SCHEMA
from gush_spark.streaming.sampling import (
    finalize_window_sample,
    windowed_priority_sample,
)
from gush_spark.streaming.source import read_pages_batch, read_pages_stream

EPOCH = dt.datetime(2024, 3, 1)
K, SHARDS = 8, 4
KW = dict(
    ts_col="warc_ts",
    url_col="url",
    weight_expr="length(text)",
    window_duration="5 minutes",
    watermark_delay="1 minute",
)


def _window_rows(widx: int):
    base = EPOCH + dt.timedelta(minutes=5 * widx)
    rows = []
    for i in range(120):
        # varying lengths -> varying weights; urls unique per window
        rows.append(
            (
                f"https://h.example/p/{widx}-{i}",
                base + dt.timedelta(seconds=i),
                "w" * (20 + (i * 7) % 180),
            )
        )
    return rows


def _write(d, rows, fname, mtime):
    pdf = pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "warc_ts": [r[1] for r in rows],
            "html": [None] * len(rows),
            "text": [r[2] for r in rows],
            "lang": ["en"] * len(rows),
            "case": ["plain"] * len(rows),
        }
    )
    p = os.path.join(d, fname)
    pq.write_table(
        pa.Table.from_pandas(
            pdf, schema=PAGES_ARROW_SCHEMA, preserve_index=False
        ),
        p,
    )
    os.utime(p, (mtime, mtime))


@pytest.fixture(scope="module")
def sample_pages_dir(tmp_path_factory):
    """2 content windows, each split across 2 files (real microbatch
    boundaries so the min-k state round-trips mid-window), plus a
    flush file that drives the watermark past both windows."""
    d = str(tmp_path_factory.mktemp("pages_sample"))
    t = 1_700_000_000
    for widx in range(2):
        rows = _window_rows(widx)
        _write(d, rows[:60], f"part-{2 * widx:05d}.parquet", t)
        _write(d, rows[60:], f"part-{2 * widx + 1:05d}.parquet", t + 1)
        t += 2
    flush = [
        (
            f"https://h.example/p/flush-{i}",
            EPOCH + dt.timedelta(minutes=30, seconds=i),
            "flush pad",
        )
        for i in range(3)
    ]
    _write(d, flush, "part-00004.parquet", t)
    return d


def test_stream_sample_equals_batch_twin(spark, sample_pages_dir, tmp_dirs):
    cands = windowed_priority_sample(
        read_pages_stream(spark, sample_pages_dir, max_files_per_trigger=1),
        k=K,
        shards=SHARDS,
        **KW,
    )
    q = (
        cands.writeStream.format("parquet")
        .option("path", tmp_dirs["sink"])
        .option("checkpointLocation", tmp_dirs["checkpoint"])
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(180)
    streamed = spark.read.parquet(tmp_dirs["sink"])

    # bounded emission: <= K candidates per (window, shard)
    per_shard = (
        streamed.groupBy("window_start_us", "shard").count().toPandas()
    )
    assert (per_shard["count"] <= K).all()

    final = (
        finalize_window_sample(streamed, k=K)
        .toPandas()
        .sort_values(["window_start_us", "rank"])
        .reset_index(drop=True)
    )
    # batch twin over the SAME rows, restricted to the closed windows
    closed = set(final.window_start_us)
    batch = finalize_window_sample(
        windowed_priority_sample(
            read_pages_batch(spark, sample_pages_dir), k=K, shards=SHARDS, **KW
        ),
        k=K,
    ).toPandas()
    batch = (
        batch[batch.window_start_us.isin(closed)]
        .sort_values(["window_start_us", "rank"])
        .reset_index(drop=True)
    )
    assert len(closed) == 2
    pd.testing.assert_frame_equal(final, batch)

    # length bias sanity: the sampled mean weight exceeds the corpus
    # mean (priority = u div weight favors heavy pages)
    corpus_mean = (
        read_pages_batch(spark, sample_pages_dir)
        .filter(~F.col("url").contains("flush"))
        .select(F.avg(F.length("text")))
        .first()[0]
    )
    assert final.weight.mean() > corpus_mean


def test_shard_invariance(spark, sample_pages_dir):
    """The finalized sample must not depend on the shard count (min-k
    distributes over any sharding)."""
    outs = []
    for shards in (1, 4):
        f = finalize_window_sample(
            windowed_priority_sample(
                read_pages_batch(spark, sample_pages_dir),
                k=K,
                shards=shards,
                **KW,
            ),
            k=K,
        ).toPandas()
        outs.append(
            f.sort_values(["window_start_us", "rank"]).reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(outs[0], outs[1])


def test_sample_pipeline_end_to_end(spark, sample_pages_dir, tmp_dirs):
    """job.py-level pipeline: exactly-once keyed sink carries the shard
    candidates; finalize over the sink equals the batch twin."""
    import dataclasses

    from gush_spark.config import GushSparkConfig
    from gush_spark.streaming.pipeline import sample_pipeline

    cfg = GushSparkConfig(
        window_duration="5 minutes", watermark_delay="1 minute"
    )
    cfg = dataclasses.replace(cfg, max_files_per_trigger=1)
    q, sink = sample_pipeline(
        spark,
        sample_pages_dir,
        sink_path=tmp_dirs["sink"],
        checkpoint_path=tmp_dirs["checkpoint"],
        config=cfg,
        available_now=True,
        sample_k=K,
        sample_shards=SHARDS,
    )
    q.awaitTermination(180)
    final = (
        finalize_window_sample(sink.read(spark), k=K)
        .toPandas()
        .sort_values(["window_start_us", "rank"])
        .reset_index(drop=True)
    )
    batch = finalize_window_sample(
        windowed_priority_sample(
            read_pages_batch(spark, sample_pages_dir), k=K, shards=SHARDS, **KW
        ),
        k=K,
    ).toPandas()
    batch = (
        batch[batch.window_start_us.isin(set(final.window_start_us))]
        .sort_values(["window_start_us", "rank"])
        .reset_index(drop=True)
    )
    assert len(set(final.window_start_us)) == 2
    pd.testing.assert_frame_equal(final, batch)


def test_job_cli_sample_flag_validation():
    from gush_spark.job import main

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main([
            "--pipeline", "pages", "--sample-k", "8",
            "--input", "/tmp/x", "--sink", "/tmp/y",
            "--checkpoint", "/tmp/z",
        ])


def test_merge_keeps_same_copy_in_any_arrival_order():
    """A url recrawled at another weight in the same window has two
    priorities; the merge must keep the same copy whichever arrives
    first, in one batch or across two."""
    from gush_spark.streaming.sampling import _merge_topk

    def rows(*copies):
        return pd.DataFrame(
            {
                "url": [u for u, _ in copies],
                "weight": [w for _, w in copies],
                "priority": [(1 << 40) // w for _, w in copies],
            }
        )

    light, heavy = ("https://h.example/a", 10), ("https://h.example/a", 1000)
    other = ("https://h.example/b", 50)
    empty = ([], [], [])
    outs = [
        _merge_topk(rows(light, heavy, other), empty, K),
        _merge_topk(rows(heavy, light, other), empty, K),
        _merge_topk(rows(heavy), _merge_topk(rows(light, other), empty, K), K),
        _merge_topk(rows(light), _merge_topk(rows(heavy, other), empty, K), K),
    ]
    assert all(out == outs[0] for out in outs)
    # the heavier copy has the lower priority, so it is the one kept
    assert outs[0][0].count("https://h.example/a") == 1
    assert outs[0][1][outs[0][0].index("https://h.example/a")] == 1000
