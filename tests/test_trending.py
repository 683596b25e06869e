"""Trending terms: stream ≡ batch windowed counts (exact, on non-late
rows), top-k composition, and the WindowGroupLimit plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gush_spark.operators.trending import top_terms_per_window, windowed_term_counts
from gush_spark.sources.fixtures import generate_pages
from gush_spark.streaming.source import read_pages_batch, read_pages_stream


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_trend")
    generate_pages(d, n_pages=600, n_hosts=40, seed=31, rows_per_file=150)
    return str(d)


def _drop_late(df):
    # remove the fixture's ~3% deliberately-late rows (page i is
    # scheduled at 2i s after the epoch) so exact stream≡batch equality
    # is defined
    i = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    sched = F.timestamp_seconds(
        F.unix_timestamp(F.to_timestamp(F.lit("2024-03-01 00:00:00"))) + i * 2
    )
    return df.where(F.col("warc_ts") >= sched)


def _kwargs():
    return dict(
        ts_col="warc_ts",
        text_col="text",
        window_duration="5 minutes",
        watermark_delay="2 minutes",
    )


def test_stream_counts_equal_batch(spark, pages_dir, tmp_dirs):
    stream = windowed_term_counts(
        _drop_late(read_pages_stream(spark, pages_dir, max_files_per_trigger=2)),
        **_kwargs(),
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", tmp_dirs["sink"])
        .option("checkpointLocation", tmp_dirs["checkpoint"])
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(180)

    got = (
        spark.read.parquet(tmp_dirs["sink"])
        .toPandas()
        .sort_values(["window_start", "term"])
        .reset_index(drop=True)
    )
    # append mode emits a window only once the watermark passes its
    # end: the batch reference is restricted to watermark-CLOSED
    # windows (the final open window legitimately never emits on a
    # finite replay — a live stream's watermark keeps advancing)
    batch = _drop_late(read_pages_batch(spark, pages_dir))
    import datetime as dt

    wm = batch.agg(F.max("warc_ts")).collect()[0][0] - dt.timedelta(minutes=2)
    exp_all = windowed_term_counts(batch, **_kwargs())
    exp = (
        exp_all.where(F.col("window_start") + F.expr("INTERVAL 5 MINUTES") <= F.lit(wm))
        .toPandas()
        .sort_values(["window_start", "term"])
        .reset_index(drop=True)
    )
    assert not got.empty
    assert got["window_start"].nunique() >= 3  # most of the span closed
    assert got[["window_start", "term", "n"]].equals(exp[["window_start", "term", "n"]])

    # top-k over the emitted counts == top-k over the batch counts
    # (same closed-window restriction)
    topg = top_terms_per_window(spark.read.parquet(tmp_dirs["sink"]), 3).toPandas()
    tope = top_terms_per_window(
        exp_all.where(
            F.col("window_start") + F.expr("INTERVAL 5 MINUTES") <= F.lit(wm)
        ),
        3,
    ).toPandas()
    key = ["window_start", "rnk"]
    assert (
        topg.sort_values(key).reset_index(drop=True)[["window_start", "term", "n", "rnk"]]
        .equals(tope.sort_values(key).reset_index(drop=True)[["window_start", "term", "n", "rnk"]])
    )


def test_hashed_and_plain_term_counts_agree(spark, pages_dir):
    batch = _drop_late(read_pages_batch(spark, pages_dir))
    a = windowed_term_counts(batch, hash_terms=True, **_kwargs()).toPandas()
    b = windowed_term_counts(batch, hash_terms=False, **_kwargs()).toPandas()
    key = ["window_start", "term"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )


def test_topk_compiles_to_window_group_limit(spark, pages_dir):
    batch = _drop_late(read_pages_batch(spark, pages_dir))
    plan = (
        top_terms_per_window(windowed_term_counts(batch, **_kwargs()), 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_trending_through_exactly_once_sink_resume(spark, tmp_path):
    """Trending term counts composed with the north-rule sink:
    (window_start, term, n) rows written through IdempotentKeyedSink
    keyed by (window_start, term); an interrupted run resumed from its
    checkpoint reproduces the uninterrupted run's counts exactly
    (mtimes pinned so trigger grouping — and hence the watermark
    trajectory — is identical in both runs)."""
    import os
    import shutil

    import pandas as pd

    from gush_spark.streaming.sink import IdempotentKeyedSink

    src = tmp_path / "src"
    generate_pages(src, n_pages=600, n_hosts=30, seed=37, rows_per_file=150)
    files = sorted(os.listdir(src))

    def run(pages_dir, sink_path, ckpt):
        counts = windowed_term_counts(
            _drop_late(read_pages_stream(spark, str(pages_dir), max_files_per_trigger=1)),
            **_kwargs(),
        )
        sink = IdempotentKeyedSink(sink_path, keys=["window_start", "term"])
        q = (
            counts.writeStream.foreachBatch(
                lambda df, bid: sink.write_batch(df, bid)
            )
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(180)
        return sink

    def stage(dst, names, t0):
        dst.mkdir(exist_ok=True)
        for i, n in enumerate(names):
            shutil.copy(src / n, dst / n)
            os.utime(dst / n, (t0 + i, t0 + i))

    full_dir = tmp_path / "full"
    stage(full_dir, files, 1_000_000)
    full_sink = run(full_dir, tmp_path / "full_sink", tmp_path / "full_ckpt")
    expected = full_sink.read_all_appends(spark).toPandas()
    assert len(expected), "no counts emitted"

    part_dir = tmp_path / "part"
    stage(part_dir, files[:2], 1_000_000)
    sink1 = run(part_dir, tmp_path / "r_sink", tmp_path / "r_ckpt")
    assert sink1.read_all_appends(spark).count() < len(expected)

    stage(part_dir, files[2:], 1_000_100)
    sink2 = run(part_dir, tmp_path / "r_sink", tmp_path / "r_ckpt")
    resumed = sink2.read_all_appends(spark).toPandas()

    key = ["window_start", "term"]
    pd.testing.assert_frame_equal(
        expected.sort_values(key).reset_index(drop=True)[key + ["n"]],
        resumed.sort_values(key).reset_index(drop=True)[key + ["n"]],
    )


def test_decayed_scores_exact_and_recency_weighted(spark):
    """Half-life decay: per-window counts contribute n·2^-age_buckets
    exactly (dyadic integers, no float accumulation), so a small spike
    NOW outranks a big count two half-lives ago."""
    from gush_spark.operators.trending import decayed_term_scores

    now = 10_000
    counts = spark.createDataFrame(
        [
            # 'old' was huge two half-lives ago (age 2400s / hl 1200 = 2)
            (now - 2400, "old", 100),
            # 'fresh' is smaller but current (age 0)
            (now, "fresh", 30),
            # 'split' spans both windows
            (now - 2400, "split", 8),
            (now, "split", 8),
        ],
        "window_start long, term string, n long",
    ).withColumn("window_start", F.timestamp_seconds("window_start"))
    rows = {
        r["term"]: r
        for r in decayed_term_scores(
            counts, now_s=now, half_life_s=1200, max_buckets=10
        ).collect()
    }
    # exact dyadic values: score = sum(n · 2^-bucket)
    assert rows["old"]["score"] == 100 * 0.25
    assert rows["fresh"]["score"] == 30.0
    assert rows["split"]["score"] == 8 * 0.25 + 8.0
    assert rows["old"]["score_scaled"] == 100 * 2**8
    # recency wins despite the 3x raw-count difference
    assert rows["fresh"]["score"] > rows["old"]["score"]
    top = decayed_term_scores(
        counts, now_s=now, half_life_s=1200, max_buckets=10, k=2
    ).collect()
    assert [r["term"] for r in top] == ["fresh", "old"]
    assert [r["rnk"] for r in top] == [1, 2]


def test_decayed_scores_clamp_old_windows(spark):
    """Windows older than max_buckets half-lives clamp to the floor
    weight instead of shifting negative."""
    from gush_spark.operators.trending import decayed_term_scores

    counts = spark.createDataFrame(
        [(0, "ancient", 1000)], "window_start long, term string, n long"
    ).withColumn("window_start", F.timestamp_seconds("window_start"))
    (row,) = decayed_term_scores(
        counts, now_s=10**9, half_life_s=60, max_buckets=5
    ).collect()
    assert row["score_scaled"] == 1000  # n · 2^(B-B) = n
    assert row["score"] == 1000 / 32


def test_vocab_growth_firsts_and_cumulative(spark):
    from gush_spark.operators.trending import vocab_growth

    counts = spark.createDataFrame(
        [
            (0, "alpha", 3),
            (0, "beta", 1),
            (600, "alpha", 5),   # repeat -> not new
            (600, "gamma", 1),   # new in window 2
            (1200, "alpha", 1),  # nothing new in window 3 -> no row
            (1800, "delta", 1),
        ],
        "window_start long, term string, n long",
    ).withColumn("window_start", F.timestamp_seconds("window_start"))
    rows = {
        r["window_start"].timestamp(): (r["n_new_terms"], r["cum_vocab"])
        for r in vocab_growth(counts).collect()
    }
    assert rows == {0.0: (2, 2), 600.0: (1, 3), 1800.0: (1, 4)}


def test_decayed_scores_future_windows_clamp_to_now(spark):
    """Windows newer than now_s (clock skew) count as age 0 — never a
    negative bucket shifting past 63 bits into a long overflow."""
    from gush_spark.operators.trending import decayed_term_scores

    counts = spark.createDataFrame(
        [(10**9 + 86400, "future", 7)], "window_start long, term string, n long"
    ).withColumn("window_start", F.timestamp_seconds("window_start"))
    (row,) = decayed_term_scores(
        counts, now_s=10**9, half_life_s=60, max_buckets=20
    ).collect()
    assert row["score"] == 7.0


def test_volume_anomaly_flags_spike_not_steady(spark):
    """Crawler-trap detection: a host jumping to 5x its trailing
    baseline flags; a steady host never does; a key's spike cannot
    leak into another key's rows (partitioned frame)."""
    from gush_spark.operators.trending import volume_anomaly_windows

    rows = []
    # host A: noisy-but-steady history, then a 5x spike
    for i, n in enumerate([9, 10, 11, 10, 50]):
        rows.append(("a", 600 * i, n))
    # host B: steady throughout (deviation never exceeds 3 sigma)
    for i, n in enumerate([10, 10, 11, 10, 10]):
        rows.append(("b", 600 * i, n))
    counts = spark.createDataFrame(rows, "host string, window_start long, n long")
    out = {
        (r["host"], r["window_start"]): r
        for r in volume_anomaly_windows(
            counts, "host", lookback=4, min_history=3, k_sq=9
        ).collect()
    }
    spike = out[("a", 2400)]
    assert spike["is_anomaly"] is True
    # integer-exact baseline stats: m=4, S=40 -> ratio 50*4/40 = 5.0
    assert spike["hist_windows"] == 4
    assert spike["base_n"] == 40
    assert spike["spike_ratio"] == 5.0
    assert not any(
        r["is_anomaly"] for (h, _), r in out.items() if h == "b"
    )
    # A's non-spike windows don't flag either
    assert sum(1 for r in out.values() if r["is_anomaly"]) == 1


def test_volume_anomaly_needs_history_and_ratio_floor(spark):
    """Fewer than min_history trailing windows never flags (no
    baseline), and min_ratio_pct suppresses a statistically-significant
    but small spike over a zero-variance baseline."""
    from gush_spark.operators.trending import volume_anomaly_windows

    counts = spark.createDataFrame(
        # constant 10s, then 12: over a zero-variance baseline ANY
        # up-spike is infinite sigmas, so only the ratio floor stands
        # between 1.2x and a flag
        [("c", 600 * i, n) for i, n in enumerate([10, 10, 10, 10, 12])],
        "host string, window_start long, n long",
    )
    eager = {
        r["window_start"]: r
        for r in volume_anomaly_windows(
            counts, "host", lookback=4, min_history=3, k_sq=9
        ).collect()
    }
    assert eager[2400]["is_anomaly"] is True  # zero variance, any spike
    # windows 0/1 lack min_history=3 trailing windows
    assert eager[0]["is_anomaly"] is False
    assert eager[600]["is_anomaly"] is False
    floored = {
        r["window_start"]: r
        for r in volume_anomaly_windows(
            counts, "host", lookback=4, min_history=3, k_sq=9,
            min_ratio_pct=150,
        ).collect()
    }
    assert floored[2400]["is_anomaly"] is False  # 1.2x < 1.5x floor


def test_read_host_anomalies_stream_equals_batch(spark, tmp_path, tmp_dirs):
    """job.py --anomaly-k end to end: the crawler-trap report derived
    from the drained pages_pipeline sink (streamed counters, multiple
    microbatches, exactly-once keyed sink) equals
    volume_anomaly_windows over the batch-computed windowed counts —
    the read-time-finalize contract."""
    from gush_spark.config import GushSparkConfig
    from gush_spark.operators.trending import volume_anomaly_windows
    from gush_spark.sources.fixtures import generate_pages
    from gush_spark.streaming.pipeline import (
        extracted_pages,
        pages_pipeline,
        read_host_anomalies,
        windowed_host_counts,
    )
    from gush_spark.streaming.source import read_pages_batch

    cfg = GushSparkConfig(watermark_delay="4 hours")  # no late drops
    pages_dir = str(tmp_path / "pages")
    generate_pages(pages_dir, n_pages=1500, n_hosts=8, rows_per_file=400)
    query, sink = pages_pipeline(
        spark, pages_dir, config=cfg,
        sink_path=tmp_dirs["sink"], checkpoint_path=tmp_dirs["checkpoint"],
    )
    query.awaitTermination(180)
    params = dict(lookback=3, min_history=2, k_sq=1, min_ratio_pct=110)
    got = read_host_anomalies(spark, sink, **params)

    batch_counts = windowed_host_counts(
        extracted_pages(read_pages_batch(spark, pages_dir), cfg), cfg
    ).select("host", "window_start", F.col("n_pages").alias("n"))
    want = volume_anomaly_windows(batch_counts, "host", **params)

    key = ["host", "window_start", "n", "hist_windows", "base_n",
           "spike_ratio", "is_anomaly"]
    g = sorted(map(tuple, got.select(*key).collect()))
    w = sorted(map(tuple, want.select(*key).collect()))
    assert g == w and len(g) > 0
