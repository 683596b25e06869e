"""Streaming window semantics (SURVEY.md §2.6): the streaming pipeline's
windowed output must equal the batch computation on the same input, and
late rows must be dropped deterministically by the watermark.
"""

import dataclasses
import json

import pandas as pd
import pytest

from pyspark.sql import functions as F

from gush_spark.config import GushSparkConfig
from gush_spark.sources.fixtures import generate_pages
from gush_spark.streaming.pipeline import (
    extracted_pages,
    pages_pipeline,
    windowed_host_counts,
)
from gush_spark.streaming.source import read_pages_batch

CFG = GushSparkConfig(watermark_delay="4 hours")  # generous: no late drops


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_stream")
    generate_pages(d, n_pages=800, n_hosts=10, seed=11, rows_per_file=200)
    return str(d)


def test_streaming_counts_equal_batch(spark, pages_dir, tmp_dirs):
    query, sink = pages_pipeline(
        spark, pages_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, lineage_path=tmp_dirs["lineage"],
    )
    query.awaitTermination(180)
    got = sink.read(spark).toPandas()

    batch = windowed_host_counts(
        extracted_pages(read_pages_batch(spark, pages_dir), CFG), CFG
    ).toPandas()

    key = ["window_start", "host"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_s[["window_start", "host", "n_pages", "n_errors"]],
        exp_s[["window_start", "host", "n_pages", "n_errors"]],
        check_dtype=False,
    )
    assert got.n_errors.sum() > 0  # malformed fixtures flow through as error rows


def test_late_rows_dropped_with_tight_watermark(spark, pages_dir, tmp_dirs):
    tight = GushSparkConfig(watermark_delay="1 minute", max_files_per_trigger=1)
    query, sink = pages_pipeline(
        spark, pages_dir, tmp_dirs["sink"] + "_tight", tmp_dirs["checkpoint"] + "_tight",
        config=tight, available_now=True,
    )
    query.awaitTermination(180)
    got_total = int(sink.read(spark).toPandas().n_pages.sum())

    full_total = read_pages_batch(spark, pages_dir).count()
    # fixture plants ~3% far-late rows; with a 1-minute watermark and
    # 1-file microbatches they land past the watermark and are dropped
    assert got_total < full_total


def test_salted_rollup_equals_unsalted(
    spark, pages_dir, tmp_dirs, assert_lineage_per_batch
):
    """Skew salting must not change results: the merged salted partials
    equal the plain batch rollup on the same input (north_rule: skew
    handled explicitly, provably semantics-preserving)."""
    from gush_spark.streaming.pipeline import (
        read_salted_rollup,
        salted_rollup_pipeline,
    )

    query, sink = salted_rollup_pipeline(
        spark, pages_dir, tmp_dirs["sink"] + "_salted",
        tmp_dirs["checkpoint"] + "_salted",
        config=dataclasses.replace(CFG, skew_salt_buckets=4), available_now=True,
        lineage_path=tmp_dirs["lineage"],
    )
    query.awaitTermination(180)
    assert_lineage_per_batch(sink, tmp_dirs["lineage"])

    partials = sink.read(spark).toPandas()
    assert partials.salt.nunique() > 1  # the hot key really was split

    got = read_salted_rollup(spark, sink).toPandas()
    batch = windowed_host_counts(
        extracted_pages(read_pages_batch(spark, pages_dir), CFG), CFG
    ).toPandas()

    key = ["window_start", "host"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_s[key + ["n_pages", "n_errors"]],
        exp_s[key + ["n_pages", "n_errors"]],
        check_dtype=False,
    )


def test_featurize_counts_equal_batch(
    spark, pages_dir, tmp_dirs, assert_lineage_per_batch
):
    """The featurize rollup counts the same pages per (host, window) as
    the batch twin of the pages pipeline, and its lineage records each
    committed batch."""
    from gush_spark.streaming.pipeline import featurize_pipeline

    query, sink = featurize_pipeline(
        spark, pages_dir, tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=CFG, available_now=True, lineage_path=tmp_dirs["lineage"],
    )
    query.awaitTermination(180)
    assert_lineage_per_batch(sink, tmp_dirs["lineage"])
    with open(tmp_dirs["lineage"]) as f:  # coalesced: one partition at most
        assert all(len(json.loads(line)["partitions"]) <= 1 for line in f)

    got = sink.read(spark).toPandas()
    batch = windowed_host_counts(
        extracted_pages(read_pages_batch(spark, pages_dir), CFG), CFG
    ).toPandas()
    key = ["window_start", "host"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[key + ["n_pages"]],
        batch.sort_values(key).reset_index(drop=True)[key + ["n_pages"]],
        check_dtype=False,
    )
