"""job.py CLI contract: curation-only flags are validated, not
silently ignored (spark-submit misconfigurations should fail fast at
parse time, before a cluster is provisioned)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from gush_spark.job import main

BASE = ["--input", "in", "--sink", "out", "--checkpoint", "ckpt"]


def test_max_pii_requires_scrub():
    with pytest.raises(SystemExit):
        main(["--pipeline", "curation", *BASE, "--max-pii", "3"])


@pytest.mark.parametrize(
    "flags",
    [
        ["--scrub"],
        ["--scrub", "--max-pii", "2"],
        ["--bench-keys", "k.parquet"],
        ["--bench-bloom", "b.parquet"],
        ["--quality-threshold", "0.7"],
        ["--lang", "de"],
        ["--fix-encoding"],
        ["--lm-ref", "ref.parquet"],
        ["--lm-ref", "ref.parquet", "--lm-min-logp", "-6.5"],
        ["--gopher-gate"],
    ],
)
def test_curation_flags_rejected_on_other_pipelines(flags):
    with pytest.raises(SystemExit):
        main(["--pipeline", "featurize", *BASE, *flags])


def test_lm_min_logp_requires_lm_ref():
    with pytest.raises(SystemExit):
        main(["--pipeline", "curation", *BASE, "--lm-min-logp", "-6.5"])


def test_bench_keys_and_bloom_mutually_exclusive():
    with pytest.raises(SystemExit):
        main(["--pipeline", "curation", *BASE,
              "--bench-keys", "k.parquet", "--bench-bloom", "b.parquet"])


def test_unknown_pipeline_rejected():
    with pytest.raises(SystemExit):
        main(["--pipeline", "nope", *BASE])


def test_politeness_quota_rejected_off_cep():
    with pytest.raises(SystemExit):
        main(["--pipeline", "pages", *BASE, "--politeness-quota", "3"])


def test_anomaly_k_rejected_off_pages_featurize():
    with pytest.raises(SystemExit):
        main(["--pipeline", "cep", *BASE, "--anomaly-k", "3"])


def test_anomaly_k_rejected_with_continuous():
    with pytest.raises(SystemExit):
        main(["--pipeline", "pages", *BASE, "--anomaly-k", "3", "--continuous"])


def test_recrawl_topk_rejected_off_cep():
    with pytest.raises(SystemExit):
        main(["--pipeline", "pages", *BASE, "--recrawl-topk", "5"])


def test_recrawl_topk_rejected_with_continuous():
    with pytest.raises(SystemExit):
        main(["--pipeline", "cep", *BASE, "--recrawl-topk", "5", "--continuous"])


# Which pipelines accept each pipeline-specific flag, and the pipeline
# kwargs it sets there — written out here, not read from job.py, so a
# change to the flag table has to change this list too.
ALL_PIPELINES = ("pages", "featurize", "cep", "salted", "curation",
                 "linkgraph", "state", "sample")
PAGE_PIPELINES = {"pages", "featurize", "salted", "curation", "linkgraph",
                  "sample"}
FLAG_PIPELINES = [
    (["--input-format", "warc"], PAGE_PIPELINES, set()),
    (["--scrub"], {"curation"}, {"scrub"}),
    (["--scrub", "--max-pii", "2"], {"curation"}, {"scrub", "max_pii"}),
    (["--bench-keys", "k.parquet"], {"curation"}, {"bench_keys"}),
    (["--bench-bloom", "b.parquet"], {"curation"}, {"bench_bitmap"}),
    (["--quality-threshold", "0.7"], {"curation"}, {"quality_threshold"}),
    (["--lang", "de"], {"curation"}, {"lang"}),
    (["--fix-encoding"], {"curation"}, {"fix_encoding"}),
    (["--lm-ref", "ref.parquet"], {"curation"}, {"lm_model"}),
    (["--lm-ref", "ref.parquet", "--lm-min-logp", "-6.5"], {"curation"},
     {"lm_model", "lm_min_logp"}),
    (["--gopher-gate"], {"curation"}, {"gopher_gate"}),
    (["--politeness-quota", "3"], {"cep"}, {"politeness_quota"}),
    (["--sample-k", "8"], {"sample"}, {"sample_k"}),
    (["--anomaly-k", "3"], {"pages", "featurize"}, set()),
    (["--recrawl-topk", "5"], {"cep"}, set()),
]
ALWAYS = {"sink_path", "checkpoint_path", "config", "available_now", "lineage_path"}


@pytest.fixture()
def started(monkeypatch):
    """Fakes for the session, every pipeline and the post-drain reports:
    returns the list of kwargs each started pipeline received."""
    from unittest import mock

    import gush_spark.job as job
    import gush_spark.operators.lm as lm
    import gush_spark.streaming.pipeline as pipeline

    calls = []

    def fake_pipeline(spark, input_path, **kwargs):
        calls.append(kwargs)
        return mock.MagicMock(), mock.MagicMock()

    for name in job.PIPELINES:
        monkeypatch.setitem(job.PIPELINES, name, fake_pipeline)
    monkeypatch.setattr(job, "build_cluster_session", lambda app: mock.MagicMock())
    monkeypatch.setattr(lm, "train_bigram_lm", lambda ref, *cols: ("lm", ref))
    for report in ("read_host_anomalies", "read_recrawl_priorities"):
        monkeypatch.setattr(pipeline, report, mock.MagicMock())
    return calls


@pytest.mark.parametrize("pipeline", ALL_PIPELINES)
@pytest.mark.parametrize(
    "flags,pipelines,kwargs", FLAG_PIPELINES,
    ids=[" ".join(f[0]) for f in FLAG_PIPELINES],
)
def test_flag_applies_only_to_its_pipelines(started, pipeline, flags, pipelines, kwargs):
    argv = ["--pipeline", pipeline, *BASE, *flags]
    if pipeline not in pipelines:
        with pytest.raises(SystemExit):
            main(argv)
        assert started == []
        return
    assert main(argv) == 0
    assert len(started) == 1
    assert set(started[0]) == ALWAYS | kwargs
    if "--input-format" in flags:
        assert started[0]["config"].input_format == "warc"


@pytest.mark.parametrize("pipeline", ALL_PIPELINES)
def test_lineage_reaches_every_pipeline(started, pipeline, tmp_path):
    lineage = str(tmp_path / "lineage.jsonl")
    assert main(["--pipeline", pipeline, *BASE, "--lineage", lineage]) == 0
    assert started[0]["lineage_path"] == lineage


def test_lineage_keeps_the_last_records(tmp_path):
    """A real ``python -m gush_spark.job --lineage`` run: by the time the
    process exits, the asynchronous listener has written one progress
    record per committed batch and the terminated record, and no
    listener callback failed at shutdown."""
    from gush_spark.sources.fixtures import generate_page_events

    events = generate_page_events(tmp_path / "events", n_chunks=6)
    ckpt, lineage = tmp_path / "ckpt", tmp_path / "lineage.jsonl"
    repo = Path(__file__).resolve().parent.parent
    env = {
        **os.environ,
        "PYTHONPATH": str(repo),
        "PYSPARK_SUBMIT_ARGS": "--master local[2] --driver-memory 1g pyspark-shell",
    }
    proc = subprocess.run(
        [sys.executable, "-m", "gush_spark.job", "--pipeline", "cep",
         "--input", str(events), "--sink", str(tmp_path / "sink"),
         "--checkpoint", str(ckpt), "--lineage", str(lineage)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    records = [json.loads(line) for line in lineage.read_text().splitlines()]
    progress = sorted(r["batch_id"] for r in records if r["kind"] == "progress")
    commits = sorted(int(f.name) for f in (ckpt / "commits").iterdir() if f.name.isdigit())
    assert len(commits) > 6  # one batch per input file, and more
    assert progress == commits
    assert [r["kind"] for r in records].count("terminated") == 1
    assert "threw an exception" not in proc.stderr
