"""Per-partition lineage comes from the sink's parquet footers.

``IdempotentKeyedSink.write_batch`` returns the rows per write-task
partition id of the batch it wrote (and keeps them in the commit
marker); ``partition_lineage`` writes that map as the batch's lineage
record. No Spark job is spent on it: the counts are read off the
footers of the files the sink has just written.
"""

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from gush_spark.streaming.pipeline import cep_pipeline
from gush_spark.streaming.sink import IdempotentKeyedSink

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture()
def events_dir(tmp_path):
    sys.path.insert(0, str(REPO / "perfbench"))
    try:
        import gen
    finally:
        sys.path.remove(str(REPO / "perfbench"))
    d = tmp_path / "events"
    gen.write_events(d, seed=7, n_files=3, rows_per_file=200, n_hosts=20, mtime0=1.7e9)
    return str(d)


def _run_cep(spark, events_dir, root: Path, lineage_path, ckpt="ckpt"):
    query, sink = cep_pipeline(
        spark, events_dir, str(root / "sink"), str(root / ckpt),
        available_now=True, lineage_path=lineage_path,
    )
    query.awaitTermination(120)
    assert query.exception() is None
    return query, sink


def _lineage(path: Path) -> dict:
    return {r["batch_id"]: r for r in map(json.loads, path.read_text().splitlines())}


def test_lineage_costs_no_spark_job(spark, events_dir, tmp_path):
    """A stream with lineage runs exactly the Spark jobs of the same
    stream without it (streaming sets each query's job group to its run
    id)."""
    tracker = spark.sparkContext.statusTracker()
    jobs = {}
    for name, lineage in (("with", str(tmp_path / "lineage.jsonl")), ("without", None)):
        query, sink = _run_cep(spark, events_dir, tmp_path / name, lineage)
        assert sink.committed_batches()
        jobs[name] = len(tracker.getJobIdsForGroup(str(query.runId)))
    assert jobs["with"] > 0
    assert jobs["with"] == jobs["without"]


def _spark_partition_counts(df) -> dict[int, int]:
    return {r[0]: r[1] for r in df.groupBy(F.spark_partition_id()).count().collect()}


def test_write_batch_map_equals_spark_partition_counts(spark, tmp_path):
    """The returned map is what ``groupBy(spark_partition_id()).count()``
    gives for the written frame, and a replayed batch id returns the same
    map without rewriting anything."""
    sparse = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    frames = {
        "sparse": sparse.repartition(8, "k"),  # most of the 8 partitions empty
        "empty": spark.range(0, 100, 1, 4).filter(F.col("id") < 0),
        "coalesced": spark.range(0, 50, 1, 4).coalesce(1),  # featurize's step
        "many": spark.range(0, 1000, 1, 13),
    }
    sink = IdempotentKeyedSink(tmp_path / "s", keys=[])
    for batch_id, (name, df) in enumerate(frames.items()):
        want = _spark_partition_counts(df)
        got = sink.write_batch(df, batch_id)
        assert got == want, name
        marker = json.loads((sink.root / "_commits" / str(batch_id)).read_text())
        assert marker["rows"] == sum(want.values()), name
    # Spark writes one zero-row file for the empty frame; it is left out
    assert list((sink.root / "data" / "batch=1").glob("*.parquet"))

    batch_dir = sink.root / "data" / "batch=0"
    before = {p.name: p.stat().st_mtime_ns for p in batch_dir.iterdir()}
    marker = (sink.root / "_commits" / "0").read_text()
    assert sink.write_batch(frames["sparse"], 0) == _spark_partition_counts(frames["sparse"])
    assert {p.name: p.stat().st_mtime_ns for p in batch_dir.iterdir()} == before
    assert (sink.root / "_commits" / "0").read_text() == marker
    assert sink.committed_batches() == [0, 1, 2, 3]


def test_replay_of_marker_without_partitions_reads_footers(spark, events_dir, tmp_path):
    """A commit marker written before markers carried ``partitions`` holds
    only ``batch_id`` and ``rows``. Replaying that batch writes a lineage
    record whose partitions come from the batch dir's footers and whose
    ``total_rows`` is the marker's ``rows``."""
    first = tmp_path / "first.jsonl"
    _, sink = _run_cep(spark, events_dir, tmp_path, str(first))
    rows = {}
    for b in sink.committed_batches():
        marker = sink.root / "_commits" / str(b)
        rows[b] = json.loads(marker.read_text())["rows"]
        marker.write_text(json.dumps({"batch_id": b, "rows": rows[b]}))
    assert sum(rows.values()) > 0

    replay = tmp_path / "replay.jsonl"
    # fresh checkpoint, same sink: every batch replays
    _run_cep(spark, events_dir, tmp_path, str(replay), ckpt="ckpt2")
    got, want = _lineage(replay), _lineage(first)
    assert sorted(got) == sorted(rows)
    for b, rec in got.items():
        assert rec["partitions"] == want[b]["partitions"]
        assert rec["total_rows"] == rows[b]
