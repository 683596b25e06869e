import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from gush_spark.session import build_session

    spark = build_session("gush_spark_tests", cores=4, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture()
def tmp_dirs(tmp_path):
    return {
        "sink": str(tmp_path / "sink"),
        "checkpoint": str(tmp_path / "ckpt"),
        "data": str(tmp_path / "data"),
        "lineage": str(tmp_path / "lineage.jsonl"),
    }


@pytest.fixture()
def assert_lineage_per_batch():
    """Checks a pipeline's lineage file against its sink: exactly one
    ``partition_lineage`` record per committed batch, whose
    ``total_rows`` is the row count that batch committed and whose
    ``partitions`` are the commit marker's and sum to ``total_rows``."""

    def check(sink, lineage_path):
        records = [
            json.loads(line)
            for line in Path(lineage_path).read_text().splitlines()
        ]
        records = [r for r in records if r["kind"] == "partition_lineage"]
        markers = {
            b: json.loads((sink.root / "_commits" / str(b)).read_text())
            for b in sink.committed_batches()
        }
        committed = {b: m["rows"] for b, m in markers.items()}
        assert committed
        assert sorted(r["batch_id"] for r in records) == sorted(committed)
        assert {r["batch_id"]: r["total_rows"] for r in records} == committed
        for r in records:
            assert r["partitions"] == markers[r["batch_id"]]["partitions"]
            assert sum(r["partitions"].values()) == r["total_rows"]

    return check
