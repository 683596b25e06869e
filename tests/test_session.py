"""Local session defaults: the driver heap is sized from physical RAM,
and checkpoint/state/sink files go through the FileSystem API on the raw
local filesystem."""

import importlib
import os
from pathlib import Path

from gush_spark import session
from gush_spark.session import default_driver_memory


def test_default_cpus_without_the_variable_is_the_cpus_we_may_run_on(monkeypatch):
    """Unset, ``SPARK_GRAFT_CPUS`` falls back to this process's CPU
    affinity — not a fixed count that oversubscribes a small host."""
    try:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        assert importlib.reload(session).DEFAULT_CPUS == len(os.sched_getaffinity(0))
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        assert importlib.reload(session).DEFAULT_CPUS == 3
    finally:
        monkeypatch.undo()
        importlib.reload(session)


def test_driver_memory_is_half_of_ram():
    assert default_driver_memory("MemFree: 1 kB\nMemTotal:  16000000 kB\n") == "7812m"


def test_driver_memory_capped_at_20g():
    assert default_driver_memory("MemTotal: 256000000 kB\n") == "20480m"


def test_driver_memory_falls_back_when_size_unknown():
    assert default_driver_memory("") == "20g"


def test_local_checkpoints_skip_hadoop_crc_sidecars(spark, tmp_path, tmp_dirs):
    """A stateful stream on a local session leaves no hidden
    ``.<name>.crc`` Hadoop sidecar under its checkpoint or sink (Spark's
    own ``<v>.changelog.crc`` state checksums are not hidden and may
    stay), and the checkpoint manager the JVM builds for that checkpoint
    is the FileSystem-based one."""
    from gush_spark.config import GushSparkConfig
    from gush_spark.sources.fixtures import canonical_event_sequences, generate_page_events
    from gush_spark.streaming.pipeline import cep_pipeline

    events = generate_page_events(tmp_path / "events", canonical_event_sequences(), n_chunks=2)
    query, sink = cep_pipeline(
        spark, str(events), tmp_dirs["sink"], tmp_dirs["checkpoint"],
        config=GushSparkConfig(watermark_delay="10 minutes"),
        available_now=True, max_files_per_trigger=1,
    )
    query.awaitTermination(120)
    assert sink.committed_batches()
    ckpt = Path(tmp_dirs["checkpoint"])
    assert any(ckpt.rglob("*.changelog"))  # the state store did commit
    sidecars = [
        p for root in (ckpt, Path(tmp_dirs["sink"])) for p in root.rglob(".*.crc")
    ]
    assert sidecars == []

    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(ckpt)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
