"""SparkSession builders tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
- AQE on (runtime re-plan, skew-join splitting for batch),
- Arrow on (all Python boundaries are vectorized pandas UDFs),
- shuffle partitions sized to the parallelism level (not the 200 default),
- UTC session timezone so window boundaries are deterministic everywhere.

At 100 TB these same knobs move to spark-submit conf; nothing in the
engine assumes local mode.

Local sessions (``build_session``) add what only holds on one machine:
the master, no UI, the driver heap, the child-process launch mechanism,
and checkpoint/state files written through the FileSystem API on
Hadoop's raw local filesystem — no hidden ``.crc`` sidecars, so no
Hadoop read-time CRC check of local files either. Cluster checkpoints
live on HDFS or S3 and keep Spark's defaults (``job.build_cluster_session``).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: local cores: ``SPARK_GRAFT_CPUS``, else the CPUs this process may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
DRIVER_MEM_CAP_MB = 20 * 1024


def default_driver_memory(meminfo: str | None = None) -> str:
    """Driver heap for a local session: half of physical RAM (``MemTotal``
    in ``meminfo``, read from /proc/meminfo when not given), capped at
    20g — a heap larger than RAM gets the JVM OOM-killed mid-run. 20g
    when the size is unknown. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    if meminfo is None:
        try:
            meminfo = Path("/proc/meminfo").read_text()
        except OSError:
            meminfo = ""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return f"{min(DRIVER_MEM_CAP_MB, int(line.split()[1]) // 2048)}m"
    return f"{DRIVER_MEM_CAP_MB // 1024}g"

#: engine defaults shared by local test sessions and cluster jobs
#: (gush_spark.job applies these under spark-submit without forcing a
#: master; build_session adds local[N] on top)
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # streaming: deterministic state + resumability (SURVEY.md §4.2)
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    # changelog checkpointing: per-commit cost is O(delta), not a full
    # RocksDB snapshot upload — the difference between ~100ms and several
    # seconds of fixed cost per state partition per microbatch
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # the default 60s maintenance cadence interleaves RocksDB snapshot
    # uploads with microbatch commits — measured 60-70s commit stalls when
    # they collide. With changelog checkpointing on, snapshots only bound
    # changelog-replay length at recovery, so run them rarely; recovery
    # cost is the explicit trade.
    "spark.sql.streaming.stateStore.maintenanceInterval": "600s",
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
}


def build_session(
    app_name: str = "gush_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to ``cores`` — on a real cluster this
    would be ~2-3x total executor cores; the engine never relies on the
    Spark default of 200.

    On top of ``ENGINE_CONFS`` a local session sets: ``local[cores]``, no
    UI, the driver heap, the POSIX_SPAWN launch mechanism, and the local
    checkpoint I/O path — ``FileSystemBasedCheckpointFileManager`` over
    Hadoop's ``RawLocalFileSystem`` for checkpoint, offset, source-log,
    state and sink files. The trade: ``RawLocalFileSystem`` writes no
    ``.crc`` sidecars, so Hadoop no longer verifies a CRC when it reads a
    local file back. Spark's own state checksums (``<v>.changelog.crc``)
    and parquet's page CRCs still are written and checked.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        # without libhadoop, Hadoop forks a `chmod` from the driver JVM for
        # every file or directory it creates (~42 per microbatch of
        # pages_pipeline: sink committer, offsets/commits/source log, state
        # changelogs). Pin the launch mechanism: one fork is ~4.5 ms p50
        # with POSIX_SPAWN, ~2.7 ms with VFORK, ~150 ms with FORK.
        .config("spark.driver.extraJavaOptions",
                "-Djdk.lang.Process.launchMechanism=POSIX_SPAWN")
        # checkpoint, offset, source-log and state files through the
        # FileSystem API on the raw local filesystem: an atomic 100-byte
        # write drops from ~40-55 ms (FileContext over the checksummed
        # LocalFs) to ~5 ms, and no hidden `.<name>.crc` sidecar is
        # written. The POSIX rename inside one directory stays atomic.
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
