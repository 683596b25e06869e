"""SparkSession builders tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
- AQE on (runtime re-plan, skew-join splitting for batch),
- Arrow on (all Python boundaries are vectorized pandas UDFs),
- shuffle partitions sized to the parallelism level (not the 200 default),
- UTC session timezone so window boundaries are deterministic everywhere.

At 100 TB these same knobs move to spark-submit conf; nothing in the
engine assumes local mode.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
        # without libhadoop, Hadoop's RawLocalFileSystem shells out for
        # permission/status ops; the JDK's default vfork-based exec from a
        # multi-GB JVM showed multi-10s stalls under memory pressure
        # (observed via jstack: stream thread RUNNABLE in forkAndExec).
        # posix_spawn makes child-process launch O(1) in parent heap size.
        .config("spark.driver.extraJavaOptions",
                "-Djdk.lang.Process.launchMechanism=POSIX_SPAWN")
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
