"""Per-microbatch lineage + metrics (north_rule requirement).

The reference's observability is one log line per event
(GushCEP.scala:24-38) plus lifecycle callbacks
(BinlogServerReader.scala:21-38). Ours:

- ``LineageListener`` (a StreamingQueryListener — the S2 analog)
  captures every microbatch's progress: batchId, rows in/out,
  durations, state-store metrics (rows, bytes, late drops, the
  commit, update and removal times per state operator, and the state
  provider's ``customMetrics``), watermark —
  appended as JSONL;
- ``observe()`` named metrics on the DataFrame count error rows and
  dropped-late rows JVM-side (no extra action, no Python);
- ``partition_lineage`` writes the per-partition lineage record of a
  microbatch from the row counts the sink read off the footers of the
  files it just wrote (``IdempotentKeyedSink.write_batch``) — no
  Spark job, nothing recomputed.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


class LineageListener(StreamingQueryListener):
    def __init__(self, out_path: str | Path):
        self.out_path = Path(out_path)
        self.out_path.parent.mkdir(parents=True, exist_ok=True)

    def onQueryStarted(self, event) -> None:  # S2 onConnect analog
        self._emit({"kind": "started", "id": str(event.id), "name": event.name})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "kind": "progress",
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "input_rows_per_second": p.inputRowsPerSecond,
            "processed_rows_per_second": p.processedRowsPerSecond,
            "duration_ms": dict(p.durationMs) if p.durationMs else {},
            "event_time": dict(p.eventTime) if p.eventTime else {},
            "state_operators": [
                {
                    "num_rows_total": s.numRowsTotal,
                    "num_rows_updated": s.numRowsUpdated,
                    "memory_used_bytes": s.memoryUsedBytes,
                    "num_rows_dropped_by_watermark": s.numRowsDroppedByWatermark,
                    # state-store time: the commit, the data pass and the
                    # removals (for the keyed-state runner, its
                    # event-time-timeout pass)
                    "commit_time_ms": s.commitTimeMs,
                    "all_updates_time_ms": s.allUpdatesTimeMs,
                    "all_removals_time_ms": s.allRemovalsTimeMs,
                    # the provider's own metrics (RocksDB: file sync,
                    # flush and checkpoint latencies, bytes copied)
                    "custom_metrics": dict(s.customMetrics or {}),
                }
                for s in (p.stateOperators or [])
            ],
            "observed": {
                name: dict(row.asDict()) if hasattr(row, "asDict") else dict(row)
                for name, row in (p.observedMetrics or {}).items()
            },
        }
        self._emit(rec)

    def onQueryTerminated(self, event) -> None:  # S2 onComplete/onError analog
        self._emit({"kind": "terminated", "id": str(event.id),
                    "exception": event.exception})

    def onQueryIdle(self, event) -> None:
        pass

    def _emit(self, rec: dict) -> None:
        with self.out_path.open("a") as f:
            f.write(json.dumps(rec, default=str) + "\n")


def with_observed_metrics(df: DataFrame, name: str = "gush_metrics") -> DataFrame:
    """JVM-side counters riding the existing plan (A3 analog:
    per-event statsd-style counts, GushCEP.scala:28-38)."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("extract_error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
    )


def partition_lineage(partitions: dict[int, int], batch_id: int,
                      out_path: str | Path) -> None:
    """Per-partition row counts for one microbatch → JSONL.

    Records which physical partition contributed how many rows (the
    resume/audit trail the north_rule asks for). ``partitions`` is the
    map ``IdempotentKeyedSink.write_batch`` returns: rows per write-task
    partition id, taken from the written files' parquet footers, so
    this runs no Spark action.
    """
    rec = {
        "kind": "partition_lineage",
        "batch_id": batch_id,
        "partitions": {str(k): n for k, n in partitions.items()},
        "total_rows": int(sum(partitions.values())),
    }
    out_path = Path(out_path)
    out_path.parent.mkdir(parents=True, exist_ok=True)
    with out_path.open("a") as f:
        f.write(json.dumps(rec) + "\n")
