"""Exactly-once sink (SURVEY.md §4.3) + multi-sink fan-out (S7).

Delivery model: Spark's replayable source offsets + checkpointed state
give at-least-once into ``foreachBatch``; this sink makes the last hop
idempotent, yielding end-to-end exactly-once. The reference, by
contrast, is at-most-once (in-memory buffer lost on crash,
BinlogRemoteReaderActor.scala:39,49-52).

Design (Iceberg ``MERGE INTO`` analog, sandbox-safe):
- data for batch N lands under ``data/batch=N/`` (written fully before
  commit);
- a commit marker ``_commits/N`` is created atomically (tmp + rename)
  AFTER the data write; it holds the batch's rows per write-task
  partition, read off the written files' parquet footers (the
  per-partition lineage, at no extra Spark job);
- a replayed batch N (restart between data-write and marker, or between
  marker and offset-commit) sees the marker and skips — rewriting the
  same deterministic rows is also safe because readers only see
  committed batches;
- readers resolve the current row per key with "last committed batch
  wins" (``row_number() over (partition by keys order by batch desc)``)
  — the MERGE-by-(url, window) semantics without a table format.

On a real cluster this class is swapped for Iceberg
``MERGE INTO sink USING batch ON sink.url=b.url AND
sink.window_start=b.window_start`` inside the same foreachBatch; the
commit-marker protocol is exactly what the table format's snapshot
commit does for us.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


_PART_FILE = re.compile(r"part-(\d+)-")


def _partition_rows(spark: SparkSession, path: str) -> dict[int, int]:
    """Rows per write-task partition id of one written batch dir, from its
    parquet footers (metadata only: nothing upstream is recomputed).

    Spark names each task's output ``part-NNNNN-*``, NNNNN being the
    partition id, so this is the per-partition count of the frame that
    was written. Several files of one id add up; zero-row files (Spark
    writes one for an all-empty frame) are left out."""
    p = Path(path)
    if p.exists():
        import pyarrow.parquet as pq

        files = [(f.name, pq.ParquetFile(f).metadata.num_rows) for f in p.glob("*.parquet")]
    else:  # not on the driver's filesystem: one scan of the written files
        files = spark.read.parquet(path).groupBy(F.input_file_name()).count().collect()
    counts: dict[int, int] = {}
    for name, n in files:
        if n:
            pid = int(_PART_FILE.match(name.rsplit("/", 1)[-1]).group(1))
            counts[pid] = counts.get(pid, 0) + n
    return dict(sorted(counts.items()))


class IdempotentKeyedSink:
    def __init__(
        self,
        path: str | Path,
        keys: list[str],
        resolve_order: list[str] | None = None,
    ):
        """``resolve_order``: optional DATA columns (e.g.
        ``["warc_ts", "event_id"]``) that decide last-writer-wins per
        key instead of the batch id — EVENT-time resolution for CDC
        materialization, where a late-arriving batch may carry an
        OLDER version that must lose to the newer one already written
        (the Iceberg MERGE-with-version-column analog). Batch id stays
        the final tie-break so replays remain deterministic; default
        None keeps the arrival-order semantics every windowed pipeline
        wants (each batch's update row IS the newest aggregate)."""
        self.root = Path(path)
        self.keys = keys
        self.resolve_order = resolve_order or []
        (self.root / "_commits").mkdir(parents=True, exist_ok=True)
        (self.root / "data").mkdir(parents=True, exist_ok=True)

    def _resolve(self, df: DataFrame) -> DataFrame:
        """Last writer wins: per key, the row highest in
        ``resolve_order`` and then in batch id (no keys: every row);
        the batch column is dropped."""
        if not self.keys:
            return df.drop("batch")
        order = [F.col(c).desc() for c in self.resolve_order] + [F.col("batch").desc()]
        w = Window.partitionBy(*self.keys).orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "batch")
        )

    def _marker(self, batch_id: int) -> Path:
        return self.root / "_commits" / str(batch_id)

    def is_committed(self, batch_id: int) -> bool:
        return self._marker(batch_id).exists()

    def latest_compaction(self) -> int | None:
        """Highest batch id folded into a compacted base snapshot."""
        comp = self.root / "_compaction"
        if not comp.exists():
            return None
        ids = [int(p.name) for p in comp.iterdir() if not p.name.startswith(".")]
        return max(ids) if ids else None

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> dict[int, int]:
        """The foreachBatch body. Safe under replay.

        Returns the batch's rows per write-task partition id, zero-row
        partitions left out (``{}`` for an empty batch) — the
        per-partition lineage, read from the written files' footers and
        kept in the commit marker as ``partitions`` beside their sum
        ``rows``.

        A replayed batch skips the sink write BUT must still consume
        every partition: a stateful upstream (windowed agg, dedup, CEP)
        commits its state stores task-side during batch execution, and
        Spark's BatchCommitTracker fails the query when foreachBatch
        returns without processing all partitions ("Expected N commits
        but got 0") — the noop-format write materializes the full plan
        (state commits included) without touching the sink. Found by the
        spark-submit packaging smoke: restarting the featurize pipeline
        against an already-committed sink killed the query on batch 0.
        It returns the map its first write committed."""
        if self.is_committed(batch_id):
            batch_df.write.format("noop").mode("overwrite").save()
            return self._committed_partitions(batch_df.sparkSession, batch_id)
        out = str(self.root / "data" / f"batch={batch_id}")
        batch_df.write.mode("overwrite").parquet(out)
        parts = _partition_rows(batch_df.sparkSession, out)
        tmp = self.root / "_commits" / f".tmp-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(
            {"batch_id": batch_id, "rows": sum(parts.values()), "partitions": parts}))
        os.rename(tmp, self._marker(batch_id))  # atomic commit point
        return parts

    def _committed_partitions(self, spark: SparkSession, batch_id: int) -> dict[int, int]:
        """The per-partition row map committed batch ``batch_id`` wrote.
        A marker from before markers carried ``partitions`` has only
        ``rows``: its map comes from the batch dir's footers, or is
        ``{}`` once ``compact()`` has retired that dir."""
        marker = json.loads(self._marker(batch_id).read_text())
        if "partitions" in marker:
            return {int(k): n for k, n in marker["partitions"].items()}
        out = str(self.root / "data" / f"batch={batch_id}")
        return _partition_rows(spark, out) if Path(out).exists() else {}

    def foreach_batch(self):
        return lambda df, bid: self.write_batch(df, bid)

    def committed_batches(self) -> list[int]:
        return sorted(
            int(p.name) for p in (self.root / "_commits").iterdir()
            if not p.name.startswith(".")
        )

    @staticmethod
    def _is_missing_path(e: Exception) -> bool:
        msg = str(e)
        return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg

    def _committed_with_batch(self, spark: SparkSession, _retries: int = 1) -> DataFrame:
        """Every committed row + its ``batch`` id: the compacted base
        snapshot (standing in for all batches ≤ its marker) unioned with
        the live batch dirs written after it.

        Readers race a concurrent ``compact()``: a listing taken just
        before the compaction marker commits references batch dirs the
        compactor retires right after. Analysis is forced here (schema
        touch) so the missing-path error surfaces immediately, and one
        retry re-reads the marker — the fresh listing sees the committed
        snapshot instead of the retired dirs. For a maintenance compactor
        running beside long read jobs, use ``compact(retire=False)`` +
        ``retire_superseded()`` after a grace period instead."""
        comp = self.latest_compaction()
        batches = [b for b in self.committed_batches() if comp is None or b > comp]
        try:
            df = self._assemble(spark, comp, batches)
            df.schema  # force analysis: missing retired dirs fail HERE
            return df
        except Exception as e:
            if _retries > 0 and self._is_missing_path(e):
                return self._committed_with_batch(spark, _retries - 1)
            raise

    def _assemble(
        self, spark: SparkSession, comp: int | None, batches: list[int]
    ) -> DataFrame:
        """Rows+batch for an EXPLICIT (snapshot, batch-list) pair —
        compact() pins the pair it listed so a batch committed by the
        live stream mid-compaction can never be both folded into the
        snapshot and left on disk (double-counted)."""
        parts = []
        if comp is not None:
            parts.append(
                spark.read.parquet(str(self.root / "compacted" / f"upto={comp}"))
                .withColumn("batch", F.lit(comp))
            )
        if batches:
            paths = [str(self.root / "data" / f"batch={b}") for b in batches]
            parts.append(
                spark.read.option("basePath", str(self.root / "data")).parquet(*paths)
            )
        if not parts:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra)
        return df

    def read(self, spark: SparkSession) -> DataFrame:
        """Current view: latest committed version of each key."""
        return self._resolve(self._committed_with_batch(spark))

    def read_all_appends(self, spark: SparkSession) -> DataFrame:
        """Append-mode view: every committed row exactly once."""
        return self._committed_with_batch(spark).drop("batch")

    def compact(self, spark: SparkSession, retire: bool = True) -> int | None:
        """Fold all committed batch dirs into one base snapshot.

        A long-running update-mode stream otherwise accretes one
        directory per microbatch and ``read`` pays an ever-growing
        union + last-writer-wins window. Compaction rewrites the
        RESOLVED view (update mode) / full row set (append mode) as
        ``compacted/upto=B`` where B = max committed batch, commits the
        ``_compaction/B`` marker atomically (tmp + rename), then retires
        the superseded per-batch dirs. Protocol safety:

        - commit markers are kept forever (tiny files), so a replayed
          batch id ≤ B still short-circuits in ``write_batch`` —
          exactly-once survives compaction;
        - the snapshot carries batch id B in the resolved view, so any
          batch > B written later still wins last-writer-wins;
        - crash before the marker rename leaves a stale snapshot dir
          that readers ignore (marker is the commit point) and the next
          compact() overwrites;
        - this is the plain-parquet analog of Iceberg's rewrite-data-
          files maintenance; the IcebergMergeSink path gets it from the
          table format.

        ``retire=False`` commits the snapshot but leaves the superseded
        per-batch dirs on disk; call ``retire_superseded()`` after a
        grace period so readers that listed before the marker commit can
        finish against the old dirs (reader-vs-compactor race).

        Returns B, or None when there is nothing to compact."""
        prev = self.latest_compaction()
        live = [b for b in self.committed_batches() if prev is None or b > prev]
        if not live:
            return prev
        upto = max(live)
        # resolve over the PINNED (prev, live) pair — never re-list
        resolved = self._resolve(self._assemble(spark, prev, live))
        comp_root = self.root / "compacted"
        comp_root.mkdir(exist_ok=True)
        tmp = comp_root / f".tmp-{uuid.uuid4().hex}"
        resolved.write.mode("overwrite").parquet(str(tmp))
        target = comp_root / f"upto={upto}"
        if target.exists():  # stale crash leftover: marker was never written
            import shutil

            shutil.rmtree(target)
        os.rename(tmp, target)
        mtmp = self.root / "_compaction" / f".tmp-{uuid.uuid4().hex}"
        mtmp.parent.mkdir(exist_ok=True)
        mtmp.write_text(json.dumps({"upto": upto, "batches": live}))
        os.rename(mtmp, self.root / "_compaction" / str(upto))  # commit point
        if retire:  # post-commit cleanup; best-effort
            self.retire_superseded()
        return upto

    def retire_superseded(self) -> list[int]:
        """Remove batch dirs and old snapshots already folded into the
        committed compaction snapshot. Safe whenever no reader still
        holds a listing taken before that snapshot's marker committed —
        the grace-period half of ``compact(retire=False)``."""
        import shutil

        comp = self.latest_compaction()
        if comp is None:
            return []
        retired = []
        for b in self.committed_batches():
            if b <= comp and (self.root / "data" / f"batch={b}").exists():
                shutil.rmtree(self.root / "data" / f"batch={b}", ignore_errors=True)
                retired.append(b)
        for p in (self.root / "compacted").glob("upto=*"):
            if int(p.name.split("=", 1)[1]) < comp:
                shutil.rmtree(p, ignore_errors=True)
        return retired


def fan_out(batch_df: DataFrame, batch_id: int, sinks: list) -> None:
    """S7 analog (Broadcast fan-out, GushCEP.scala:15-22): one microbatch
    → N sinks, single upstream computation. ``persist`` replaces gush's
    Broadcast stage so each sink doesn't recompute the batch."""
    batch_df.persist()
    try:
        for sink in sinks:
            sink(batch_df, batch_id)
    finally:
        batch_df.unpersist()
