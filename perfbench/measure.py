"""Measurement helpers: percentiles, output checks, RSS sampling, the
noise canary, and the readers for streaming progress, the checkpoint's
file log and the Spark event log. Nothing here imports the program."""

from __future__ import annotations

import hashlib
import json
import os
import re
import signal
import statistics
import threading
import time
from collections import Counter, defaultdict
from pathlib import Path


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int] | None:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, sample count); None below 11 samples."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return None
    return float(v[n - 11]), 100.0 * (n - 10) / n, n


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------
def rows_hash(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def cep_tuples(df) -> list[tuple]:
    """CEP output rows (a pandas frame) as comparable tuples."""
    cols = ["host", "event_id", "url", "warc_ts_us", "event_type", "prior_ts_us",
            "crawl_count", "session_id"]
    out = []
    for r in df[cols].itertuples(index=False):
        prior = None if r.prior_ts_us is None or r.prior_ts_us != r.prior_ts_us else int(r.prior_ts_us)
        out.append((r.host, int(r.event_id), r.url, int(r.warc_ts_us), r.event_type,
                    prior, int(r.crawl_count), int(r.session_id)))
    return out


def compare_rows(got, want) -> int:
    """Rows in one multiset and not the other (0 = outputs agree)."""
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


# ---------------------------------------------------------------------------
# the processes under this one: the JVM and its Python workers
# ---------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids[ppid].append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out = _children(), []
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants_rss_mb(root: int) -> float:
    total = 0
    for pid in descendants(root):
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmRSS:"):
                total += int(line.split()[1])
    return total / 1024.0


def _running(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


def reap(pids: list[int], grace: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended: ``grace`` seconds
    for it to exit by itself, then SIGTERM, then SIGKILL."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        left = [p for p in pids if _running(p)]
        for p in left if sig else []:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.time() + wait
        while left and time.time() < deadline:
            time.sleep(0.05)
            left = [p for p in left if _running(p)]
        if not left:
            return


class RssSampler(threading.Thread):
    """Samples the summed RSS of this process's descendants until stopped."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period, self.peak_mb = period, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


# ---------------------------------------------------------------------------
# noise canary: fixed CPU work plus a small Spark job
# ---------------------------------------------------------------------------
def canary_s(spark) -> float:
    """Median of 3 probes after two untimed warm-up probes."""
    def once() -> float:
        t = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += i * i % 7
        spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(id % 7)").collect()
        return time.perf_counter() - t

    once(), once()
    return median(once() for _ in range(3))


# ---------------------------------------------------------------------------
# streaming progress and the checkpoint's file log
# ---------------------------------------------------------------------------
def progress_records(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def source_files(checkpoint: Path) -> dict[int, list[str]]:
    """batch id -> file names it read, from ``sources/0`` (compacted or not)."""
    out: dict[int, set[str]] = defaultdict(set)
    src = checkpoint / "sources" / "0"
    for f in src.iterdir() if src.exists() else []:
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.startswith("{"):
                rec = json.loads(line)
                out[rec["batchId"]].add(rec["path"].rsplit("/", 1)[1])
    return {b: sorted(v) for b, v in out.items()}


def commit_times(sink_root: Path) -> dict[int, float]:
    """batch id -> mtime of the sink's ``_commits/<batch>`` marker."""
    d = sink_root / "_commits"
    return {int(p.name): p.stat().st_mtime for p in d.iterdir()
            if not p.name.startswith(".")}


def commit_rows(sink_root: Path) -> dict[int, int]:
    d = sink_root / "_commits"
    return {int(p.name): json.loads(p.read_text())["rows"] for p in d.iterdir()
            if not p.name.startswith(".")}


# ---------------------------------------------------------------------------
# Spark event log (uncompressed, not rolled), parsed after the run
# ---------------------------------------------------------------------------
_BATCH_RE = re.compile(r"batch = (\d+)")


def parse_event_log(log: Path) -> dict:
    """One application's event log. Per stage: batch id (from the job
    description), task run time, Python time, shuffle and spill bytes and
    the per-task shuffle read; per job: its batch id and wall interval."""
    stages: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    stage_batch: dict[int, int | None] = {}
    for line in log.open():
        d = json.loads(line)
        kind = d["Event"]
        if kind == "SparkListenerJobStart":
            desc = d.get("Properties", {}).get("spark.job.description") or ""
            m = _BATCH_RE.search(desc)
            batch = int(m.group(1)) if m else None
            jobs[d["Job ID"]] = {"batch": batch, "start": d["Submission Time"] / 1000}
            for sid in d["Stage IDs"]:
                stage_batch[sid] = batch
        elif kind == "SparkListenerJobEnd":
            jobs[d["Job ID"]]["end"] = d["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            tm = d.get("Task Metrics") or {}
            s = stages.setdefault(d["Stage ID"], _new_stage())
            rd = tm.get("Shuffle Read Metrics", {})
            read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            s["task_s"] += tm.get("Executor Run Time", 0) / 1000
            s["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            s["shuffle_read"] += read
            s["task_reads"].append(read)
            s["spill"] += tm.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            si = d["Stage Info"]
            s = stages.setdefault(si["Stage ID"], _new_stage())
            for a in si.get("Accumulables", []):
                if a["Name"] == "time to run Python workers":
                    s["python_s"] += float(a["Value"]) / 1000
    for sid, s in stages.items():
        s["batch"] = stage_batch.get(sid)
    return {"stages": stages, "jobs": jobs}


def _new_stage() -> dict:
    return {"task_s": 0.0, "python_s": 0.0, "shuffle_write": 0, "shuffle_read": 0,
            "spill": 0, "task_reads": []}
