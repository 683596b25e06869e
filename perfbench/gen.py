"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical parquet files. The program under test only ever sees the
files.

Pages reuse the repo's fixture generator (``sources/fixtures._make_page``:
Zipf hosts, ~3% late rows 30-120 minutes behind, the extraction edge
cases, golden ``text``). Two things differ, and they are why this module
exists rather than calling ``generate_pages``:

- each of the first ``POOL_FILES`` files is seeded on its own (``seed``,
  file index); file k after them reuses the pages of file
  ``k % POOL_FILES`` with its own urls and event times moved forward by
  as many rows as lie between the two, so late rows stay as late. The
  extraction does the same work on a reused page, and rendering is most
  of the generator's time;
- the first ``CLEAN_PAGE_FILES`` files carry no late rows. Spark filters
  late rows with the watermark of the batch before, so batches 0 and 1
  see none; together they read at most that many files at the default
  of 4 files per trigger. From batch 2 on the filtering watermark is
  within 10 minutes of every on-time row and 30+ minutes ahead of every
  late row, so late rows are dropped, and only they, under any split.

Events are a crawl/recrawl/drop change stream: file k covers its own
event-time slice, rows are shuffled inside the file, the on-time span
stays under the CEP's 1-hour state TTL, and far-behind events sit 30+
minutes before the first on-time event. Files 0 and 1 hold none, for the
same reason as above (the CEP reads 1 file per trigger).
"""

from __future__ import annotations

import datetime as dt
import os
import random
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gush_spark.sources.fixtures import (
    EPOCH0,
    PAGE_EVENTS_ARROW_SCHEMA,
    PAGES_ARROW_SCHEMA,
    _make_page,
)

CLEAN_PAGE_FILES = 8
POOL_FILES = 8
ZIPF_A = 1.3
EPOCH0_US = int((EPOCH0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def page_frame(seed: int, k: int, rows_per_file: int, n_hosts: int) -> pd.DataFrame:
    """File ``k`` of the seed's rendered pages: rows k*rows_per_file..,
    plain pages of 2-5 segments."""
    rng = random.Random(seed * 1_000_003 + k)
    first = k * rows_per_file
    return pd.DataFrame([_make_page(rng, i, n_hosts, ZIPF_A, plain_segments=(2, 5))
                         for i in range(first, first + rows_per_file)])


def write_pages(out_dir: Path, seed: int, n_files: int, rows_per_file: int,
                n_hosts: int, mtime0: float) -> list[str]:
    """Write files 0..n_files-1. File k gets mtime ``mtime0 + k``: the file
    source reads files in mtime order, so this pins which files each
    batch reads."""
    out_dir.mkdir(parents=True, exist_ok=True)
    pool: dict[int, pd.DataFrame] = {}
    names = []
    for k in range(n_files):
        p = k % POOL_FILES
        if p not in pool:
            pool[p] = page_frame(seed, p, rows_per_file, n_hosts)
        rows = range(k * rows_per_file, (k + 1) * rows_per_file)
        df = pool[p].copy()
        df["url"] = [u.rsplit("/", 1)[0] + f"/{i}" for u, i in zip(df["url"], rows)]
        df["warc_ts"] += dt.timedelta(seconds=2 * (k - p) * rows_per_file)
        if k < CLEAN_PAGE_FILES:
            late = df["warc_ts"] < EPOCH0
            df.loc[late, "warc_ts"] = [EPOCH0 + dt.timedelta(seconds=i * 2)
                                       for i, is_late in zip(rows, late) if is_late]
        name = f"pages-{k:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(df, schema=PAGES_ARROW_SCHEMA, preserve_index=False),
                       out_dir / name)
        os.utime(out_dir / name, (mtime0 + k, mtime0 + k))
        names.append(name)
    return names


# ---------------------------------------------------------------------------
# crawl / recrawl / drop change stream for the CEP pipeline
# ---------------------------------------------------------------------------
EVENT_SPAN_US = 50 * 60 * 1_000_000  # on-time span, under the 1 h CEP TTL
FAR_BEHIND_FRAC = 0.01


def write_events(out_dir: Path, seed: int, n_files: int, rows_per_file: int,
                 n_hosts: int, mtime0: float) -> list[str]:
    """Change stream over ``n_files`` files. Each url's lifetime is a
    crawl, some recrawls and sometimes a drop (after which it may be
    crawled again); hot hosts own many urls."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n = n_files * rows_per_file
    hosts = np.minimum(np.floor(rng.pareto(ZIPF_A, n) + 1), n_hosts).astype(np.int64) - 1
    # urls per host grow with the host's traffic: ~8 events per url
    url_ids = rng.integers(0, np.maximum(1, np.bincount(hosts, minlength=n_hosts)[hosts] // 8))
    kind = rng.choice(np.array(["crawl", "recrawl", "drop"]), n, p=[0.45, 0.45, 0.10])
    slice_us = EVENT_SPAN_US // n_files
    file_of = np.arange(n) // rows_per_file
    ts = EPOCH0_US + file_of * slice_us + rng.integers(0, slice_us, n)
    far = (rng.random(n) < FAR_BEHIND_FRAC) & (file_of > 1)
    ts = np.where(far, EPOCH0_US - rng.integers(30 * 60, 90 * 60, n) * 1_000_000, ts)
    host_names = np.char.add(np.char.add("h", hosts.astype(str)), ".example")
    urls = np.char.add(np.char.add(np.char.add("https://", host_names), "/u"),
                       url_ids.astype(str))
    fetch = rng.integers(20, 900, n)
    names = []
    for k in range(n_files):
        sel = np.arange(k * rows_per_file, (k + 1) * rows_per_file)
        sel = sel[rng.permutation(len(sel))]  # out of order inside the file
        table = pa.table({
            "event_id": pa.array(sel, pa.int64()),
            "url": urls[sel].tolist(),
            "host": host_names[sel].tolist(),
            "warc_ts": pa.array(ts[sel], pa.timestamp("us")),
            "event_type": kind[sel].tolist(),
            "fields": [[("fetch_ms", str(f))] if e != "drop" else []
                       for f, e in zip(fetch[sel], kind[sel])],
        }, schema=PAGE_EVENTS_ARROW_SCHEMA)
        name = f"events-{k:05d}.parquet"
        pq.write_table(table, out_dir / name)
        os.utime(out_dir / name, (mtime0 + k, mtime0 + k))
        names.append(name)
    return names
