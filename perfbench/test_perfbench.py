"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import measure  # noqa: E402


def _digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_same_seed_gives_byte_identical_files(tmp_path):
    for write in (gen.write_pages, gen.write_events):
        a, b, c = tmp_path / f"{write.__name__}-a", tmp_path / f"{write.__name__}-b", \
            tmp_path / f"{write.__name__}-c"
        write(a, 7, 3, 200, 20, 1_000_000.0)
        write(b, 7, 3, 200, 20, 1_000_000.0)
        write(c, 8, 3, 200, 20, 1_000_000.0)
        assert _digests(a) == _digests(b)
        assert _digests(a) != _digests(c)


def test_late_rows_stay_out_of_the_first_two_batches(tmp_path):
    gen.write_pages(tmp_path / "p", 3, 12, 100, 20, 0.0)
    gen.write_events(tmp_path / "e", 3, 6, 300, 20, 0.0)
    late = [(pq.read_table(f).to_pandas()["warc_ts"] < gen.EPOCH0).sum()
            for d in ("p", "e") for f in sorted((tmp_path / d).iterdir())]
    pages, events = late[:12], late[12:]
    assert sum(pages[:gen.CLEAN_PAGE_FILES]) == 0 and sum(pages) > 0
    assert sum(events[:2]) == 0 and sum(events) > 0


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert measure.tail(range(10)) is None
    assert measure.tail(range(11)) == (0.0, 100 / 11, 11)
    value, pct, n = measure.tail(range(100, 0, -1))  # order does not matter
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for v in range(1, 101) if v > value) == 10
    assert measure.tail(range(20))[:2] == (9.0, 50.0)


def test_corrupting_one_sink_row_fails_the_output_check(tmp_path):
    from gush_spark.streaming.cep import apply_rules

    gen.write_events(tmp_path, 5, 2, 400, 10, 0.0)
    ev = pd.concat([pq.read_table(f).to_pandas() for f in sorted(tmp_path.iterdir())])
    ev["warc_ts_us"] = ev["warc_ts"].astype("datetime64[us]").astype("int64")
    want = [t for _, g in ev.groupby("host") for t in measure.cep_tuples(apply_rules(g, {}))]
    got = list(want)
    assert measure.compare_rows(got, want) == 0
    host, event_id, url, ts, kind, prior, count, session = got[3]
    got[3] = (host, event_id, url, ts, kind, prior, count + 1, session)
    assert measure.compare_rows(got, want) == 2
    assert measure.rows_hash(got) != measure.rows_hash(want)
