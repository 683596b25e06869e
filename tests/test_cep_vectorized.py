"""apply_rules_fast (vectorized) must be output- AND state-identical to
apply_rules (the per-row semantic spec) on every fixture the spec tests
use, plus randomized event sequences across batch splits."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from gush_spark.streaming.cep import (
    CEP_OUTPUT_SCHEMA,
    SESSION_GAP_US,
    apply_rules,
    apply_rules_fast,
)

COLS = ["host", "event_id", "url", "warc_ts_us", "event_type"]


def _pdf(rows):
    return pd.DataFrame(rows, columns=COLS)


def _norm(out: pd.DataFrame) -> pd.DataFrame:
    """Canonical comparable form (spec emits object columns, fast path
    typed ones)."""
    out = out.reset_index(drop=True)
    return pd.DataFrame(
        {
            "host": out["host"].astype(str),
            "event_id": out["event_id"].astype("int64"),
            "url": out["url"].astype(str),
            "warc_ts_us": out["warc_ts_us"].astype("int64"),
            "event_type": out["event_type"].astype(str),
            "prior_ts_us": pd.to_numeric(out["prior_ts_us"]).astype("Int64"),
            "crawl_count": pd.to_numeric(out["crawl_count"]).astype("int64"),
            "session_id": pd.to_numeric(out["session_id"]).astype("int64"),
        }
    )


def assert_equivalent(rows, init_state=None, gap=None):
    s_spec = dict(init_state or {})
    s_fast = dict(init_state or {})
    kw = {} if gap is None else {"session_gap_us": gap}
    spec = apply_rules(_pdf(rows), s_spec, **kw)
    fast = apply_rules_fast(_pdf(rows), s_fast, **kw)
    pd.testing.assert_frame_equal(_norm(spec), _norm(fast))
    assert {k: tuple(v) for k, v in s_spec.items()} == {
        k: tuple(v) for k, v in s_fast.items()
    }
    return fast, s_fast


FIXTURES = [
    ([("h", 1, "u1", 1000, "crawl"), ("h", 2, "u1", 2000, "recrawl")], None),
    ([("h", 2, "u1", 2000, "recrawl"), ("h", 1, "u1", 1000, "crawl")], None),
    ([("h", 3, "u1", 1000, "drop")], {"u1": (500, 1, 1)}),
    ([("h", 3, "u1", 1000, "drop")], None),  # drop of a never-seen url
    ([("h", 4, "u1", 1000, "purge")], {"u1": (500, 1, 1)}),
    ([("h", 2, "u1", 1000, "recrawl"), ("h", 1, "u1", 1000, "crawl")], None),
    (
        [
            ("h", 1, "u1", 0, "crawl"),
            ("h", 2, "u1", 1_000_000, "recrawl"),
            ("h", 3, "u1", 5_000_000_000, "recrawl"),
        ],
        None,
    ),
    # drop mid-batch: state resets, later events restart count/session
    (
        [
            ("h", 1, "u1", 1000, "crawl"),
            ("h", 2, "u1", 2000, "drop"),
            ("h", 3, "u1", 3000, "crawl"),
            ("h", 4, "u1", 4000, "recrawl"),
        ],
        None,
    ),
    # unknown between updates: prior_ts must track last UPDATING event
    (
        [
            ("h", 1, "u1", 1000, "crawl"),
            ("h", 2, "u1", 2000, "purge"),
            ("h", 3, "u1", 3000, "recrawl"),
        ],
        None,
    ),
    # interleaved urls
    (
        [
            ("h", 1, "u1", 1000, "crawl"),
            ("h", 2, "u2", 1500, "crawl"),
            ("h", 3, "u1", 2000, "recrawl"),
            ("h", 4, "u2", 2500, "drop"),
            ("h", 5, "u2", 3000, "crawl"),
        ],
        None,
    ),
]


@pytest.mark.parametrize("rows,init", FIXTURES)
def test_fast_matches_spec_fixture(rows, init):
    assert_equivalent(rows, init)


def test_fast_matches_spec_custom_gap():
    assert_equivalent(
        [("h", 1, "u1", 0, "crawl"), ("h", 2, "u1", 10, "recrawl")], gap=5
    )


def test_fast_empty_batch():
    out = apply_rules_fast(_pdf([]), {})
    assert list(out.columns) == [f.name for f in CEP_OUTPUT_SCHEMA.fields]
    assert len(out) == 0


def test_fast_matches_spec_randomized_and_across_batches():
    rng = random.Random(42)
    kinds = ["crawl", "recrawl", "drop", "purge"]
    for trial in range(25):
        n = rng.randint(1, 60)
        rows = []
        ts = 0
        for i in range(n):
            ts += rng.choice([1, 500, 10_000_000, 2_000_000_000])
            rows.append(
                (
                    "h",
                    i,
                    f"u{rng.randint(0, 4)}",
                    ts,
                    rng.choice(kinds),
                )
            )
        # split into 1-3 sequential batches: state must carry across
        cut1 = rng.randint(0, n)
        cut2 = rng.randint(cut1, n)
        s_spec: dict = {}
        s_fast: dict = {}
        for chunk in (rows[:cut1], rows[cut1:cut2], rows[cut2:]):
            if not chunk:
                continue
            spec = apply_rules(_pdf(chunk), s_spec)
            fast = apply_rules_fast(_pdf(chunk), s_fast)
            pd.testing.assert_frame_equal(_norm(spec), _norm(fast))
            assert {k: tuple(v) for k, v in s_spec.items()} == {
                k: tuple(v) for k, v in s_fast.items()
            }, f"trial {trial}"

    # runner-shaped input: rows arrive out of order (as in the stream's
    # files), timestamps tie and are broken by event_id, deltas sit
    # exactly on the session gap, and the host arrives with state that
    # drop and purge rows hit
    gap = SESSION_GAP_US
    for trial in range(300):
        n = rng.randint(7, 60)  # > 7 distinct ts values with the purge row
        ids = rng.sample(range(1000), n)
        rows = [
            (
                "h",
                ids[i],
                f"u{rng.randint(0, 6)}",
                rng.choice([0, 1, gap, gap + 1, 2 * gap, 2 * gap + 1, 3 * gap]),
                rng.choice(kinds),
            )
            for i in range(n)
        ]
        init = {
            f"u{j}": (rng.choice([-gap, -1, 0, 1]), rng.randint(1, 5), rng.randint(1, 5))
            for j in range(7)
            if rng.random() < 0.6
        }
        # a purge on a url that has state
        stateful = sorted(init) or ["u0"]
        rows.append(("h", 1000 + trial, rng.choice(stateful), rng.choice([0, gap]), "purge"))
        rng.shuffle(rows)
        assert len({r[3] for r in rows}) < len(rows)  # ts ties present
        cut = rng.randint(0, len(rows))
        s_spec = dict(init)
        s_fast = dict(init)
        for chunk in (rows[:cut], rows[cut:]):
            if not chunk:
                continue
            spec = apply_rules(_pdf(chunk), s_spec)
            fast = apply_rules_fast(_pdf(chunk), s_fast)
            pd.testing.assert_frame_equal(_norm(spec), _norm(fast))
            assert s_spec == s_fast, f"runner-shaped trial {trial}"
