"""CEP stateful operator — the flatMapGroupsWithState analog.

This is the engine's re-imagining of gush's CEP layer (cep/Cep.scala):
gush gives users typed event flows + windowed batches; our engine gives
a keyed, event-time-ordered state machine over page events, keyed by
url-host and run through the keyed-state runner
(streaming/keyed_state.py; north_star requirement).

Semantics per host key:
- events are processed in (warc_ts, event_id) order within each
  microbatch (gush preserved arrival order; we pin event-time order so
  output is deterministic under re-partitioning — SURVEY.md §2.7);
- state is a per-key hash map url → (last_event_ts_us, crawl_count):
  the "per-partition hash-aggregate state store" from the north_rule;
- ``crawl``   → upsert state, emit row with prior_ts_us of the urls's
                previous event (NULL on first sight);
- ``recrawl`` → emit enriched with prior event ts (the J1 stateful
                join: page-event vs prior-crawl state), update state;
- ``drop``    → emit enriched, then evict the url from state.

State growth is bounded two ways at scale: idle hosts are evicted
``ttl_ms`` of event time past the watermark — the TTL and the eviction
live in the runner, not here — and per-url entries are dropped on
``drop`` events. The rule logic itself is a pure function over (pandas
batch, dict state) — unit-testable without Spark (SURVEY.md §7 step 5):
``apply_rules`` is the per-row spec, ``apply_rules_fast`` the numpy
kernel the stream runs. The kernel's fixed cost per host call is
~0.3 ms on a 4-vCPU machine, and it looks the incoming state up once
per distinct url of the batch, so a call costs O(batch rows + batch
urls) whatever the host's live state holds.
"""

from __future__ import annotations

import json
from typing import Any, Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gush_spark.operators.windows import event_time
from gush_spark.streaming.keyed_state import run_keyed

CEP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts_us", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("prior_ts_us", T.LongType()),
        T.StructField("crawl_count", T.LongType()),
        T.StructField("session_id", T.LongType()),
    ]
)

# per-url session gap (event time): a quiet period longer than this
# starts a new session — the session_window gap-merge re-implemented
# inside the keyed state machine (SURVEY.md §2.6)
SESSION_GAP_US = 30 * 60 * 1_000_000

# state: parallel arrays ≙ dict url → (ts_us, count, session_id); arrays
# because the state encoder wants a flat struct, the python side
# reconstructs a dict
CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("urls", T.ArrayType(T.StringType())),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("sessions", T.ArrayType(T.LongType())),
    ]
)


def apply_rules(
    pdf: pd.DataFrame,
    state: dict[str, tuple[int, int, int]],
    session_gap_us: int = SESSION_GAP_US,
) -> pd.DataFrame:
    """Pure rule engine: one host's events (any order) + state dict →
    output rows; mutates ``state`` in place.

    The per-event callbacks gush users wrote as Akka Sink lambdas
    (op: Seq[BinlogEvent] ⇒ Unit, cep/Cep.scala:30,38) are pinned here
    as the crawl/recrawl/drop transitions. Per-url sessionization (gap >
    ``session_gap_us`` of event time starts a new session) is the
    session-window merge done inside the state machine.
    """
    pdf = pdf.sort_values(["warc_ts_us", "event_id"], kind="stable")
    out: list[dict[str, Any]] = []
    for row in pdf.itertuples(index=False):
        url = row.url
        prior = state.get(url)
        prior_ts = prior[0] if prior else None
        prior_sess = prior[2] if prior else 0
        if row.event_type in ("crawl", "recrawl"):
            new_session = (
                prior_ts is None or (row.warc_ts_us - prior_ts) > session_gap_us
            )
            session = prior_sess + 1 if new_session else prior_sess
            count = (prior[1] if prior else 0) + 1
            state[url] = (row.warc_ts_us, count, session)
        elif row.event_type == "drop":
            # a drop ends the url's life: report the session it closes
            # (prior_sess, 0 for a never-seen url) — it must not mint a
            # phantom new session while simultaneously evicting state
            count = prior[1] if prior else 0
            session = prior_sess
            state.pop(url, None)
        else:  # unknown kind → error channel: pass through, no state change
            count = prior[1] if prior else 0
            session = prior_sess
        out.append(
            {
                "host": row.host,
                "event_id": row.event_id,
                "url": url,
                "warc_ts_us": row.warc_ts_us,
                "event_type": row.event_type,
                "prior_ts_us": prior_ts,
                "crawl_count": count,
                "session_id": session,
            }
        )
    return pd.DataFrame(out, columns=[f.name for f in CEP_OUTPUT_SCHEMA.fields])


def apply_rules_fast(
    pdf: pd.DataFrame,
    state: dict[str, tuple[int, int, int]],
    session_gap_us: int = SESSION_GAP_US,
) -> pd.DataFrame:
    """Rule engine as a numpy kernel — output- and state-identical to
    ``apply_rules`` (the semantic spec, asserted in
    tests/test_cep_vectorized.py) with no per-event Python and a small
    fixed cost per host call (~0.3 ms for a 3-row host on a 4-vCPU
    machine). ``state`` is read once per distinct url of the batch and
    written once per url at its last row, so a call costs O(batch rows
    + batch urls), not O(live urls of the host).

    The rows are put in event-time order (``lexsort`` on ts, event_id),
    then grouped by url (stable sort of the ``factorize`` codes) so each
    url's events are one contiguous run. Within it:
    - a *segment* starts at the url's first row and after every drop (a
      drop stays in the segment it closes); only the url's first
      segment sees the incoming state, later ones start evicted;
    - ``prior_ts``: ts of the last crawl/recrawl strictly before the row
      in its segment (a running max of updating-row indices), else the
      incoming state ts in the first segment, else NULL;
    - ``crawl_count``: segment base count + inclusive running count of
      updating rows;
    - ``session_id``: segment base session + running count of
      new-session updates (no prior, or gap > ``session_gap_us``) —
      drop/unknown rows report the session they observe.
    Segmented running sums are global cumsums minus their value just
    before the segment start.
    """
    cols = [f.name for f in CEP_OUTPUT_SCHEMA.fields]
    n = len(pdf)
    if not n:
        return pd.DataFrame(columns=cols)
    ts_in = pdf["warc_ts_us"].to_numpy(dtype="int64")
    eid_in = pdf["event_id"].to_numpy()
    order = np.lexsort((eid_in, ts_in))
    url = pdf["url"].to_numpy()[order]
    et = pdf["event_type"].to_numpy()[order]
    ts = ts_in[order]
    codes, uniques = pd.factorize(url, use_na_sentinel=False)

    # grouped (url-contiguous, event-time within url) order
    g = np.argsort(codes, kind="stable")
    c, t = codes[g], ts[g]
    etg = et[g]
    upd = (etg == "crawl") | (etg == "recrawl")
    drp = etg == "drop"
    idx = np.arange(n)
    first = np.empty(n, dtype=bool)
    first[0] = True
    np.not_equal(c[1:], c[:-1], out=first[1:])
    seg_start = first.copy()
    seg_start[1:] |= drp[:-1]
    url_at = np.maximum.accumulate(np.where(first, idx, 0))
    seg_at = np.maximum.accumulate(np.where(seg_start, idx, 0))
    seg0 = seg_at == url_at

    # incoming state, looked up once per distinct url of the batch
    k = len(uniques)
    st_has = np.zeros(k, dtype=bool)
    st = np.zeros((k, 3), dtype="int64")
    for j, u in enumerate(uniques):
        v = state.get(u)
        if v is not None:
            st_has[j] = True
            st[j] = v
    from_state = seg0 & st_has[c]
    base = np.where(from_state[:, None], st[c], 0)

    def seg_cumsum(x):  # inclusive running sum of x within each segment
        cs = np.cumsum(x)
        return cs - (cs[seg_at] - x[seg_at])

    last_upd = np.maximum.accumulate(np.where(upd, idx, -1))
    prev_upd = np.empty(n, dtype=last_upd.dtype)
    prev_upd[0] = -1
    prev_upd[1:] = last_upd[:-1]
    in_seg = prev_upd >= seg_at
    has_prior = in_seg | from_state
    prior = np.where(in_seg, t[np.maximum(prev_upd, 0)], base[:, 0])

    count = base[:, 1] + seg_cumsum(upd.astype("int64"))
    new_sess = upd & (~has_prior | (t - prior > session_gap_us))
    session = base[:, 2] + seg_cumsum(new_sess.astype("int64"))

    # state merge at each url's last row: its segment's last update wins;
    # a url whose last row is a drop, or that dropped and never updated
    # again, is evicted; a url with only unknown kinds keeps its state
    # (the runs are in code order: run j is url uniques[j])
    last = np.flatnonzero(np.r_[first[1:], True])
    lu = last_upd[last]
    keep = ~drp[last] & (lu >= seg_at[last])
    dropped = np.logical_or.reduceat(drp, np.flatnonzero(first))
    for u in uniques[~keep & dropped]:
        state.pop(u, None)
    for u, i in zip(uniques[keep], lu[keep].tolist()):
        state[u] = (int(t[i]), int(count[i]), int(session[i]))

    # back to event-time order
    inv = np.empty(n, dtype=np.intp)
    inv[g] = idx
    return pd.DataFrame(
        {
            "host": pdf["host"].to_numpy()[order],
            "event_id": eid_in[order],
            "url": url,
            "warc_ts_us": ts,
            "event_type": et,
            "prior_ts_us": pd.arrays.IntegerArray(prior[inv], ~has_prior[inv]),
            "crawl_count": count[inv],
            "session_id": session[inv],
        }
    )


def _load_cep_state(stored) -> dict[str, tuple[int, int, int]]:
    return {} if stored is None else {u: (t, c, s) for u, t, c, s in zip(*stored)}


def _save_cep_state(sdict: dict):
    if not sdict:
        return None
    return (list(sdict), [v[0] for v in sdict.values()],
            [v[1] for v in sdict.values()], [v[2] for v in sdict.values()])


def _session_closures(key: tuple, sdict: dict) -> pd.DataFrame:
    """The CEP session-end record: one ``session_closed`` row per live
    url of an evicted host, carrying the final (prior_ts_us = last event
    ts, crawl_count, session_id). event_id is -1 (synthetic; no input
    row produced it)."""
    ts = [v[0] for v in sdict.values()]
    return pd.DataFrame(
        {
            "host": key[0],
            "event_id": -1,
            "url": list(sdict),
            "warc_ts_us": ts,
            "event_type": "session_closed",
            "prior_ts_us": pd.Series(ts, dtype="Int64"),
            "crawl_count": [v[1] for v in sdict.values()],
            "session_id": [v[2] for v in sdict.values()],
        }
    )


# user-pluggable rule: (event-time-sorted per-host pandas batch, JSON-able
# state dict) → output pandas batch; mutate the state dict in place
CepRule = Callable[[pd.DataFrame, dict], pd.DataFrame]

# custom-rule state codec: one JSON string column — the rule owns the
# shape (gush's user surface is arbitrary Flow/Sink lambdas,
# cep/Cep.scala:30,38; ours is an arbitrary python state dict)
GENERIC_STATE_SCHEMA = T.StructType([T.StructField("js", T.StringType())])


# --- example plug-in rule: gush's windowed count flow -----------------------
# (GushCEP.scala:40-42 bookingsWindowCount re-expressed as a CepRule; the
# canonical demonstration that a user flow plugs into the same stateful
# machinery — tests/test_cep_custom_rule.py runs it through a stream)
WINDOWED_COUNT_WIN_US = 600 * 1_000_000  # 10-minute tumbling windows
# late-data horizon, in windows, kept per host: a watermarked stream never
# delivers events older than the watermark delay (≤ 1 window at the default
# "10 minutes"), so anything further back is dead weight
WINDOWED_COUNT_RETENTION_WINDOWS = 3

WINDOWED_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("window_start_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def windowed_count_rule(pdf: pd.DataFrame, state: dict) -> pd.DataFrame:
    """Running per-(host, window) event count; state maps
    window_start_us (as str — JSON keys) → running total.

    State is BOUNDED: windows older than the late-data horizon
    (``WINDOWED_COUNT_RETENTION_WINDOWS`` behind the batch's max event
    time) are pruned every batch. Without this an always-active host —
    which host-level TTL never evicts — would accumulate one state entry
    per window forever, growing its state row until JSON encode cost
    dominates the microbatch."""
    wins = (pdf["warc_ts_us"] // WINDOWED_COUNT_WIN_US) * WINDOWED_COUNT_WIN_US
    out = []
    for w, n in sorted(wins.value_counts().items()):
        key = str(int(w))
        state[key] = state.get(key, 0) + int(n)
        out.append(
            {
                "host": pdf["host"].iloc[0],
                "window_start_us": int(w),
                "n_events": state[key],
            }
        )
    horizon = int(wins.max()) - WINDOWED_COUNT_RETENTION_WINDOWS * WINDOWED_COUNT_WIN_US
    for key in [k for k in state if int(k) < horizon]:
        del state[key]
    return pd.DataFrame(out, columns=[f.name for f in WINDOWED_COUNT_SCHEMA.fields])


POLITENESS_WIN_US = 60 * 1_000_000  # 1-minute rate windows
POLITENESS_RETENTION_WINDOWS = 3

POLITENESS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts_us", T.LongType()),
        T.StructField("window_start_us", T.LongType()),
        T.StructField("seq_in_window", T.LongType()),
        T.StructField("allowed", T.BooleanType()),
    ]
)


def make_politeness_rule(
    quota: int,
    window_us: int = POLITENESS_WIN_US,
    retention_windows: int = POLITENESS_RETENTION_WINDOWS,
):
    """Crawl-politeness gate as a pluggable CEP rule: at most ``quota``
    fetches per host per event-time window; every event is emitted with
    its within-window sequence number and an ``allowed`` flag (the
    scheduler re-queues the deferred ones) — errors-are-data, the same
    convention as the extraction error channel.

    State maps window_start_us (str, JSON keys) → events counted so
    far, carried across microbatches; windows behind the late-data
    horizon (max batch event time − ``retention_windows`` windows) are
    pruned each batch, bounding state for always-active hosts (same
    discipline as ``windowed_count_rule``). The cross-trigger quota
    guarantee therefore holds only for events WITHIN the retention
    horizon: an event later than it lands in a pruned window whose
    counter restarted at 0 and can be re-allowed, and late in-window
    events are sequenced in arrival order, not event-time order. Run
    behind ``cep_enrich``'s watermark with
    ``watermark_delay <= retention_windows * window_us`` so such events
    are dropped before the rule sees them. Events inside one batch are
    ordered by (event_time, event_id) — deterministic across retries
    and partitionings."""

    def rule(pdf: pd.DataFrame, state: dict) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["warc_ts_us", "event_id"], kind="stable"
        ).reset_index(drop=True)
        wins = (pdf["warc_ts_us"].astype("int64") // window_us) * window_us
        within = wins.groupby(wins).cumcount().astype("int64")
        carry = wins.map(lambda w: state.get(str(int(w)), 0)).astype("int64")
        seq = carry + within
        out = pd.DataFrame(
            {
                "host": pdf["host"],
                "event_id": pdf["event_id"].astype("int64"),
                "url": pdf["url"],
                "warc_ts_us": pdf["warc_ts_us"].astype("int64"),
                "window_start_us": wins,
                "seq_in_window": seq,
                "allowed": seq < quota,
            }
        )
        for w, n in wins.value_counts().items():
            key = str(int(w))
            state[key] = state.get(key, 0) + int(n)
        horizon = int(wins.max()) - retention_windows * window_us
        for key in [k for k in state if int(k) < horizon]:
            del state[key]
        return out[[f.name for f in POLITENESS_SCHEMA.fields]]

    return rule


def cep_enrich(
    events: DataFrame,
    watermark_delay: str | None = "10 minutes",
    rule: CepRule | None = None,
    output_schema: T.StructType | None = None,
    ttl_ms: int = 3_600_000,
    emit_closures: bool = False,
) -> DataFrame:
    """Run a CEP state machine over a (streaming or batch-test) events
    DataFrame with columns (event_id, url, host, warc_ts, event_type).

    Default (rule=None): the crawl/recrawl/drop machine
    (``apply_rules_fast``) with the typed parallel-array state codec.

    ``watermark_delay=None`` runs a stream with no event-time timeouts.

    ``emit_closures=True`` emits one ``session_closed`` summary row per
    live url when a host's state is TTL-evicted (event-time idle past
    the watermark) — session-end records instead of silent eviction.

    On a batch frame each host is stepped once over all its events, on
    fresh state (the keyed-state runner's batch twin); there
    ``emit_closures=True`` emits every host's closures at the end of
    input, as if the stream ended there.

    Plug-in point (SURVEY.md §2.10): pass ``rule`` — a python function
    ``(pdf, state_dict) -> pdf`` over the event-time-sorted per-host
    batch — plus the matching ``output_schema``. State is any JSON-able
    dict, persisted per host as one JSON string; an empty dict after the
    batch clears the key's state. Idle hosts are evicted ``ttl_ms``
    past the watermark (event-time TTL), same as the default machine.

    One shuffle on host (the state key). Skewed hosts: state per key is
    O(live urls per host); hot hosts should be pre-salted upstream only
    for stateless aggs — CEP state must see ALL events of a host, so the
    scale lever here is more shuffle partitions, not salting.
    """
    from pyspark.sql import functions as F

    ev = event_time(events.withColumn("warc_ts", F.col("warc_ts").cast("timestamp")),
                    "warc_ts", watermark_delay)
    # keep the watermarked event-time column in the projection — dropping
    # it would strip the watermark the event-time timeout depends on
    ev = ev.select(
        "host", "event_id", "url", "warc_ts",
        F.unix_micros("warc_ts").alias("warc_ts_us"), "event_type",
    )
    if rule is None:
        return run_keyed(
            ev, ["host"], CEP_OUTPUT_SCHEMA, CEP_STATE_SCHEMA,
            load=_load_cep_state,
            step=lambda key, sdict, pdf: (sdict, apply_rules_fast(pdf, sdict)),
            save=_save_cep_state,
            deadline=lambda key, clock_ms: clock_ms + ttl_ms,
            expire=_session_closures if emit_closures else None,
        )
    if output_schema is None:
        raise ValueError("a custom rule needs its output_schema")

    def step(key: tuple, sdict: dict, pdf: pd.DataFrame):
        pdf = pdf.sort_values(["warc_ts_us", "event_id"], kind="stable")
        return sdict, rule(pdf.reset_index(drop=True), sdict)

    return run_keyed(
        ev, ["host"], output_schema, GENERIC_STATE_SCHEMA,
        load=lambda stored: {} if stored is None else json.loads(stored[0]),
        step=step,
        save=lambda sdict: (json.dumps(sdict),) if sdict else None,
        deadline=lambda key, clock_ms: clock_ms + ttl_ms if ttl_ms else None,
    )
