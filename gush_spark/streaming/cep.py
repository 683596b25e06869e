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
``drop`` events. The rule logic itself is a pure function over (sorted
pandas batch, dict state) — unit-testable without Spark (SURVEY.md §7
step 5).
"""

from __future__ import annotations

import json
from typing import Any, Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

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
    """Vectorized rule engine — output-identical to ``apply_rules`` (the
    semantic spec, asserted in tests/test_cep_vectorized.py) with no
    per-event Python: a hot host with millions of events per microbatch
    runs in pandas groupby/cumsum kernels, and the state dict is touched
    once per url at the group boundary, not once per row.

    Vectorization of the state machine:
    - ``seg``: per-url segment index = exclusive running count of drop
      events; a drop stays in the segment it closes, rows after it start
      the next segment with a clean (evicted) state;
    - ``prior_ts``: last crawl/recrawl ts strictly before the row within
      (url, segment) — groupby shift(1) + ffill of the ts-where-updating
      series; segment-0 NaNs fall back to the incoming state ts;
    - ``crawl_count``: segment base count + inclusive running count of
      updating events (the current row counts itself iff it updates);
    - ``session_id``: segment base session + running count of
      new-session transitions (gap > session_gap_us or no prior), which
      only updating events perform — drop/unknown rows report the
      session they observe.
    """
    cols = [f.name for f in CEP_OUTPUT_SCHEMA.fields]
    if not len(pdf):
        return pd.DataFrame(columns=cols)
    pdf = pdf.sort_values(["warc_ts_us", "event_id"], kind="stable").reset_index(drop=True)
    url = pdf["url"]
    ts = pdf["warc_ts_us"].astype("int64")
    ts_np = ts.to_numpy()
    et = pdf["event_type"]
    upd = et.isin(("crawl", "recrawl")).to_numpy()
    drp = (et == "drop").to_numpy()

    drp_s = pd.Series(drp.astype("int64"))
    seg = drp_s.groupby(url).cumsum() - drp_s
    grp = [url, seg]
    seg0 = (seg == 0).to_numpy()

    ts_upd = pd.Series(np.where(upd, ts_np.astype("float64"), np.nan))
    prior = ts_upd.groupby(grp).shift(1).groupby(grp).ffill().to_numpy()
    init_ts = url.map({u: float(v[0]) for u, v in state.items()}).to_numpy(dtype="float64")
    prior = np.where(np.isnan(prior) & seg0, init_ts, prior)

    cum_upd = pd.Series(upd.astype("int64")).groupby(grp).cumsum().to_numpy()
    base_cnt = np.where(
        seg0, url.map({u: v[1] for u, v in state.items()}).fillna(0).to_numpy(dtype="int64"), 0
    )
    count = base_cnt + cum_upd

    new_sess = np.isnan(prior) | ((ts_np - prior) > session_gap_us)
    cum_inc = pd.Series((new_sess & upd).astype("int64")).groupby(grp).cumsum().to_numpy()
    base_sess = np.where(
        seg0, url.map({u: v[2] for u, v in state.items()}).fillna(0).to_numpy(dtype="int64"), 0
    )
    session = base_sess + cum_inc

    # state merge at group boundaries only: urls whose final segment has
    # updating events take the last one's (ts, count, session); urls with
    # a drop and nothing updating after it are evicted
    n_drop = drp_s.groupby(url).transform("sum").to_numpy()
    upd_final = upd & (seg.to_numpy() == n_drop)
    if upd_final.any():
        finals = pd.DataFrame(
            {"url": url[upd_final], "ts": ts_np[upd_final],
             "cnt": count[upd_final], "sess": session[upd_final]}
        ).groupby("url", sort=False).tail(1)
        updated = dict(
            zip(finals["url"],
                zip(finals["ts"].tolist(), finals["cnt"].tolist(),
                    finals["sess"].tolist()))
        )
    else:
        updated = {}
    for u in set(url[drp]) - set(updated):
        state.pop(u, None)
    state.update(updated)

    return pd.DataFrame(
        {
            "host": pdf["host"],
            "event_id": pdf["event_id"],
            "url": url,
            "warc_ts_us": ts,
            "event_type": et,
            "prior_ts_us": pd.Series(prior).astype("Int64"),
            "crawl_count": count,
            "session_id": session,
        }
    )


def _load_cep_state(stored) -> dict[str, tuple[int, int, int]]:
    return {} if stored is None else {u: (t, c, s) for u, t, c, s in zip(*stored)}


def _save_cep_state(sdict: dict, watermark_ms: int):
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

    ev = events.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    if watermark_delay and events.isStreaming:
        ev = ev.withWatermark("warc_ts", watermark_delay)
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
        save=lambda sdict, watermark_ms: (json.dumps(sdict),) if sdict else None,
        deadline=lambda key, clock_ms: clock_ms + ttl_ms if ttl_ms else None,
    )
