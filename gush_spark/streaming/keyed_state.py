"""One runner for every keyed state machine — the only module that
speaks ``applyInPandasWithState``'s GroupState protocol.

Gush's CEP layer is one keyed flow per event stream (cep/Cep.scala).
Here each keyed machine — the CEP default machine and its plug-in rules
(streaming/cep.py) and the priority sampler (streaming/sampling.py) —
supplies only its codec and its transition:

- ``load(stored | None) -> acc``: decode the stored state tuple (None:
  the key has no state yet);
- ``step(key, acc, pdf) -> (acc, out)``: fold one non-empty Arrow chunk
  of the key's rows; ``out`` (a frame or None) is emitted;
- ``save(acc) -> stored | None``: encode; None clears the key;
- ``deadline(key, clock_ms) -> ms | None``: the event-time timeout to
  arm after a save (None arms nothing);
- ``expire(key, acc) -> out``: the rows a timed-out key emits before
  its state is removed (optional).

The runner owns the rest. State is decoded once and encoded once per
call. Timeouts are event-time, and on only when the frame is streaming
and carries a watermarked column (``operators/windows.event_time``
declares it, ``event_time_column`` reads it back); otherwise the query
runs with no timeout. ``clock_ms`` is the current watermark,
or — before the first watermark exists (batch 0) — the newest event
time in the call, so a key seen only in the first microbatch still
expires once the watermark passes its deadline.

On a batch frame the same machine runs as its twin: each group is
stepped once on fresh state over all its rows, then flushed through
``expire`` as if the stream had ended there.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gush_spark.operators.windows import event_time_column


def run_keyed(
    df: DataFrame,
    keys: list[str],
    out_schema: T.StructType,
    state_schema: T.StructType,
    *,
    load: Callable,
    step: Callable,
    save: Callable,
    deadline: Callable,
    expire: Callable | None = None,
) -> DataFrame:
    """Group ``df`` by ``keys`` and run the machine given by the
    callbacks (see the module docstring); append-mode output."""
    grouped = df.groupBy(*keys)
    if not df.isStreaming:

        def twin(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            acc, out = step(key, load(None), pdf)
            outs = [out, expire(key, acc) if expire else None]
            outs = [o for o in outs if o is not None and len(o)]
            if not outs:
                return pd.DataFrame(columns=out_schema.fieldNames())
            return pd.concat(outs, ignore_index=True)

        return grouped.applyInPandas(twin, out_schema)

    event_time = event_time_column(df)
    # chunks carry timestamps as naive wall-clock time in the session zone
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")

    def func(
        key: tuple, chunks: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            out = expire(key, load(state.get)) if expire else None
            state.remove()
            if out is not None and len(out):
                yield out
            return
        acc = load(state.get if state.exists else None)
        newest = pd.Timestamp(0)
        for pdf in chunks:
            if not len(pdf):
                continue
            acc, out = step(key, acc, pdf)
            if out is not None and len(out):
                yield out
            if event_time:
                newest = max(newest, pdf[event_time].max())
        stored = save(acc)
        if stored is None:
            state.remove()
            return
        state.update(stored)
        if event_time:
            clock_ms = max(state.getCurrentWatermarkMs(), 0) or (
                newest.tz_localize(tz, ambiguous=True, nonexistent="shift_forward").value
                // 1_000_000
            )
            at = deadline(key, clock_ms)
            if at is not None:
                state.setTimeoutTimestamp(at)

    return grouped.applyInPandasWithState(
        func,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout if event_time else GroupStateTimeout.NoTimeout
        ),
    )
