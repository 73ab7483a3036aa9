"""The keyed-state harness: the package's one ``applyInPandasWithState``
call — Flink's ``KeyedProcessFunction`` (SURVEY.md §2 I8/J6), keyed
state and event-time timers as ONE mechanism, as in the Flink state
paper (VLDB 2017).

An operator supplies only a STEP, its per-key transition:

    step(key, state, rows, ctx) -> (state, out, timer)

- ``state``: the key's state tuple, None for a new key;
- ``rows``: ALL of the call's rows as one pandas frame in arrival
  order (None on a timed-out call). Spark hands a key's micro-batch
  over in Arrow chunks of at most
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows; joining them
  here means a step that needs event-time order sorts the whole call,
  never one chunk at a time;
- ``ctx``: the call's :class:`Ctx` — the timed-out flag and the
  watermark on both clocks;
- returns the key's new state (None removes the key), an output
  frame (or None; :func:`out_frame` builds one) and the timer instant
  in epoch ms (or None). The harness arms the timer clamped past the
  watermark: a timer at or below it would never fire.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_framework_spark.streaming.epoch import (
    epoch_s_to_timestamps,
    instant_ms_to_naive_s,
    naive_s_to_instant_ms,
    wallclock_tz,
)

# Spark column type -> the state array type that carries a column of
# it; timestamps ride as epoch seconds (micros-exact at current epochs)
_STATE_ARRAY = {
    "boolean": "array<boolean>",
    "bigint": "array<bigint>",
    "int": "array<int>",
    "double": "array<double>",
    "float": "array<float>",
    "string": "array<string>",
    "timestamp": "array<double>",
    "timestamp_ntz": "array<double>",
}


def state_array(col: str, typ: str, where: str, ntz: bool = True) -> str:
    """The state array type for ``col`` (a description used in the
    error) of Spark type ``typ``; raises loudly for a type the state
    cannot carry. ``ntz=False`` refuses TIMESTAMP_NTZ, for a state
    codec that can only encode instants."""
    if typ not in _STATE_ARRAY or (typ == "timestamp_ntz" and not ntz):
        raise ValueError(
            f"{col} of type {typ} is not supported in {where} state"
        )
    return _STATE_ARRAY[typ]


class Ctx:
    """A call's context besides key, state and rows. The watermark
    comes on two clocks: ``wm_ms`` is the instant (epoch ms — the
    timers' clock), ``wm_s`` the same instant as session wall-clock
    naive seconds (the clock of the Arrow-delivered timestamps; see
    :mod:`streaming.epoch`). Both are None without event time."""

    __slots__ = ("timed_out", "wm_ms", "wm_s", "_tz")

    def __init__(self, timed_out: bool, wm_ms: int | None, tz):
        self.timed_out = timed_out
        self.wm_ms = wm_ms
        self.wm_s = (
            None if wm_ms is None else instant_ms_to_naive_s(wm_ms, tz)
        )
        self._tz = tz

    def instant_ms(self, naive_s: float) -> int:
        """Naive wall-clock seconds -> the timers' instant epoch ms."""
        return naive_s_to_instant_ms(naive_s, self._tz)


def out_frame(rows: list, names: Sequence[str], ts_names=()):
    """A step's output tuples -> a frame with columns ``names``, or
    None for no rows; the epoch-second columns ``ts_names`` render as
    timestamps."""
    if not rows:
        return None
    cols = dict(zip(names, map(list, zip(*rows))))
    for c in ts_names:
        cols[c] = epoch_s_to_timestamps(cols[c])
    return pd.DataFrame(cols)


def keyed_fn(step: Callable, timed: bool, tz=None):
    """The per-call ``(key, pdfs, state)`` function that runs ``step``;
    ``timed`` reads the watermark and arms timers, ``tz`` is the
    wall-clock zone of the event-time column (``epoch.wallclock_tz``)."""

    def fn(key: tuple, pdfs, state: GroupState):
        ctx = Ctx(
            state.hasTimedOut,
            state.getCurrentWatermarkMs() if timed else None,
            tz,
        )
        rows = None
        if not ctx.timed_out:
            chunks = list(pdfs)
            rows = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
        new, out, timer = step(
            key, state.get if state.exists else None, rows, ctx
        )
        if new is None:
            state.remove()
        else:
            state.update(new)
        if timer is not None:
            state.setTimeoutTimestamp(max(timer, ctx.wm_ms + 1))
        if out is not None:
            yield out

    return fn


def keyed_process(
    df: DataFrame,
    keys: Sequence[str],
    step: Callable,
    *,
    out_schema: str,
    state_schema: str,
    event_time: str | None = None,
) -> DataFrame:
    """Run ``step`` per key of ``df`` grouped by ``keys`` (update
    mode). Naming the ``event_time`` column turns on the watermark
    clock and event-time timers (``EventTimeTimeout``); the input
    then needs a watermark."""
    timed = event_time is not None
    tz = wallclock_tz(df, event_time) if timed else None
    return df.groupBy(*keys).applyInPandasWithState(
        keyed_fn(step, timed, tz),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if timed
            else GroupStateTimeout.NoTimeout
        ),
    )
