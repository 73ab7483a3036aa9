"""The keyed-state harness: the package's one ``applyInPandasWithState``
call — Flink's ``KeyedProcessFunction`` (SURVEY.md §2 I8/J6), keyed
state and event-time timers as ONE mechanism, as in the Flink state
paper (VLDB 2017).

An operator supplies only a STEP, its per-key transition:

    step(key, state, rows, ctx) -> (state, out, timer)

- ``key``: the key tuple, its values typed as Arrow hands a key
  column to pandas (``numpy.int64`` for a bigint, ``str`` for a
  string, NaN or None for a null);
- ``state``: the key's state tuple, None for a new key;
- ``rows``: ALL of the key's rows of the call as one pandas frame in
  arrival order, with a fresh index (None on a timed-out call). A
  step that needs event-time order sorts the whole call, never one
  Arrow chunk at a time;
- ``ctx``: the call's :class:`Ctx` — the timed-out flag and the
  watermark on both clocks;
- returns the key's new state (None removes the key), an output
  frame (or None; :func:`out_frame` builds one) and the timer instant
  in epoch ms (or None). The harness arms the timer clamped past the
  watermark: a timer at or below it would never fire.

**Key buckets.** Spark calls Python once per grouping key per
trigger, and each call pays fixed framing: a JSON-plus-pickle
``GroupState``, every column of the slice turned into pandas, output
and state turned back into Arrow. So the harness groups by
``pmod(xxhash64(keys), KEY_BUCKETS)`` — Flink's key group — and one
Python call serves every key of a bucket: it splits the call's rows
by key and runs the step per key. A null in any key column sends the
row to one extra bucket, -1, so a null never widens a bigint key
column of other keys to float64 in pandas.

One state row per bucket holds the bucket's keys column-wise:

- ``__k0 .. __k{n-1}``: the key columns, one array each, encoded
  through :func:`state_array` (timestamps as wall-clock epoch
  seconds);
- ``__timer``: each key's armed timer (epoch ms, null for none);
- one ``array<T>`` per field ``T`` of the operator's state schema.

A key whose step returns None leaves the bucket; a bucket left empty
is removed. The bucket's timer is the minimum of its keys' timers.
Spark fires a timer once the watermark passes it (``timer < wm``),
and so does the harness per key: on ANY call of a bucket, a key that
got no rows and whose timer is below the watermark runs a timed-out
step (``rows=None``, ``ctx.timed_out``). A key with rows never runs
timed out, a key not called keeps its timer, and a step that returns
no timer clears its key's timer, as Spark resets it on every call.

``KEY_BUCKETS`` is a constant, never derived from
``spark.sql.shuffle.partitions`` or ``defaultParallelism``: a
checkpoint records which bucket holds each key's state, so restarting
under another count would route keys to buckets that do not hold
their state and return silently wrong results. Flink fixes its key
groups when a job is created for the same reason. Changing the
constant, or the bucket layout, makes existing checkpoints unusable;
checkpoints written by the per-key harness this replaced cannot be
resumed either.

Scale ceiling: a bucket holds about ``keys / KEY_BUCKETS`` key states
(about 390 at 25k keys), and touching any key of a bucket decodes and
rewrites all of them, so a trigger's state I/O grows with the number
of buckets touched times the bucket size, not with the keys touched.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Callable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from flink_framework_spark.streaming.epoch import (
    epoch_s_to_timestamps,
    instant_ms_to_naive_s,
    naive_s_to_instant_ms,
    wallclock_tz,
)

# The number of key buckets, fixed for a checkpoint's life (see the
# module docstring); 64 is also groupmap.bucket_count's floor.
KEY_BUCKETS = 64
BUCKET_COL = "__kb"

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


def _ts_value(s: float) -> pd.Timestamp:
    return epoch_s_to_timestamps([s])[0]


_NAN = np.float64("nan")
# Key column type -> (stored value of a pandas key value, the pandas
# key value of a stored one, the pandas value of a null key): the
# stored form matches a row's key to its slot, the pandas forms give a
# timed-out key the values and types a row's key would have.
_KEY_CODEC = {
    "boolean": (bool, np.bool_, None),
    "bigint": (int, np.int64, _NAN),
    "int": (int, np.int32, _NAN),
    "double": (float, np.float64, _NAN),
    "float": (float, np.float32, _NAN),
    "string": (str, str, None),
    "timestamp": (lambda v: v.value / 1e9, _ts_value, pd.NaT),
    "timestamp_ntz": (lambda v: v.value / 1e9, _ts_value, pd.NaT),
}
# Spark type -> the numpy dtype pandas gives a column of it that holds
# no null (a null widens ints to float64 and booleans to object)
_NARROW = {
    "boolean": "bool",
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
}


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


def _split_keys(frame: pd.DataFrame, keys: Sequence[str], narrow=()):
    """``(key, rows)`` per key of ``frame`` in first-arrival order; a
    key's rows keep arrival order under a fresh index, and null keys
    form one group. ``narrow`` lists ``(column, dtype)`` pairs: a
    column that a null elsewhere in the frame widened past ``dtype``
    gets it back on each key whose rows hold no null."""
    codes = None
    for k in keys:
        c, uniq = pd.factorize(frame[k], use_na_sentinel=False)
        codes = c if codes is None else pd.factorize(codes * len(uniq) + c)[0]
    sizes = np.bincount(codes)
    if len(sizes) == 1:
        groups = [frame]
    else:
        frame = frame.take(np.argsort(codes, kind="stable"))
        widened = [(c, dt, frame[c].to_numpy(), frame[c].isna().to_numpy())
                   for c, dt in narrow if frame[c].dtype != dt]
        groups = []
        start = 0
        for end in np.cumsum(sizes):
            rows = frame.iloc[start:end].copy(deep=False)
            rows.index = pd.RangeIndex(end - start)
            for c, dt, values, null in widened:
                if not null[start:end].any():
                    rows[c] = values[start:end].astype(dt)
            groups.append(rows)
            start = end
    return [(tuple(g[k].iat[0] for k in keys), g) for g in groups]


def _plain(v):
    """A state value as the plain Python value Spark can unpickle."""
    return v.item() if isinstance(v, np.generic) else v


def keyed_fn(step: Callable, types: dict, keys: Sequence[str],
             timed: bool, tz=None):
    """The per-bucket ``(bucket, pdfs, state)`` function that runs
    ``step`` on each key of the bucket; ``types`` maps the input's
    columns to Spark type names, ``timed`` reads the watermark and
    arms timers, ``tz`` is the wall-clock zone of the event-time
    column (``epoch.wallclock_tz``)."""
    codecs = [_KEY_CODEC[types[k]] for k in keys]
    narrow = [(c, np.dtype(_NARROW[t])) for c, t in types.items()
              if t in _NARROW]
    nk = len(keys)

    def encode(key):
        return tuple(
            None if v is None or v != v else enc(v)
            for v, (enc, _, _) in zip(key, codecs)
        )

    def decode(stored):
        return tuple(
            null if v is None else dec(v)
            for v, (_, dec, null) in zip(stored, codecs)
        )

    def fn(bucket: tuple, pdfs, state: GroupState):
        wm = state.getCurrentWatermarkMs() if timed else None
        enc, timers, states = [], [], []
        if state.exists:
            row = state.get
            enc = list(zip(*row[:nk]))
            timers = list(row[nk])
            states = list(zip(*row[nk + 1:]))
        slot = {e: i for i, e in enumerate(enc)}
        outs = []

        def run(i, key, rows, ctx):
            new, out, timer = step(key, states[i], rows, ctx)
            states[i] = new
            timers[i] = None if timer is None else max(timer, wm + 1)
            if out is not None:
                outs.append(out)

        called = set()
        if not state.hasTimedOut:
            chunks = list(pdfs)
            for c in chunks:
                del c[BUCKET_COL]
            frame = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            ctx = Ctx(False, wm, tz)
            for key, rows in _split_keys(frame, keys, narrow):
                e = encode(key)
                i = slot.get(e)
                if i is None:
                    i = slot[e] = len(enc)
                    enc.append(e)
                    timers.append(None)
                    states.append(None)
                called.add(i)
                run(i, key, rows, ctx)
        if timed:
            expired = None
            for i, t in enumerate(timers):
                if i not in called and t is not None and t < wm:
                    expired = expired or Ctx(True, wm, tz)
                    run(i, decode(enc[i]), None, expired)
        keep = [i for i, s in enumerate(states) if s is not None]
        if not keep:
            state.remove()
        else:
            state.update((
                *([enc[i][j] for i in keep] for j in range(nk)),
                [timers[i] for i in keep],
                *(list(map(_plain, col))
                  for col in zip(*(states[i] for i in keep))),
            ))
            armed = [timers[i] for i in keep if timers[i] is not None]
            if armed:
                state.setTimeoutTimestamp(min(armed))
        yield from outs

    return fn


def _bucket_schema(types: dict, keys: Sequence[str],
                   state_schema: str) -> str:
    """The bucket state row's schema for keys ``keys`` (typed by
    ``types``) and the operator's per-key ``state_schema``; raises
    ValueError for a key column of a type the state cannot carry."""
    fields = StructType.fromDDL(state_schema).fields
    return ", ".join(
        [
            f"__k{i} " + state_array(f"key column {k!r}", types[k],
                                     "key-bucket")
            for i, k in enumerate(keys)
        ]
        + ["__timer array<bigint>"]
        + [f"`{f.name}` array<{f.dataType.simpleString()}>"
           for f in fields]
    )


def _key_bucket(keys: Sequence[str]):
    """The bucket column: ``pmod(xxhash64(keys), KEY_BUCKETS)``, or -1
    for a row with a null key column."""
    null = reduce(operator.or_, [F.col(k).isNull() for k in keys])
    return F.when(null, F.lit(-1)).otherwise(
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(KEY_BUCKETS))
    )


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
    mode), one Python call per key bucket. Naming the ``event_time``
    column turns on the watermark clock and event-time timers
    (``EventTimeTimeout``); the input then needs a watermark."""
    timed = event_time is not None
    tz = wallclock_tz(df, event_time) if timed else None
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    bucket_state = _bucket_schema(types, keys, state_schema)
    return (
        df.withColumn(BUCKET_COL, _key_bucket(keys))
        .groupBy(BUCKET_COL)
        .applyInPandasWithState(
            keyed_fn(step, types, keys, timed, tz),
            outputStructType=out_schema,
            stateStructType=bucket_state,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if timed
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
