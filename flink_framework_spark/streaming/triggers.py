"""Streaming twins of the custom window triggers/evictors
(:mod:`operators.triggers` — Flink ``Trigger``/``Evictor``).

Both machines are watermark-driven keyed state (the
:mod:`streaming.mr` discipline): elements buffer per (key, window),
firings happen exactly when the watermark passes the firing position
— the n-th element's event time for ``CountTrigger`` (positions are
defined over the per-key-per-window (ts, id) EVENT-TIME order, the
deterministic contract shared with the batch operators), the interval
boundary / window end for ``ContinuousEventTimeTrigger`` — and an
event-time timeout re-fires quiet keys so drained output never waits
for new input. State per key is bounded by (windows in flight) x
(window span x per-key rate): the same bound as the streaming
MATCH_RECOGNIZE buffer, with windows GC'd as the watermark passes
their end.
"""

from __future__ import annotations

import json as _json
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_framework_spark.streaming.epoch import (
    epoch_s_to_timestamps,
    instant_ms_to_naive_s,
    naive_s_to_instant_ms,
    ts_series_to_epoch_s,
    wallclock_tz,
)

_STATE_SCHEMA = "windows array<string>"

_COUNT_OUT = (
    "key string, w_start timestamp, firing_seq int, "
    "n_elems bigint, sum_v double"
)
_CONT_OUT = (
    "key string, w_start timestamp, fire_at timestamp, "
    "firing string, n_elems bigint, sum_v double"
)


def _load_windows(state: GroupState) -> dict:
    """The key's in-flight window records, keyed by window start."""
    if not state.exists:
        return {}
    (arr,) = state.get
    return {d["w"]: d for d in map(_json.loads, arr)}


def _store_windows(
    state: GroupState, wins: dict, next_fire: float | None, tz: str | None
) -> None:
    """Persist the key's live windows and arm the event-time timer
    just past ``next_fire`` (naive wall-clock seconds; clamped past
    the current watermark — a timer at or below it never fires), or
    drop the key once no window is left."""
    if not wins:
        state.remove()
        return
    state.update(([_json.dumps(wins[w]) for w in sorted(wins)],))
    if next_fire is not None:
        state.setTimeoutTimestamp(
            max(
                naive_s_to_instant_ms(next_fire, tz) + 1,
                state.getCurrentWatermarkMs() + 1,
            )
        )


def count_trigger_stream(
    events: DataFrame,
    n: int,
    window_s: float = 86400.0,
    evict_last: int | None = None,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming ``CountTrigger(n)`` (+ ``CountEvictor``) — the twin
    of :func:`operators.triggers.fire_on_count` (update mode). A
    firing for the k*n-th element is emitted when the watermark
    passes that element's event time, so the emitted stream equals
    the batch operator row-for-row regardless of how elements split
    across micro-batches."""
    if n < 1:
        raise ValueError("CountTrigger needs n >= 1")
    if evict_last is not None and evict_last < 1:
        raise ValueError("CountEvictor needs keep >= 1")
    # the watermark is an instant; the Arrow-delivered timestamps are
    # session wall-clock naive — align the clocks (epoch.py helpers)
    _tz = wallclock_tz(events, ts_col)

    def _fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (key_value,) = key
        wins = _load_windows(state)
        if not state.hasTimedOut:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                secs = ts_series_to_epoch_s(pdf[ts_col])
                ids = pdf[id_col].tolist()
                vals = pdf[val_col].astype(float).tolist()
                for t, i, v in zip(secs, ids, vals):
                    w = (t // window_s) * window_s
                    d = wins.setdefault(
                        w,
                        {"w": w, "cnt": 0, "sum": 0.0, "last": [],
                         "buf": []},
                    )
                    d["buf"].append([t, i, v])
        wm = instant_ms_to_naive_s(
            state.getCurrentWatermarkMs(), _tz
        )
        out = []
        next_fire = None
        for w in sorted(wins):
            d = wins[w]
            ready = sorted(
                (r for r in d["buf"] if r[0] <= wm),
                key=lambda r: (r[0], r[1]),
            )
            d["buf"] = [r for r in d["buf"] if r[0] > wm]
            for t, i, v in ready:
                d["cnt"] += 1
                d["sum"] += v
                if evict_last is not None:
                    d["last"].append(v)
                    del d["last"][:-evict_last]
                if d["cnt"] % n == 0:
                    if evict_last is None:
                        ne, sv = d["cnt"], d["sum"]
                    else:
                        ne, sv = len(d["last"]), sum(d["last"])
                    out.append(
                        (key_value, w, d["cnt"] // n, ne, sv)
                    )
            if w + window_s <= wm and not d["buf"]:
                del wins[w]
            elif d["buf"]:
                t_next = min(r[0] for r in d["buf"])
                next_fire = (
                    t_next if next_fire is None
                    else min(next_fire, t_next)
                )
        _store_windows(state, wins, next_fire, _tz)
        if out:
            yield pd.DataFrame(
                {
                    "key": [o[0] for o in out],
                    "w_start": epoch_s_to_timestamps(
                        [o[1] for o in out]
                    ),
                    "firing_seq": [o[2] for o in out],
                    "n_elems": [o[3] for o in out],
                    "sum_v": [o[4] for o in out],
                }
            )

    return (
        events.select(
            F.col(key_col).cast("string").alias(key_col),
            ts_col,
            id_col,
            val_col,
        )
        .groupBy(key_col)
        .applyInPandasWithState(
            _fn,
            outputStructType=_COUNT_OUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def continuous_trigger_stream(
    events: DataFrame,
    interval_s: float = 21600.0,
    window_s: float = 86400.0,
    evict_keep_s: float | None = None,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Streaming ``ContinuousEventTimeTrigger`` (+ ``TimeEvictor``) —
    the twin of :func:`operators.triggers.fire_continuous` (update
    mode). Early firings happen exactly when the watermark passes
    each interval boundary (the boundary chain starts strictly after
    the window's first element), the final as it passes the window
    end; the firing at boundary b aggregates buffered elements with
    ``ts <= b`` (all trailing ``evict_keep_s`` of them under
    eviction), so the drained stream equals the batch operator."""
    if not (0 < interval_s < window_s):
        raise ValueError(
            "ContinuousEventTimeTrigger needs 0 < interval < window"
        )
    if window_s % interval_s != 0:
        raise ValueError(
            "interval must divide window — boundary alignment to the "
            "window start equals Flink's epoch alignment only then "
            "(same precondition as the batch operator)"
        )
    _tz = wallclock_tz(events, ts_col)

    def _fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (key_value,) = key
        wins = _load_windows(state)
        if not state.hasTimedOut:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                secs = ts_series_to_epoch_s(pdf[ts_col])
                vals = pdf[val_col].astype(float).tolist()
                for t, v in zip(secs, vals):
                    w = (t // window_s) * window_s
                    d = wins.get(w)
                    if d is None:
                        d = wins[w] = {
                            "w": w,
                            "nb": w
                            + ((t - w) // interval_s + 1) * interval_s,
                            "fired": 0,
                            "el": [],
                        }
                    elif d["fired"] == 0:
                        # an earlier element (still above the
                        # watermark) can pull the first boundary back
                        # — sound only before any firing
                        d["nb"] = min(
                            d["nb"],
                            w + ((t - w) // interval_s + 1) * interval_s,
                        )
                    d["el"].append([t, v])
        wm = instant_ms_to_naive_s(
            state.getCurrentWatermarkMs(), _tz
        )
        out = []
        next_fire = None
        for w in sorted(wins):
            d = wins[w]
            w_end = w + window_s

            def agg(bound):
                lo = (
                    bound - evict_keep_s
                    if evict_keep_s is not None
                    else None
                )
                sel = [
                    e
                    for e in sorted(d["el"])
                    if e[0] <= bound and (lo is None or e[0] > lo)
                ]
                return len(sel), sum(e[1] for e in sel)

            while d["nb"] <= wm and d["nb"] < w_end:
                ne, sv = agg(d["nb"])
                if ne:  # an evictor-emptied pane fires nothing,
                    # like an aggregate over zero surviving elements
                    out.append(
                        (key_value, w, d["nb"], "early", ne, sv)
                    )
                d["nb"] += interval_s
                d["fired"] += 1
            if w_end <= wm:
                ne, sv = agg(w_end)
                if ne:
                    out.append(
                        (key_value, w, w_end, "final", ne, sv)
                    )
                del wins[w]
            else:
                t_next = min(d["nb"], w_end)
                next_fire = (
                    t_next if next_fire is None
                    else min(next_fire, t_next)
                )
        _store_windows(state, wins, next_fire, _tz)
        if out:
            yield pd.DataFrame(
                {
                    "key": [o[0] for o in out],
                    "w_start": epoch_s_to_timestamps(
                        [o[1] for o in out]
                    ),
                    "fire_at": epoch_s_to_timestamps(
                        [o[2] for o in out]
                    ),
                    "firing": [o[3] for o in out],
                    "n_elems": [o[4] for o in out],
                    "sum_v": [o[5] for o in out],
                }
            )

    return (
        events.select(
            F.col(key_col).cast("string").alias(key_col),
            ts_col,
            val_col,
        )
        .groupBy(key_col)
        .applyInPandasWithState(
            _fn,
            outputStructType=_CONT_OUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_LATE_OUT = (
    "key string, w_start timestamp, firing string, "
    "fire_seq bigint, n_elems bigint, sum_v double"
)


def allowed_lateness_stream(
    events: DataFrame,
    window_s: float = 86400.0,
    delay_s: float = 600.0,
    lateness_s: float = 3600.0,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Flink ``allowedLateness(lateness)`` window refinement — the
    streaming twin of :func:`operators.triggers.fire_allowed_lateness`
    (update mode).

    Mechanics: Spark's stateful operators DROP rows behind the
    watermark before user code sees them, so the one knob Flink has
    two of (watermark delay vs allowed lateness) is recovered by
    SHIFTING the declared watermark — this operator watermarks the
    input itself with ``delay + window + lateness`` (the input must
    arrive un-watermarked) and reconstructs Flink's logical watermark
    as ``spark_wm + window + lateness`` inside the state function.
    Every row Flink's ``isElementLate`` admits then still reaches the
    operator, and firing/GC decisions use the true Flink bound.

    Firing sequence per (key, window), batch-granular (the micro-
    batch is the unit of arrival, so one late firing per batch of
    admitted late rows — Flink's per-element firing is recovered
    exactly when late elements arrive one per batch, which is what
    the equality tests plant):

    - ``'on_time'`` (fire_seq 0) in the first batch where the logical
      watermark passes ``w_end``, aggregating rows that arrived while
      it was still below (skipped if there were none);
    - ``'late'`` (fire_seq 1..k) in every later batch that admitted
      late rows — the CORRECTED cumulative aggregate;
    - state GC'd once the logical watermark passes
      ``w_end + lateness``; rows past that horizon are dropped.
    """
    if window_s <= 0 or delay_s < 0 or lateness_s < 0:
        raise ValueError(
            "need window > 0, delay >= 0, lateness >= 0"
        )
    shift_s = window_s + lateness_s
    wm_delay = delay_s + shift_s
    # the watermark classifies rows here (late vs dropped), so the
    # instant-vs-wall-clock alignment (epoch.py helpers) is
    # correctness-critical, not just firing-time
    _tz = wallclock_tz(events, ts_col)

    def _fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (key_value,) = key
        wins = _load_windows(state)
        flink_wm = (
            instant_ms_to_naive_s(
                state.getCurrentWatermarkMs(), _tz
            )
            + shift_s
        )
        dirty: set = set()
        if not state.hasTimedOut:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                secs = ts_series_to_epoch_s(pdf[ts_col])
                vals = pdf[val_col].astype(float).tolist()
                for t, v in zip(secs, vals):
                    w = (t // window_s) * window_s
                    w_end = w + window_s
                    if flink_wm >= w_end + lateness_s:
                        continue  # past the lateness horizon: drop
                    d = wins.get(w)
                    if d is None:
                        d = wins[w] = {
                            "w": w, "no": 0, "so": 0.0,
                            "nl": 0, "sl": 0.0, "lf": 0, "ot": 0,
                        }
                    if flink_wm < w_end:
                        d["no"] += 1
                        d["so"] += v
                    else:
                        d["nl"] += 1
                        d["sl"] += v
                        dirty.add(w)
        out = []
        next_fire = None
        for w in sorted(wins):
            d = wins[w]
            w_end = w + window_s
            if not d["ot"] and flink_wm >= w_end and d["no"]:
                out.append(
                    (key_value, w, "on_time", 0, d["no"], d["so"])
                )
                d["ot"] = 1
            if w in dirty and flink_wm >= w_end:
                d["lf"] += 1
                out.append(
                    (
                        key_value, w, "late", d["lf"],
                        d["no"] + d["nl"], d["so"] + d["sl"],
                    )
                )
            if flink_wm >= w_end + lateness_s:
                del wins[w]
            else:
                # timers run on the SPARK watermark clock (instant,
                # unshifted): convert back from the naive flink clock
                t_next = (
                    w_end
                    if (not d["ot"] and d["no"])
                    else w_end + lateness_s
                ) - shift_s
                next_fire = (
                    t_next if next_fire is None
                    else min(next_fire, t_next)
                )
        _store_windows(state, wins, next_fire, _tz)
        if out:
            yield pd.DataFrame(
                {
                    "key": [o[0] for o in out],
                    "w_start": epoch_s_to_timestamps(
                        [o[1] for o in out]
                    ),
                    "firing": [o[2] for o in out],
                    "fire_seq": [o[3] for o in out],
                    "n_elems": [o[4] for o in out],
                    "sum_v": [o[5] for o in out],
                }
            )

    src = events.withWatermark(
        ts_col, f"{int(round(wm_delay))} seconds"
    )
    return (
        src.select(
            F.col(key_col).cast("string").alias("__k"),
            F.col(ts_col),
            F.col(val_col),
        )
        .groupBy("__k")
        .applyInPandasWithState(
            _fn,
            outputStructType=_LATE_OUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
