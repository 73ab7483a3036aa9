"""Shared epoch-seconds <-> timestamp codec for streaming state.

``applyInPandasWithState`` state schemas carry event times as
``double`` epoch seconds (micros-exact at current epochs). Batch
equivalence tests require the save/restore round-trip to be
bit-identical wherever it appears — the streaming MATCH_RECOGNIZE
twin (:mod:`streaming.mr`) and the OVER-window twin
(:mod:`streaming.stateful`) must agree on it — so the conversion
lives here once instead of as per-module copies that could drift.

Convention: tz-naive timestamps are wall-clock values interpreted as
UTC on the number line (the same convention the state-twin tests pin
under foreign-timezone sessions); restore rounds to whole
microseconds before building the nanosecond Timestamp.
"""

from __future__ import annotations

import pandas as pd


def ts_series_to_epoch_s(series: pd.Series) -> list[float]:
    """Timestamp column -> epoch-seconds floats (micros-exact),
    normalized through ns regardless of the Arrow-side unit (us/ns)."""
    return [
        v / 1e9
        for v in series.to_numpy(dtype="datetime64[ns]")
        .astype("int64")
        .tolist()
    ]


def epoch_s_to_timestamps(values) -> list[pd.Timestamp]:
    """Epoch-seconds floats -> tz-naive Timestamps, rounded to whole
    microseconds (the state schema's precision floor)."""
    return [pd.Timestamp(round(s * 1e6) * 1000) for s in values]


# -- watermark clock alignment (round 9) ------------------------------
#
# The keyed-state watermark is an INSTANT epoch (ms), but Arrow
# hands TIMESTAMP (instant) columns to pandas as SESSION-TIMEZONE
# WALL-CLOCK naive values — so any state function comparing the two
# scales directly is wrong by the session offset (confirmed: a
# Tokyo-timezone session delayed every count-trigger firing by 9h and
# drained nothing; a New-York session widens the watermark and fires
# EARLY). The keyed-state harness (:mod:`streaming.keyed`) converts
# through these helpers, keyed by the timezone captured at
# operator-construction time.


def wallclock_tz(df, ts_col: str):
    """The timezone whose wall clock Arrow renders ``ts_col`` in when
    crossing to pandas — or None when no conversion is needed (a
    TIMESTAMP_NTZ column's values ARE the watermark scale)."""
    if df.schema[ts_col].dataType.simpleString() != "timestamp":
        return None
    try:
        return df.sparkSession.conf.get("spark.sql.session.timeZone")
    except Exception:
        return None


def instant_ms_to_naive_s(ms: int, tz) -> float:
    """Watermark instant (epoch ms) -> seconds on the session
    wall-clock naive scale the Arrow-delivered timestamps use."""
    if not tz:
        return ms / 1000.0
    t = pd.Timestamp(ms, unit="ms", tz="UTC").tz_convert(tz)
    return t.tz_localize(None).value / 1e9


def naive_s_to_instant_ms(naive_s: float, tz) -> int:
    """Session wall-clock naive seconds -> instant epoch ms (for
    event-time timers, which run on the watermark's clock).
    DST gaps shift forward; ambiguous instants take the earlier."""
    if not tz:
        return round(naive_s * 1000)
    t = pd.Timestamp(round(naive_s * 1e6) * 1000).tz_localize(
        tz, nonexistent="shift_forward", ambiguous=True
    )
    return round(t.timestamp() * 1000)
