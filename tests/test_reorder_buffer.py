"""The quantifier reorder buffer (streaming.stateful.make_disorder_step),
driven through the keyed-state harness without a Spark session.

The shared fake GroupState carries the packed state between calls, so
every multi-call test also exercises the pack/unpack round trip of
both the buffer's fields and its core's fields.
"""

from __future__ import annotations

import random
from functools import partial

import pandas as pd
import pytest

from flink_framework_spark.streaming.stateful import (
    _GREEDY_STATE_SCHEMA,
    _PEND_STATE_SCHEMA,
    _TIMES_STATE_SCHEMA,
    _GreedyCore,
    _TimesCore,
    make_disorder_step,
    make_greedy_step,
    make_times_step,
)
from tests.fake_state import FakeState, call

T0 = pd.Timestamp("2024-03-01 12:00:00")
SEC0 = T0.timestamp()


class RecordingCore:
    """A core whose whole state is the feed log, so the log only
    survives between calls through pack/unpack."""

    def __init__(self, packed=None):
        self.fed = [] if packed is None else list(zip(*packed))
        self.out = []

    def feed(self, sec, eid, etype):
        self.fed.append((sec - SEC0, eid, etype))

    def settle(self, done):
        pass

    def pack(self):
        return tuple([f[i] for f in self.fed] for i in range(3))


# RecordingCore's fields, then the buffer's
RECORDING_STATE_SCHEMA = (
    "fed_s array<double>, fed_id array<long>, fed_type array<string>"
    + _PEND_STATE_SCHEMA
)


def batch(events):
    """``(offset_s, event_id, event_type)`` -> one micro-batch frame."""
    return pd.DataFrame(
        {
            "ts": [T0 + pd.Timedelta(seconds=o) for o, _, _ in events],
            "event_id": [e for _, e, _ in events],
            "event_type": [t for _, _, t in events],
        }
    )


def run(step, state, batches):
    """Feed ``batches`` through ``step`` one call each; collect output."""
    frames = [
        f for b in batches for f in call(step, state, (7,), [batch(b)])
    ]
    if not frames:
        return []
    out = pd.concat(frames)
    return sorted(
        zip(out["user_id"], out["ts_first"], out["ts_last"], out["n_reps"])
    )


def fed_log(state):
    """The recording core's feed log, as unpacked from the state."""
    return RecordingCore(state.get[:3]).fed


def test_shuffled_arrival_releases_in_ts_id_order():
    rng = random.Random(3)
    # pairs of events share a second; ids are shuffled so (ts, id)
    # order differs from both arrival order and id order
    ids = list(range(100, 160))
    rng.shuffle(ids)
    events = [(i // 2, ids[i], "click") for i in range(60)]
    # bounded disorder: arrival lags event time by < 5 s, inside the
    # 10 s allowance, so no event is late
    arrival = sorted(events, key=lambda e: e[0] + rng.uniform(0, 5))
    batches = [arrival[i:i + 13] for i in range(0, 60, 13)]
    batches.append([(1000, 1, "click")])  # far-future flush
    state = FakeState(state_schema=RECORDING_STATE_SCHEMA)
    run(make_disorder_step(RecordingCore, 10.0), state, batches)
    assert fed_log(state) == sorted(events, key=lambda e: (e[0], e[1]))
    pend_ts, pend_id, pend_type, hi, done = state.get[3:]
    assert (pend_id, pend_type) == ([1], ["click"])
    assert pend_ts == [hi] == [SEC0 + 1000]
    assert done == SEC0 + 29


def test_frontier_ties_and_late_events():
    state = FakeState(state_schema=RECORDING_STATE_SCHEMA)
    fn = make_disorder_step(RecordingCore, 10.0)
    # hi=20 releases the two sec-0 events (a same-batch tie: both feed)
    run(fn, state, [[(0, 5, "click"), (20, 2, "click"), (0, 1, "click")]])
    assert fed_log(state) == [(0, 1, "click"), (0, 5, "click")]
    assert state.get[-1] == SEC0  # done
    # a cross-batch tie at the frontier drops; a same-batch tie above
    # the entry frontier feeds in id order even though the first of
    # them moves `done` onto the second one's second
    run(fn, state, [[(5, 9, "click"), (0, 3, "click"), (5, 4, "click")]])
    assert fed_log(state)[2:] == [(5, 4, "click"), (5, 9, "click")]
    # behind the allowance: dropped, and never parked either; exactly
    # disorder_s behind hi: released (and no longer parked)
    run(fn, state, [[(2, 7, "purchase"), (12, 8, "purchase"),
                     (10, 6, "purchase")]])
    assert [e[1] for e in fed_log(state)] == [1, 5, 4, 9, 6]
    assert state.get[3:6] == ([SEC0 + 20, SEC0 + 12], [2, 8],
                              ["click", "purchase"])


def _times_in_order():
    return make_times_step(2, 3, 60.0)


def _times_disorder(d):
    return make_disorder_step(partial(_TimesCore, 2, 3, 60.0, "click",
                                    "purchase"), d)


def _greedy_in_order():
    return make_greedy_step(5.0, 60.0)


def _greedy_disorder(d):
    return make_disorder_step(partial(_GreedyCore, 5.0, 60.0, "click",
                                    "purchase"), d)


@pytest.mark.parametrize(
    "in_order, disorder, schema",
    [(_times_in_order, _times_disorder, _TIMES_STATE_SCHEMA),
     (_greedy_in_order, _greedy_disorder, _GREEDY_STATE_SCHEMA)],
    ids=["times", "greedy"],
)
def test_core_matches_equal_the_in_order_driver(in_order, disorder, schema):
    rng = random.Random(11)
    events, t = [], 0.0
    for eid in range(200):
        t += rng.choice([0.0, 1.0, 2.0, 3.0, 8.0])
        events.append((t, eid, rng.choice(["click", "click", "purchase"])))
    # a far-future click closes greedy's last run; the event after it
    # releases that click through the buffer
    tail = [(t + 1000, 900, "click"), (t + 2000, 901, "view")]
    want = run(in_order(), FakeState(state_schema=schema),
               [events + tail[:1]])
    assert want  # the fixture must produce matches
    arrival = sorted(events, key=lambda e: e[0] + rng.uniform(0, 6))
    batches = [arrival[i:i + 17] for i in range(0, len(arrival), 17)]
    got = run(disorder(10.0),
              FakeState(state_schema=schema + _PEND_STATE_SCHEMA),
              batches + [tail[:1], tail[1:]])
    assert got == want
