"""The keyed-state harness (streaming.keyed): per-call plumbing, key
buckets, the per-operator timer conventions, whole-call input order
and the state type map — driven without a streaming query through
the shared fake GroupState. tests/test_keyed_shared.py re-runs every
pin here with a neighbour key sharing each bucket."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from flink_framework_spark.streaming import mr, stateful, temporal, triggers
from flink_framework_spark.streaming.epoch import wallclock_tz
from flink_framework_spark.streaming.keyed import state_array
from tests import fake_state
from tests.fake_state import (
    FakeGroupState,
    FakeState,
    call,
    call_bucket,
    key_states,
)

NY = "America/New_York"
T = int(pd.Timestamp("2024-03-01 12:00", tz="UTC").timestamp())
T_NY = pd.Timestamp("2024-03-01 07:00")  # T on the New York wall clock


def _recording_step(result=(("s",), None, None)):
    """A step returning ``result``; records key 1's calls."""
    seen = []

    def step(key, st, rows, ctx):
        if key[0] == 1:
            seen.append((rows, ctx))
        return result

    return step, seen


# -- the harness ------------------------------------------------------


def test_none_state_removes_the_key():
    st = FakeState()
    call(_recording_step()[0], st, (1,), [pd.DataFrame({"x": [1]})])
    assert st.get == ("s",)
    call(_recording_step((None, None, None))[0], st, (1,),
         [pd.DataFrame({"x": [2]})])
    assert not st.exists


def test_rows_are_the_whole_call_and_none_when_timed_out():
    step, seen = _recording_step((("s",), None, 5))
    a, b = pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [3]})
    call(step, FakeState(0), (1,), [a], timed=True)
    st = FakeState(0)
    call(step, st, (1,), [a, b], timed=True)
    st.wm_ms = 10  # past the key's timer at 5
    call(step, st, (1,), [], timed=True, timed_out=True)
    (one, ctx1), (two, _), (none, ctx3) = seen
    assert list(one["x"]) == [1, 2]
    assert list(two["x"]) == [1, 2, 3] and list(two.index) == [0, 1, 2]
    assert none is None
    assert (ctx1.timed_out, ctx3.timed_out) == (False, True)


def test_a_bucket_of_one_key_and_one_chunk_is_passed_on_uncopied():
    step, seen = _recording_step()
    a = pd.DataFrame({"k": [1, 1], "x": [1, 2]})
    call_bucket(step, FakeGroupState(), [a], ["k"], {"k": "bigint"})
    ((one, _),) = seen
    assert one is a and list(a.columns) == ["k", "x"]


@pytest.mark.parametrize(
    "offset_ms, armed_offset_ms",
    [(-5000, 1), (0, 1), (1, 1), (7, 7)],
)
def test_timer_is_clamped_past_the_watermark(offset_ms, armed_offset_ms):
    wm = T * 1000
    st = FakeState(wm)
    step, _ = _recording_step((("s",), None, wm + offset_ms))
    call(step, st, (1,), [pd.DataFrame({"x": [1]})], timed=True)
    assert st.timer == wm + armed_offset_ms


def test_watermark_arrives_as_naive_wall_clock_seconds():
    step, seen = _recording_step()
    call(step, FakeState(T * 1000), (1,), [pd.DataFrame({"x": [1]})],
         timed=True, tz=NY)
    (_, ctx), = seen
    assert ctx.wm_ms == T * 1000
    assert ctx.wm_s == T_NY.value / 1e9  # 07:00 wall clock, not 12:00
    assert ctx.instant_ms(ctx.wm_s) == T * 1000


def test_untimed_call_reads_no_watermark():
    step, seen = _recording_step()
    st = FakeState()  # no watermark: reading it would fail the clamp
    call(step, st, (1,), [pd.DataFrame({"x": [1]})])
    (_, ctx), = seen
    assert (ctx.wm_ms, ctx.wm_s, st.timer) == (None, None, None)


# -- key buckets --------------------------------------------------------


def _bucket_rows(keys, **cols):
    """One bucket's chunk: key column ``k`` plus ``cols``."""
    return pd.DataFrame({"k": keys, **cols})


def _per_key_step(timers=None, drop=()):
    """A step counting each key's rows in its state; arms
    ``timers[key]`` and removes the keys in ``drop``. Records
    ``(key, rows, timed_out)`` per call."""
    calls = []

    def step(key, st, rows, ctx):
        calls.append((key, rows, ctx.timed_out))
        if key[0] in drop:
            return None, None, None
        n = (st[0] if st else 0) + (0 if rows is None else len(rows))
        return (n,), None, (timers or {}).get(key[0])

    return step, calls


def test_keys_sharing_a_bucket_keep_their_own_state():
    st = FakeGroupState()
    step, calls = _per_key_step()
    call_bucket(step, st, [_bucket_rows([1, 2, 1, 3], x=[10, 20, 11, 30])],
                ["k"], {"k": "bigint"})
    assert [(k, list(r["x"]), list(r.index)) for k, r, _ in calls] == [
        ((1,), [10, 11], [0, 1]), ((2,), [20], [0]), ((3,), [30], [0]),
    ]
    call_bucket(step, st, [_bucket_rows([2], x=[21])], ["k"],
                {"k": "bigint"})
    assert {k: s for k, (_, s) in key_states(st).items()} == {
        (1,): (2,), (2,): (2,), (3,): (1,),
    }


def test_a_key_returning_none_leaves_the_bucket_and_the_rest_stay():
    st = FakeGroupState()
    call_bucket(_per_key_step()[0], st, [_bucket_rows([1, 2, 3])], ["k"],
                {"k": "bigint"})
    call_bucket(_per_key_step(drop={2})[0], st, [_bucket_rows([2, 3])],
                ["k"], {"k": "bigint"})
    assert {k: s for k, (_, s) in key_states(st).items()} == {
        (1,): (1,), (3,): (2,),
    }


def test_a_bucket_left_empty_is_removed():
    st = FakeGroupState()
    call_bucket(_per_key_step()[0], st, [_bucket_rows([1, 2])], ["k"],
                {"k": "bigint"})
    assert st.exists
    call_bucket(_per_key_step(drop={1, 2})[0], st, [_bucket_rows([1, 2])],
                ["k"], {"k": "bigint"})
    assert not st.exists


def test_an_expired_key_without_rows_runs_timed_out_in_a_data_call():
    """Key 2's timer is below the watermark: it runs timed out
    although the call is a data call; key 3's timer equals the
    watermark, so it does not fire and keeps its timer."""
    st = FakeGroupState(0)
    arm, _ = _per_key_step(timers={1: 100, 2: 100, 3: 150})
    call_bucket(arm, st, [_bucket_rows([1, 2, 3])], ["k"],
                {"k": "bigint"}, timed=True)
    st.wm_ms = 150
    step, calls = _per_key_step()
    call_bucket(step, st, [_bucket_rows([1])], ["k"], {"k": "bigint"},
                timed=True)
    assert [(k, r is None, t) for k, r, t in calls] == [
        ((1,), False, False), ((2,), True, True),
    ]
    (key, _, _), = [c for c in calls if c[2]]
    assert type(key[0]) is np.int64  # as a row's key would arrive
    assert {k: t for k, (t, _) in key_states(st).items()} == {
        (1,): None, (2,): None, (3,): 150,
    }
    assert st.timer == 150


def test_the_bucket_is_armed_at_its_keys_earliest_timer():
    st = FakeGroupState(0)
    step, _ = _per_key_step(timers={1: 300, 2: 200})
    call_bucket(step, st, [_bucket_rows([1, 2, 3])], ["k"],
                {"k": "bigint"}, timed=True)
    assert st.timer == 200
    call_bucket(_per_key_step(timers={1: 300}, drop={2})[0], st,
                [_bucket_rows([2])], ["k"], {"k": "bigint"}, timed=True)
    assert st.timer == 300
    call_bucket(_per_key_step()[0], st, [_bucket_rows([1])], ["k"],
                {"k": "bigint"}, timed=True)
    assert st.timer is None  # no key holds a timer: none armed


def test_uncalled_keys_keep_their_timers():
    st = FakeGroupState(0)
    call_bucket(_per_key_step(timers={1: 500, 2: 700})[0], st,
                [_bucket_rows([1, 2])], ["k"], {"k": "bigint"}, timed=True)
    st.wm_ms = 100
    call_bucket(_per_key_step()[0], st, [_bucket_rows([1])], ["k"],
                {"k": "bigint"}, timed=True)
    assert {k: t for k, (t, _) in key_states(st).items()} == {
        (1,): None, (2,): 700,
    }
    assert st.timer == 700


@pytest.mark.parametrize(
    "typ, keys, null, value",
    [
        ("bigint", [np.nan, 5.0, np.nan], None, np.int64(5)),
        ("string", [None, "a", None], None, "a"),
    ],
)
def test_a_null_key_is_one_group(typ, keys, null, value):
    """Null keys form one group; a key column a null widened (bigint
    -> float64) is narrowed back for the other keys."""
    st = FakeGroupState()
    step, calls = _per_key_step()
    call_bucket(step, st, [_bucket_rows(keys, x=[1, 2, 3])], ["k"],
                {"k": typ})
    (k0, r0, _), (k1, r1, _) = calls
    assert k0[0] is None or np.isnan(k0[0])
    assert list(r0["x"]) == [1, 3]
    assert k1 == (value,) and type(k1[0]) is type(value)
    assert type(r1["k"].iat[0]) is type(value)
    assert set(key_states(st)) == {(null,), (value,)}


# -- whole-call input order -------------------------------------------


def _events(rows):
    """``(offset_s, event_id, event_type, value)`` rows of one user."""
    return pd.DataFrame(
        {
            "ts": [T_NY + pd.Timedelta(seconds=o) for o, _, _, _ in rows],
            "event_id": [e for _, e, _, _ in rows],
            "event_type": [t for _, _, t, _ in rows],
            "value": [v for _, _, _, v in rows],
        }
    )


_FUNNEL = [(0, 1, "view", 0.0), (600, 2, "purchase", 0.0),
           (1200, 3, "purchase", 0.0)]
_CLICKS = [(0, 1, "click", 1.0), (1, 2, "click", 2.0),
           (2, 3, "click", 3.0), (3, 4, "click", 4.0),
           (5, 5, "purchase", 5.0), (100, 6, "click", 6.0)]

IN_ORDER = {
    "funnel": (lambda: stateful._funnel_step, _FUNNEL),
    "negated_funnel": (lambda: stateful._negated_funnel_step, _FUNNEL),
    "times": (lambda: stateful.make_times_step(2, 3, 60.0), _CLICKS),
    "greedy": (lambda: stateful.make_greedy_step(5.0, 60.0), _CLICKS),
    "count_window": (lambda: stateful.make_count_window_step(2), _CLICKS),
    "sequence": (
        lambda: stateful.make_sequence_step(["click", "purchase"], 60.0),
        _CLICKS,
    ),
}


@pytest.mark.parametrize("name", sorted(IN_ORDER))
def test_in_order_step_sorts_the_whole_call(name):
    """Two Arrow chunks of one call, later events first: the step
    sees one frame and sorts it whole, so the output and state equal
    the single-chunk call's."""
    make, rows = IN_ORDER[name]
    pdf = _events(rows)
    h = len(pdf) // 2
    one, split = FakeState(), FakeState()
    want = call(make(), one, (7,), [pdf])
    got = call(make(), split, (7,), [pdf.iloc[h:], pdf.iloc[:h]])
    assert want  # the fixture must emit
    assert len(got) == len(want)
    for g, w in zip(got, want):
        pd.testing.assert_frame_equal(g, w)
    assert split.get == one.get


# -- timer conventions, one armed timestamp per operator --------------


def _ms(wall: str) -> int:
    """A New York wall-clock time as the instant's epoch ms."""
    return int(pd.Timestamp(wall, tz=NY).timestamp() * 1000)


def _capture(monkeypatch, module, build):
    """Build an operator with its ``keyed_process`` call captured:
    returns the ``call_bucket`` arguments that run its step, the
    grouped frame as pandas (the rows the step would see) and the key
    columns."""
    seen = {}

    def capture(df, keys, step, *, out_schema, state_schema,
                event_time=None):
        types = {f.name: f.dataType.simpleString() for f in df.schema}
        tz = wallclock_tz(df, event_time) if event_time else None
        seen.update(df=df, keys=keys, args=(step, types, event_time, tz))
        return df

    monkeypatch.setattr(module, "keyed_process", capture)
    build()
    return seen["args"], seen["df"].toPandas(), seen["keys"]


def _arm(args, pdf, keys, wm_ms):
    """One data call per key bucket of ``pdf`` (one key per bucket,
    or one bucket for the key and its neighbour); the one armed
    timer among the keys."""
    step, types, event_time, tz = args
    pdf = fake_state.neighboured(pdf, keys)
    buckets = (
        [pdf] if fake_state.SHARED else [g for _, g in pdf.groupby(keys)]
    )
    timers = set()
    for rows in buckets:
        st = FakeGroupState(wm_ms)
        call_bucket(step, st, [rows.reset_index(drop=True)], keys, types,
                    timed=event_time is not None, tz=tz)
        timers |= {t for t, _ in key_states(st, len(keys)).values()}
    (timer,) = timers
    return timer


def _stream_events(spark, rows):
    """``(user_id, offset_s, event_id, event_type, value)`` rows with
    instants at ``T + offset_s``."""
    return spark.createDataFrame(
        [(u, float(T + o), e, t, v) for u, o, e, t, v in rows],
        "user_id long, t double, event_id long, event_type string,"
        " value double",
    ).select("user_id", F.timestamp_seconds("t").alias("ts"),
             "event_id", "event_type", "value")


def test_count_trigger_arms_one_ms_past_the_next_element(
    spark, monkeypatch
):
    ev = _stream_events(spark, [(1, 10, 1, "click", 1.0),
                                (1, 20, 2, "click", 2.0)])
    args, pdf, keys = _capture(
        monkeypatch, triggers,
        lambda: triggers.count_trigger_stream(ev, n=2),
    )
    assert _arm(args, pdf, keys, T * 1000) == (T + 10) * 1000 + 1


def test_continuous_trigger_arms_one_ms_past_the_boundary(
    spark, monkeypatch
):
    ev = _stream_events(spark, [(1, 0, 1, "click", 1.0)])
    args, pdf, keys = _capture(
        monkeypatch, triggers,
        lambda: triggers.continuous_trigger_stream(ev),
    )
    # 07:00 New York: the first 6 h boundary of its day is 12:00
    assert _arm(args, pdf, keys, (T - 60) * 1000) == (
        _ms("2024-03-01 12:00") + 1
    )


def test_lateness_trigger_arms_on_the_unshifted_clock(spark, monkeypatch):
    ev = _stream_events(spark, [(1, 0, 1, "click", 1.0)])
    args, pdf, keys = _capture(
        monkeypatch, triggers,
        lambda: triggers.allowed_lateness_stream(ev),
    )
    # on-time firing at the window end (03-02 00:00 New York), moved
    # back by window + lateness (25 h) onto the Spark watermark
    assert _arm(args, pdf, keys, (T - 2 * 86400) * 1000) == (
        _ms("2024-02-29 23:00") + 1
    )


def test_mr_arms_one_ms_past_the_open_anchor_window(spark, monkeypatch):
    ev = _stream_events(spark, [(1, 0, 1, "view", 0.0)])
    clause = """
        PARTITION BY user_id ORDER BY ts
        MEASURES A.event_id AS a_id, B.event_id AS b_id
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B)
        WITHIN INTERVAL '30' MINUTE
        DEFINE A AS A.event_type = 'view',
               B AS B.event_type = 'purchase'"""
    args, pdf, keys = _capture(
        monkeypatch, mr,
        lambda: mr.match_recognize_stream(ev, clause, engine="nfa"),
    )
    assert _arm(args, pdf, keys, (T - 60) * 1000) == (T + 1800) * 1000 + 1


def test_temporal_join_arms_one_ms_past_the_watermark(spark, monkeypatch):
    facts = _stream_events(spark, [(1, 0, 1, "view", 3.0)]).select(
        "user_id", "ts", "value"
    )
    dim = _stream_events(spark, [(1, -60, 2, "gold", 0.0)]).select(
        "user_id", F.col("ts").alias("dts"), F.col("event_type").alias("tier")
    )
    args, pdf, keys = _capture(
        monkeypatch, temporal,
        lambda: temporal.temporal_join_changelog_stream(
            facts, dim, "user_id", "ts", "dts"
        ),
    )
    # the fact stays pending until the watermark passes it
    assert _arm(args, pdf, keys, (T - 600) * 1000) == (T - 600) * 1000 + 1


def test_greedy_timer_arms_at_the_gap_end():
    step = stateful.make_greedy_step(5.0, 60.0, use_timeout=True)
    st = FakeState((T - 60) * 1000)
    call(step, st, (7,), [_events([(0, 1, "click", 0.0),
                                   (1, 2, "click", 0.0)])],
         timed=True, tz=NY)
    assert st.timer == (T + 6) * 1000  # open_last + max_gap, no +1 ms


def test_over_timer_arms_at_the_earliest_buffered_row():
    st = FakeState((T - 60) * 1000)
    call(stateful.make_over_window_step(), st, (7,),
         [_events([(3, 1, "x", 1.0), (9, 2, "x", 1.0)])],
         timed=True, tz=NY)
    assert st.timer == (T + 3) * 1000  # the row's instant, no +1 ms


# -- the state type map -----------------------------------------------


def test_state_array_carries_ntz_unless_refused():
    assert state_array("c", "timestamp_ntz", "x") == "array<double>"
    assert state_array("c", "timestamp", "x", ntz=False) == "array<double>"
    with pytest.raises(ValueError, match="timestamp_ntz is not supported"):
        state_array("c", "timestamp_ntz", "x", ntz=False)
    with pytest.raises(ValueError, match="of type map<"):
        state_array("c", "map<string,int>", "x")


def test_temporal_join_refuses_an_ntz_payload(spark):
    facts = _stream_events(spark, [(1, 0, 1, "view", 3.0)]).select(
        "user_id", "ts", F.col("ts").cast("timestamp_ntz").alias("seen")
    )
    dim = _stream_events(spark, [(1, -60, 2, "gold", 0.0)]).select(
        "user_id", F.col("ts").alias("dts"), F.col("event_type").alias("tier")
    )
    with pytest.raises(
        ValueError,
        match="fact column 'seen' of type timestamp_ntz is not supported "
        "in temporal-join state",
    ):
        temporal.temporal_join_changelog_stream(
            facts, dim, "user_id", "ts", "dts"
        )
