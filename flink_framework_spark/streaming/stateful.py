"""Custom keyed state — the Flink ``KeyedProcessFunction`` analogue
(SURVEY.md §2 I8/J6): per-key state + event-time logic as steps on
the :func:`streaming.keyed.keyed_process` harness.

``funnel_conversions`` detects the view→purchase-within-30-minutes
pattern per user. The batch-checkable twin is ``q_funnel`` (a
time-bounded self-join); this streaming form keeps only the pending
view timestamps per user in state — bounded by the pattern horizon,
the way a Flink process function would hold ValueState + timers.
"""

from __future__ import annotations

import bisect
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_framework_spark.streaming.epoch import (
    epoch_s_to_timestamps,
    ts_series_to_epoch_s,
)
from flink_framework_spark.streaming.keyed import keyed_process, out_frame

FUNNEL_SCHEMA = "user_id long, purchase_ts timestamp_ntz"
_FUNNEL_COLS = ("user_id", "purchase_ts")
_STATE_SCHEMA = "views array<double>"
_HORIZON_S = 30 * 60


def _funnel_step(key, st, rows, ctx):
    """Emit one row per purchase that converts a prior view (<=30 min).

    State: epoch-second floats of views still inside the horizon.
    Event-time ordering inside a batch is restored by sorting — the
    file source preserves arrival order per file, but state logic must
    not depend on intra-batch order.
    """
    views: list[float] = [] if st is None else list(st[0])
    out: list[tuple] = []
    rows = rows.sort_values("ts")
    for ts, etype in zip(rows["ts"], rows["event_type"]):
        sec = ts.timestamp()
        if etype == "view":
            views.append(sec)
        elif etype == "purchase":
            views = [v for v in views if sec - v <= _HORIZON_S]
            if any(v < sec for v in views):
                out.append((key[0], ts))
    # trim state to the horizon of the latest seen event
    if views:
        horizon_floor = max(views) - _HORIZON_S
        views = [v for v in views if v >= horizon_floor]
    return (views,), out_frame(out, _FUNNEL_COLS), None


def funnel_conversions(events: DataFrame) -> DataFrame:
    """Streaming view→purchase conversions per user (update mode)."""
    return keyed_process(
        events.select("user_id", "ts", "event_type"), ["user_id"],
        _funnel_step, out_schema=FUNNEL_SCHEMA, state_schema=_STATE_SCHEMA,
    )


def funnel_conversions_join(
    events: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """The JVM-rate relational spelling of :func:`funnel_conversions`:
    a fixed 2-step pattern IS a stream-stream interval join, and
    Spark's symmetric dual-state join machine runs it at millions of
    rows/s where the Arrow/Python state machine does tens of
    thousands (both honestly measured side by side in bench.py).

    Purchases join views of the same user with ``v_ts < purchase_ts
    <= v_ts + horizon`` (the state twin's exact bounds), then
    ``dropDuplicatesWithinWatermark`` collapses the per-(view,
    purchase) pairs to one row per converting purchase — the same
    (user_id, purchase_ts) output, append mode, all JVM.

    DECISION RULE (the streaming-CEP performance posture): a fixed
    event chain — every step a known type, no quantifiers, no
    after-match consumption — should be spelled as chained
    watermarked stream-stream interval joins (this function;
    n-step chains compose the same join pairwise). Reach for the
    Arrow/Python keyed state machines (:func:`funnel_conversions`,
    :mod:`streaming.mr`) only for what joins cannot say: greedy /
    bounded quantifiers, after-match skip strategies, per-match
    running state. That is also Flink's own split — its SQL planner
    compiles simple temporal correlations to joins and reserves the
    NFA for MATCH_RECOGNIZE."""
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("__v_user"),
            F.col("ts").alias("__v_ts"),
        )
        .withWatermark("__v_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    pairs = p.join(
        v,
        (F.col("user_id") == F.col("__v_user"))
        & (F.col("__v_ts") < F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("__v_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    )
    return pairs.select("user_id", "purchase_ts").dropDuplicatesWithinWatermark(
        ["user_id", "purchase_ts"]
    )


def sequence_matches_join(
    events: DataFrame,
    steps: list,
    within: str,
    watermark: str = "10 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """The n-step generalization of :func:`funnel_conversions_join`:
    ``operators.cep.match_sequence`` (followedByAny — every
    combination matches, so no dedup stage is needed) as CASCADED
    watermarked stream-stream interval joins, one per chain edge, all
    JVM. Emits the batch operator's exact columns — ``ts_0..ts_{n-1}``
    / ``id_0..id_{n-1}`` per complete match (equivalence-tested
    against both the batch operator and the Arrow
    :func:`sequence_matches` state machine).

    Same decision rule as the 2-step form: fixed chains belong on the
    join machine (~hundreds of k rows/s); the Arrow state machines
    are for quantifiers, negation-with-state, and skip semantics.

    Chaining mechanics: Spark allows ONE event-time column per
    stream, so after each edge the superseded step timestamp is
    DEMOTED to a plain timestamp (micros round-trip strips the
    watermark tag) and only the newest ``ts_i`` stays watermarked to
    drive the next edge's state bound. Each edge carries the
    per-edge eviction constraint ``ts_i <= ts_{i-1} + within`` —
    implied by the anchor horizon (``ts_{i-1} >= ts_0``), so it
    changes no results, but it is what lets Spark bound and evict
    the left side's join state; the anchor bound itself rides along
    as a residual predicate on the demoted ``ts_0``."""
    if len(steps) < 2:
        raise ValueError("a sequence pattern needs at least 2 steps")
    # steps go through the shared cep predicate chokepoint, so a step
    # may be a tag, an expanded subtype set, or a StepPred carrying a
    # where() condition — the join machine compiles all three JVM-side
    from flink_framework_spark.operators.cep import _type_pred

    def step_df(i: int, step) -> DataFrame:
        return (
            events.filter(_type_pred(type_col, step))
            .select(
                F.col(key_col).alias(f"__k{i}"),
                F.col(ts_col).alias(f"ts_{i}"),
                F.col(id_col).alias(f"id_{i}"),
            )
            .withWatermark(f"ts_{i}", watermark)
        )

    def demote(c: str):
        # value-identical copy without the event-time/watermark tag
        return F.timestamp_micros(F.unix_micros(F.col(c)))

    horizon = F.expr(f"INTERVAL {within}")
    cur = step_df(0, steps[0])
    for i, step in enumerate(steps[1:], start=1):
        nxt = step_df(i, step)
        cond = (
            (F.col(f"__k{i}") == F.col("__k0"))
            & (F.col(f"ts_{i}") > F.col(f"ts_{i-1}"))
            & (F.col(f"ts_{i}") <= F.col(f"ts_{i-1}") + horizon)
        )
        if i >= 2:
            cond = cond & (F.col(f"ts_{i}") <= F.col("ts_0") + horizon)
        cur = (
            cur.join(nxt, cond)
            .drop(f"__k{i}")
            .withColumn(f"ts_{i-1}", demote(f"ts_{i-1}"))
        )
    return cur.withColumnRenamed("__k0", key_col)


_NEG_STATE_SCHEMA = "views array<double>, clicks array<double>"


def _negated_funnel_step(key, st, rows, ctx):
    """view -> purchase within the horizon with NO click between: the
    streaming spelling of CEP negation (operators.cep
    .match_sequence_negated).

    Clicks are KEPT in state (horizon-trimmed like views) and the
    no-click-between test runs at purchase time with the strict
    v < c < p bounds. An earlier spelling invalidated views eagerly on
    each click; that destroys state a purchase arriving in a LATER
    micro-batch with an earlier event time would still need — keeping
    both lists makes the operator robust to bounded cross-batch
    disorder instead of only same-batch reordering. Per-purchase cost
    is |views| x |clicks| inside one horizon window — bounded by the
    pattern horizon, not the stream length. Strict bounds also make
    same-instant ties (c == p, c == v, v == p) fall out of the
    comparison itself; no sort tie-break is needed."""
    views, clicks = ([], []) if st is None else map(list, st)
    out: list[tuple] = []
    rows = rows.sort_values("ts")
    for ts, etype in zip(rows["ts"], rows["event_type"]):
        sec = ts.timestamp()
        if etype == "view":
            views.append(sec)
        elif etype == "click":
            clicks.append(sec)
        elif etype == "purchase":
            views = [v for v in views if sec - v <= _HORIZON_S]
            if any(
                v < sec and not any(v < c < sec for c in clicks)
                for v in views
            ):
                out.append((key[0], ts))
    # trim BOTH lists to the horizon of the latest seen event: a click
    # older than every retainable view can never negate anything again
    hi = max(views + clicks, default=None)
    if hi is not None:
        views = [v for v in views if v >= hi - _HORIZON_S]
        clicks = [c for c in clicks if c >= hi - _HORIZON_S]
    return (views, clicks), out_frame(out, _FUNNEL_COLS), None


def negated_funnel_conversions(events: DataFrame) -> DataFrame:
    """Streaming twin of q_cep_negation: view->purchase conversions
    with no intervening click, per user (update mode)."""
    return keyed_process(
        events.select("user_id", "ts", "event_type"), ["user_id"],
        _negated_funnel_step, out_schema=FUNNEL_SCHEMA,
        state_schema=_NEG_STATE_SCHEMA,
    )


# TIMESTAMP (instant), not NTZ: the reconstructed values are naive
# SESSION-LOCAL wall clock (Arrow delivers instants to pandas as
# session-tz naive), so declaring them as instants makes Spark
# re-attach the session zone and the round trip is exact; render with
# streaming_ops._fmt_event_time (UTC) to compare with batch NTZ twins.
TIMES_SCHEMA = (
    "user_id long, ts_first timestamp, ts_last timestamp, n_reps int"
)
_TIMES_STATE_SCHEMA = (
    "clicks array<double>, click_ids array<long>, emitted array<string>"
)
# the reorder buffer's fields, appended after its core's own fields
_PEND_STATE_SCHEMA = (
    ", pend_ts array<double>, pend_id array<long>,"
    " pend_type array<string>, hi double, done double"
)
_PEND_FIELDS = 5


def _quant_out_frame(key, out):
    """Quantifier matches ``(first_s, last_s, n)`` -> the output rows
    of :func:`times_matches` / :func:`greedy_matches` (None if none)."""
    return out_frame(
        [(key[0], *m) for m in out],
        ("user_id", "ts_first", "ts_last", "n_reps"),
        ("ts_first", "ts_last"),
    )


def _feed_in_order(core, rows) -> None:
    """Feed the call's rows to a quantifier core in (event time, event
    id) order — the in-order drivers' contract."""
    rows = rows.sort_values(["ts", "event_id"])
    for ts, eid, etype in zip(
        rows["ts"], rows["event_id"], rows["event_type"]
    ):
        core.feed(ts.timestamp(), eid, etype)


def make_disorder_step(new_core, disorder_s: float):
    """The out-of-order driver for a quantifier core
    (:class:`_TimesCore` or :class:`_GreedyCore`): events park in a
    per-key reorder buffer and are RELEASED — in (event time, event
    id) order — only once the key's high-water mark ``hi`` has moved
    ``disorder_s`` past them, so a later micro-batch may deliver an
    earlier-timestamped event and it still lands in sequence (the
    watermark-delay analogue of the in-order drivers' per-batch
    sort). Events arriving MORE than ``disorder_s`` late — at or
    behind the processed frontier ``done`` — are dropped, exactly
    Spark's late-data rule under a watermark.

    ``new_core(packed)`` builds the key's core from its own state
    fields (None for a new key); the buffer's fields
    (``_PEND_STATE_SCHEMA``) follow them in the key's state. After a
    release the driver calls ``core.settle(done)``: every later
    release has ``sec > done``, so the core may trim what that
    frontier proves dead. State stays bounded: the buffer holds at
    most ``disorder_s`` of events per key plus the core's own bounded
    state.

    Draining a bounded stream: a far-future sentinel event releases
    every real event, which is enough for times (a run matches when
    its follower is released). Greedy closes a run only when the
    NEXT step event is processed, so its sentinel step must itself be
    released: follow it with a second event at least ``disorder_s``
    later."""

    def _step(key, st, rows, ctx):
        if st is not None:
            core = new_core(st[:-_PEND_FIELDS])
            pend = list(zip(*st[-_PEND_FIELDS:-2]))
            hi, done = st[-2:]
        else:
            core = new_core(None)
            pend, hi, done = [], None, None
        for ts, eid, etype in zip(
            rows["ts"], rows["event_id"], rows["event_type"]
        ):
            sec = ts.timestamp()
            pend.append((sec, int(eid), etype))
            hi = sec if hi is None else max(hi, sec)
        if hi is not None:
            release_to = hi - disorder_s
            ready = sorted(
                [e for e in pend if e[0] <= release_to],
                key=lambda e: (e[0], e[1]),
            )
            pend = [e for e in pend if e[0] > release_to]
            # frontier ties drop like strict watermark late data: an
            # event at EXACTLY the processed frontier arriving in a
            # later micro-batch would otherwise be fed after already-
            # released same-second events, breaking the core's declared
            # (event time, event id) feed order. Snapshot the frontier
            # at batch entry so same-batch ties (already (ts, id)-
            # sorted in `ready`) still feed.
            frontier = done
            for sec, eid, etype in ready:
                if frontier is not None and sec <= frontier:
                    continue  # at-or-beyond the allowance: late drop
                core.feed(sec, eid, etype)
                done = sec if done is None else max(done, sec)
            if done is not None:
                core.settle(done)
        new_st = core.pack() + (
            [e[0] for e in pend],
            [e[1] for e in pend],
            [e[2] for e in pend],
            hi,
            done,
        )
        return new_st, _quant_out_frame(key, core.out), None

    return _step


class _TimesCore:
    """The times(m, n) transition core — run enumeration over the
    key's step-event list plus the emitted-run dedup set — shared by
    the in-order driver (:func:`make_times_step`) and the reorder
    buffer (:func:`make_disorder_step`). Events MUST be fed in (event
    time, event id) order; contiguous windows of the clicks list are
    then the batch operator's consecutive runs."""

    def __init__(self, n_min, n_max, horizon_s, step, then_step,
                 packed=None):
        self.n_min, self.n_max = n_min, n_max
        self.horizon_s = horizon_s
        self.step, self.then_step = step, then_step
        if packed is not None:
            self.clicks = list(zip(packed[0], packed[1]))
            self.emitted = set(packed[2])
        else:
            self.clicks, self.emitted = [], set()
        self.out: list[tuple] = []

    def feed(self, sec: float, eid: int, etype: str):
        if etype == self.step:
            self.clicks.append((sec, int(eid)))
        elif etype == self.then_step:
            for n in range(self.n_min, self.n_max + 1):
                for i in range(len(self.clicks) - n + 1):
                    (first, _), (last, last_id) = (
                        self.clicks[i],
                        self.clicks[i + n - 1],
                    )
                    if not (
                        last <= first + self.horizon_s
                        and last < sec
                        and sec <= first + self.horizon_s
                    ):
                        continue
                    rk = f"{first!r}|{last_id}|{n}"
                    if rk not in self.emitted:
                        self.emitted.add(rk)
                        self.out.append((first, last, n))

    def trim(self, floor: float) -> None:
        self.clicks = [(c, i) for (c, i) in self.clicks if c >= floor]
        self.emitted = {
            e for e in self.emitted if float(e.split("|")[0]) >= floor
        }

    def settle(self, done: float) -> None:
        # safe floor: every future release has sec > done
        self.trim(done - self.horizon_s)

    def pack(self):
        return (
            [c for c, _ in self.clicks],
            [i for _, i in self.clicks],
            sorted(self.emitted),
        )


def make_times_step(
    n_min: int,
    n_max: int,
    horizon_s: float,
    step: str = "click",
    then_step: str = "purchase",
):
    """Streaming twin of operators.cep.match_times for one
    (step, then_step) pair: state keeps the key's recent ``step``
    events — (timestamp, event_id) pairs, so runs are identified by
    their ENDING EVENT like the batch window's lag rows (two runs
    with identical timestamps but different ending events are
    distinct matches on both sides) — plus the run keys already
    emitted (a run matches once, on its FIRST qualifying follower —
    the batch spelling's LEFT SEMI). Per-follower cost is
    |clicks| x (n_max - n_min + 1) inside one horizon window.

    This is the IN-ORDER driver: it assumes per-key in-order batches
    (the file-stream twins). :func:`times_matches` routes
    ``disorder_s > 0`` to the reorder buffer
    (:func:`make_disorder_step`), which handles late step events and
    late followers alike."""

    def _times_step(key, st, rows, ctx):
        core = _TimesCore(n_min, n_max, horizon_s, step, then_step, st)
        _feed_in_order(core, rows)
        hi = max((c for c, _ in core.clicks), default=None)
        if hi is not None:
            core.trim(hi - horizon_s)
        return core.pack(), _quant_out_frame(key, core.out), None

    return _times_step


def times_matches(
    events: DataFrame, n_min: int = 2, n_max: int = 3,
    horizon_s: float = 12 * 3600,
    step: str = "click", then_step: str = "purchase",
    disorder_s: float = 0.0,
) -> DataFrame:
    """Streaming twin of q_cep_times: step-run quantifier matches per
    user (update mode), one row per run on its first qualifying
    follower. ``disorder_s > 0`` routes to the reorder buffer
    (:func:`make_disorder_step`), which handles late step events as
    well as late followers."""
    if disorder_s:
        fn = make_disorder_step(
            partial(_TimesCore, n_min, n_max, horizon_s, step, then_step),
            disorder_s,
        )
        state_schema = _TIMES_STATE_SCHEMA + _PEND_STATE_SCHEMA
    else:
        fn = make_times_step(n_min, n_max, horizon_s, step, then_step)
        state_schema = _TIMES_STATE_SCHEMA
    return keyed_process(
        events.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"], fn, out_schema=TIMES_SCHEMA, state_schema=state_schema,
    )


# like TIMES_SCHEMA but n_reps is LONG — the batch twin
# match_one_or_more derives n_reps from F.count (LongType), and the
# streaming twin must mirror the operator it claims equivalence with
GREEDY_SCHEMA = (
    "user_id long, ts_first timestamp, ts_last timestamp, n_reps long"
)
_GREEDY_STATE_SCHEMA = (
    "open_first double, open_last double, open_n long,"
    " closed array<string>, buf array<double>"
)


class _GreedyCore:
    """The greedy-oneOrMore transition core — open-run extension /
    closure, closed-run horizon GC, follower buffering and matching —
    shared by the in-order driver (:func:`make_greedy_step`) and the
    reorder buffer (:func:`make_disorder_step`) so the two semantics
    cannot drift. Events MUST be fed in event-time order; ordering is
    the caller's contract (per-batch sort for the in-order driver,
    the release order of the reorder buffer)."""

    def __init__(self, max_gap_s: float, horizon_s: float, step: str,
                 then_step: str, packed=None):
        self.max_gap_s = max_gap_s
        self.horizon_s = horizon_s
        self.step, self.then_step = step, then_step
        if packed is not None:
            open_first, open_last, open_n, closed_raw, buf = packed
            self.open_first = open_first
            self.open_last = open_last
            self.open_n = open_n
            self.closed = [
                tuple(
                    float(x) if i < 2 else int(x)
                    for i, x in enumerate(e.split("|"))
                )
                for e in closed_raw
            ]
            self.buf = list(buf)
        else:
            self.open_first = self.open_last = None
            self.open_n = 0
            self.closed, self.buf = [], []
        self.out: list[tuple] = []

    def _try_match(self, run, p):
        first, last, _n = run
        return last < p <= first + self.horizon_s

    def close_open(self) -> None:
        if self.open_first is None:
            return
        run = (self.open_first, self.open_last, self.open_n)
        self.open_first = self.open_last = None
        self.open_n = 0
        if run[1] > run[0] + self.horizon_s:  # run outlived horizon
            self.buf = []
            return
        for p in self.buf:
            if self._try_match(run, p):
                self.out.append(run)
                self.buf = []
                return
        self.buf = []
        self.closed.append(run)

    def feed(self, sec: float, eid: int, etype: str):
        # runs are identified by their timestamps; eid is unused
        self.closed[:] = [
            r for r in self.closed if sec <= r[0] + self.horizon_s
        ]
        if etype == self.step:
            if (
                self.open_first is not None
                and sec <= self.open_last + self.max_gap_s
            ):
                self.open_last = max(self.open_last, sec)
                self.open_n += 1
                self.buf = [p for p in self.buf if p > self.open_last]
            else:
                self.close_open()
                self.open_first = self.open_last = sec
                self.open_n = 1
        elif etype == self.then_step:
            for r in list(self.closed):
                if self._try_match(r, sec):
                    self.out.append(r)
                    self.closed.remove(r)
            if self.open_first is not None and sec > self.open_last:
                self.buf.append(sec)

    def settle(self, done: float) -> None:
        # nothing to trim: feed() already expires closed runs
        pass

    def pack(self):
        return (
            self.open_first,
            self.open_last,
            self.open_n,
            [f"{f!r}|{l!r}|{n}" for (f, l, n) in self.closed],
            self.buf,
        )


def make_greedy_step(
    max_gap_s: float,
    horizon_s: float,
    use_timeout: bool = False,
    step: str = "click",
    then_step: str = "purchase",
):
    """Streaming twin of operators.cep.match_one_or_more (greedy
    oneOrMore): per key, state holds the OPEN run (a maximal run is
    only known once a step event lands beyond ``max_gap`` — greedy
    semantics are inherently closure-deferred), the closed-but-
    unmatched runs still inside their follower horizon, and the
    follower timestamps buffered past the open run's end (they match
    only if the run closes without extending over them).

    Runs close on the next out-of-gap step event; a bounded stream
    closes its final runs with a far-future sentinel step event (the
    repo's watermark-sentinel convention). With ``use_timeout=True``
    (requires a watermarked input; the harness then arms event-time
    timers) runs ALSO close when the watermark passes
    ``open_last + max_gap`` — the Flink
    ``KeyedProcessFunction`` event-time timer, so unbounded streams
    need no sentinel: once the watermark proves no in-order event can
    extend the run, the timer fires and the buffered followers emit.

    State is bounded: one open run, closed runs expire after
    ``horizon_s``, and the buffer is trimmed to the open run's
    follower horizon."""

    def _greedy_step(key, st, rows, ctx):
        core = _GreedyCore(max_gap_s, horizon_s, step, then_step, st)
        if ctx.timed_out:
            # the watermark passed open_last + max_gap: no in-order
            # click can extend the run — same closure as an
            # out-of-gap click, timer-driven. Also GC closed runs the
            # watermark has carried past their follower horizon.
            core.close_open()
            core.closed[:] = [
                r for r in core.closed if ctx.wm_s <= r[0] + horizon_s
            ]
        else:
            _feed_in_order(core, rows)
        out = _quant_out_frame(key, core.out)
        if not use_timeout:
            return core.pack(), out, None
        if core.open_first is not None:
            fire_s = core.open_last + max_gap_s
        elif core.closed:  # GC timer for lingering closed runs
            fire_s = max(r[0] for r in core.closed) + horizon_s
        else:  # nothing open or pending: drop the key
            return None, out, None
        return core.pack(), out, ctx.instant_ms(fire_s)

    return _greedy_step


def greedy_matches(
    events: DataFrame,
    max_gap_s: float = 24 * 3600,
    horizon_s: float = 7 * 24 * 3600,
    use_timeout: bool = False,
    step: str = "click",
    then_step: str = "purchase",
    disorder_s: float = 0.0,
) -> DataFrame:
    """Streaming twin of q_cep_greedy: maximal ``step``-run matches
    per user (update mode), one row per run on closure if any
    qualifying ``then_step`` exists. ``use_timeout=True`` closes runs
    on event-time timers too (input must carry a watermark).

    ``disorder_s > 0`` routes to the reorder buffer
    (:func:`make_disorder_step`): cross-batch event-time disorder up to
    the allowance lands in sequence; later-than-that events drop like
    late data under a watermark. Mutually exclusive with
    ``use_timeout`` — the release frontier is per-key
    high-water-mark driven, while timers fire on the global
    watermark; mixing the two closure authorities would double-close
    runs."""
    if disorder_s and use_timeout:
        raise ValueError(
            "greedy_matches: disorder_s and use_timeout are mutually "
            "exclusive (two closure authorities); pick the reorder "
            "buffer (sentinel-drained) or the event-time timer"
        )
    if disorder_s:
        fn = make_disorder_step(
            partial(_GreedyCore, max_gap_s, horizon_s, step, then_step),
            disorder_s,
        )
        state_schema = _GREEDY_STATE_SCHEMA + _PEND_STATE_SCHEMA
    else:
        fn = make_greedy_step(max_gap_s, horizon_s, use_timeout, step,
                              then_step)
        state_schema = _GREEDY_STATE_SCHEMA
    return keyed_process(
        events.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"], fn, out_schema=GREEDY_SCHEMA,
        state_schema=state_schema,
        event_time="ts" if use_timeout else None,
    )


COUNT_WINDOW_SCHEMA = (
    "user_id long, win_id long, n long, sumv double"
)
_CW_STATE_SCHEMA = "total long, cur_sum double"


def make_count_window_step(size: int):
    """Streaming twin of q_stream_count_window — Flink
    ``keyBy().countWindow(size)``: every ``size`` events per key form
    a window regardless of time. State is two scalars (events seen,
    running sum of the open window); each batch emits every window it
    touched with its current totals (update semantics — the open
    window re-emits with higher n until it fills, exactly how Flink's
    count trigger would fire an accumulating window)."""

    def _cw_step(key, st, rows, ctx):
        total, cur_sum = (0, 0.0) if st is None else st
        touched: dict[int, tuple[int, float]] = {}
        for v in rows.sort_values(["ts", "event_id"])["value"]:
            win = total // size
            total += 1
            cur_sum += float(v)
            touched[win] = (total - win * size, cur_sum)
            if total % size == 0:
                cur_sum = 0.0
        out = [(key[0], w, *touched[w]) for w in sorted(touched)]
        return (
            (total, cur_sum),
            out_frame(out, ("user_id", "win_id", "n", "sumv")),
            None,
        )

    return _cw_step


def count_windows(events: DataFrame, size: int = 20) -> DataFrame:
    """Streaming count windows per key (update mode): the I-family
    gap called out in q_stream_count_window's docstring, closed. Take
    the LAST emission per (key, win_id) for the final window totals."""
    return keyed_process(
        events.select("user_id", "ts", "event_id", "value"), ["user_id"],
        make_count_window_step(size), out_schema=COUNT_WINDOW_SCHEMA,
        state_schema=_CW_STATE_SCHEMA,
    )


_SEQ_STATE_SCHEMA = "prefixes array<string>, hi double, absents array<double>"


def make_sequence_step(
    steps: list,
    horizon_s: float,
    disorder_s: float = 0.0,
    absent: str | None = None,
    between: tuple | None = None,
):
    """Streaming twin of operators.cep.match_sequence for an n-step
    chain (followedByAny — every combination matches): state keeps
    the PARTIAL matches per key, the Flink NFA's shared buffer in
    miniature. Each partial is JSON ``[step_idx, secs, ids]``; an
    arriving event of ``steps[i]`` extends every partial at ``i-1``
    (strictly later, inside the horizon of the partial's first
    event), completing matches at the last step — emitted exactly
    once, when the completing event is processed. A type may appear
    at several positions; strict ``>`` on event time keeps an event
    from chaining with itself.

    With ``absent`` set (Flink ``notFollowedBy``, the streaming
    generalization of ``_negated_funnel_step``), absent-type timestamps
    are ALSO kept in state (horizon-trimmed) and a completing match
    only emits if no absent event falls strictly inside the
    ``between`` span (mandatory step indices; default first-to-last)
    among the absent events seen so far — the same in-order contract
    as the 2-step twin.

    State is bounded by the horizon: partials whose first event falls
    ``horizon_s + disorder_s`` behind the high-water mark can never
    complete and are trimmed (``disorder_s`` is the watermark-delay
    analogue)."""
    import json as _json

    n = len(steps)
    if n < 2:
        raise ValueError("a sequence pattern needs at least 2 steps")
    if absent is not None and absent in steps:
        raise ValueError(
            f"absent type {absent!r} is also a chain step — the event "
            "would be both negated and chained; negate a type outside "
            "the pattern"
        )
    if between is not None and absent is None:
        raise ValueError("between= only applies with absent=")
    bi, bj = between if between is not None else (0, n - 1)
    if not (0 <= bi < bj <= n - 1):
        raise ValueError(f"between={between!r} out of range for {steps}")
    positions: dict = {}
    for i, s in enumerate(steps):
        positions.setdefault(s, []).append(i)

    def _seq_step(key, st, rows, ctx):
        # partials bucketed by step index: extension only ever reads
        # bucket i-1 and appends to bucket i, so per-event cost is
        # O(|bucket i-1|), not O(all partials), and no defensive copy
        buckets: list[list] = [[] for _ in range(n - 1)]
        hi = None
        absents: list[float] = []
        if st is not None:
            for p in st[0]:
                step_idx, secs, ids = _json.loads(p)
                buckets[step_idx].append((secs, ids))
            hi = st[1]
            absents = list(st[2])
        out: list[tuple] = []
        rows = rows.sort_values(["ts", "event_id"])
        for ts, eid, etype in zip(
            rows["ts"], rows["event_id"], rows["event_type"]
        ):
            # the trim high-water mark advances on EVERY row: a key
            # dominated by unrelated event types must still trim its
            # partials/absents at the documented horizon + disorder
            # bound (state size, not correctness — trimmed partials
            # can never complete)
            sec = ts.timestamp()
            hi = sec if hi is None else max(hi, sec)
            if etype == absent:
                absents.append(sec)
            if etype not in positions:
                continue
            for i in positions[etype]:
                if i == 0:
                    buckets[0].append(([sec], [int(eid)]))
                    continue
                for secs, ids in buckets[i - 1]:
                    if sec <= secs[-1] or sec > secs[0] + horizon_s:
                        continue
                    if i == n - 1:
                        full = secs + [sec]
                        if absent is None or not any(
                            full[bi] < a < full[bj] for a in absents
                        ):
                            out.append((full, ids + [int(eid)]))
                    else:
                        buckets[i].append((secs + [sec], ids + [int(eid)]))
        if hi is not None:
            floor = hi - horizon_s - disorder_s
            buckets = [
                [(secs, ids) for secs, ids in b if secs[0] >= floor]
                for b in buckets
            ]
            absents = [a for a in absents if a >= floor]
        new_st = (
            [
                _json.dumps([i, secs, ids])
                for i, b in enumerate(buckets)
                for secs, ids in b
            ],
            hi,
            absents,
        )
        if not out:
            return new_st, None, None
        row: dict = {"user_id": key[0]}
        for i in range(n):
            row[f"ts_{i}"] = epoch_s_to_timestamps(secs[i] for secs, _ in out)
            row[f"id_{i}"] = [ids[i] for _, ids in out]
        return new_st, pd.DataFrame(row), None

    return _seq_step


def sequence_matches(
    events: DataFrame,
    steps: list,
    horizon_s: float,
    disorder_s: float = 0.0,
    absent: str | None = None,
    between: tuple | None = None,
) -> DataFrame:
    """Streaming twin of match_sequence (or, with ``absent``,
    match_sequence_negated) for arbitrary n-step chains (update
    mode): one row per complete match, with the same
    ``ts_i``/``id_i`` columns as the batch operator."""
    schema = "user_id long, " + ", ".join(
        f"ts_{i} timestamp, id_{i} long" for i in range(len(steps))
    )
    return keyed_process(
        events.select("user_id", "ts", "event_id", "event_type"),
        ["user_id"],
        make_sequence_step(list(steps), horizon_s, disorder_s, absent,
                           between),
        out_schema=schema, state_schema=_SEQ_STATE_SCHEMA,
    )


CHANGELOG_SCHEMA = (
    "user_id long, last_ts timestamp, last_op string,"
    " last_value double, n_versions long"
)
_CL_STATE_SCHEMA = "last_us long, last_eid long, last_op string, last_value double, n long"


def _changelog_step(key, st, rows, ctx):
    """Per-key upsert materialization: keep the (ts, event_id)-max row
    and a version counter in state; emit the current materialized row
    each batch (update mode). Timestamps are carried as exact epoch
    MICROSECONDS (int) in state — float seconds would round near ns
    boundaries. Intra-batch arrival order must not matter, so the
    max-row comparison is by value, not position."""
    if st is not None:
        last_us, last_eid, last_op, last_value, n = st
    else:
        last_us, last_eid, last_op, last_value, n = -1, -1, None, None, 0
    for ts, eid, op, val in zip(
        rows["ts"], rows["event_id"], rows["event_type"], rows["value"]
    ):
        us = ts.value // 1000
        n += 1
        if (us, eid) > (last_us, last_eid):
            last_us, last_eid, last_op, last_value = us, int(eid), op, float(val)
    out = pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_ts": [pd.Timestamp(last_us * 1000)],
            "last_op": [last_op],
            "last_value": [last_value],
            "n_versions": [n],
        }
    )
    return (last_us, last_eid, last_op, last_value, n), out, None


def changelog_materialize(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.streaming_ops.compact_changelog``:
    Flink's upsert-stream -> table conversion with keyed state. Emits
    the current last-writer-wins row per key every batch (update
    mode); the consumer's final state per key — minus tombstone ops —
    equals the batch compaction (property-tested)."""
    return keyed_process(
        events.select("user_id", "ts", "event_id", "event_type", "value"),
        ["user_id"], _changelog_step, out_schema=CHANGELOG_SCHEMA,
        state_schema=_CL_STATE_SCHEMA,
    )


OVER_SCHEMA = (
    "user_id long, ts timestamp, event_id long, run_n long, run_sum double"
)
_OVER_STATE_SCHEMA = (
    "n long, sumv double, buf_ts array<double>, buf_eid array<long>,"
    " buf_val array<double>"
)


def make_over_window_step():
    """Streaming twin of the event-time OVER window (Flink SQL
    ``SUM(value) OVER (PARTITION BY key ORDER BY rowtime ROWS
    UNBOUNDED PRECEDING)``): per key, every row emits its running
    count and value sum in event-time order.

    Flink's rowtime over-window buffers rows per key and fires them
    when the watermark passes their timestamp — that is the ONLY way
    a per-row running aggregate can be deterministic under disorder,
    and this twin reproduces it: arrivals join a (ts, event_id,
    value) buffer; rows at or below the current watermark flush in
    (ts, event_id) order through the running accumulator; the
    remainder waits. An event-time timer (EventTimeTimeout) re-fires
    the key when the watermark advances past the earliest buffered
    row, so quiet keys still drain — the KeyedProcessFunction
    registerEventTimeTimer pattern. State is the two accumulator
    scalars plus the not-yet-final buffer, which the watermark keeps
    bounded (delay window x per-key rate)."""

    def _over_step(key, st, rows, ctx):
        if st is not None:
            n, sumv, buf_ts, buf_eid, buf_val = st
            buf = sorted(zip(buf_ts, buf_eid, buf_val))
        else:
            n, sumv, buf = 0, 0.0, []
        if not ctx.timed_out:
            for sec, eid, v in zip(
                ts_series_to_epoch_s(rows["ts"]),
                rows["event_id"],
                rows["value"],
            ):
                buf.append((sec, int(eid), float(v)))
            buf.sort()
        # flush strictly below the watermark: Spark admits a late row
        # at exactly ts == watermark, and a same-ts row with a smaller
        # event_id would have to sort BEFORE an already-emitted row —
        # one cut point, sliced once (a pop(0) loop is O(k^2) on a
        # deep buffer)
        cut = bisect.bisect_left(buf, (ctx.wm_s,))
        out: list[tuple] = []
        for sec, eid, v in buf[:cut]:
            n += 1
            sumv += v
            out.append((key[0], sec, eid, n, sumv))
        buf = buf[cut:]
        rows_out = out_frame(
            out, ("user_id", "ts", "event_id", "run_n", "run_sum"), ("ts",)
        )
        if not buf:
            return ((n, sumv, [], [], []) if n else None), rows_out, None
        new_st = (
            n,
            sumv,
            [t for t, _, _ in buf],
            [e for _, e, _ in buf],
            [v for _, _, v in buf],
        )
        # re-fire when the watermark passes the earliest buffered row
        return new_st, rows_out, ctx.instant_ms(buf[0][0])

    return _over_step


def over_window_running(events: DataFrame) -> DataFrame:
    """Per-key event-time OVER window on a stream (append-style
    per-row emission, watermark-ordered). Input must carry a
    watermark; output rows never retract — each is final when
    emitted, exactly Flink's rowtime over-aggregate contract."""
    return keyed_process(
        events.select("user_id", "ts", "event_id", "value"), ["user_id"],
        make_over_window_step(), out_schema=OVER_SCHEMA,
        state_schema=_OVER_STATE_SCHEMA, event_time="ts",
    )
