"""CEP-lite: ordered event-sequence matching (SURVEY.md §2 I8).

Flink ships a CEP library for pattern matching over keyed streams; the
batch-relational equivalent of its core ``A -> B -> C within T``
pattern is a chain of per-key interval joins, which is exactly what
``match_sequence`` builds — one equi-join per step, each shuffling on
the key only (no cross joins), so the plan scales like any other
fact-fact join chain. The 2-step special case is the funnel
(``q_funnel``); the streaming twin for arbitrary steps generalizes
``streaming.stateful.funnel_conversions`` (state = per-step pending
timestamps).

Combinatorial note: output is one row per complete match; callers
aggregate (count distinct keys, first match per key) rather than
materializing matches for hot keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_framework_spark.staging import release, stage

# A "step type" anywhere in this module is one concrete tag (str), a
# SET of tags (tuple/list of str) — the Pattern builder's
# subtype()/hierarchy desugaring (Flink `Pattern.subtype(Class)`,
# where an abstract event class stands for the set of its concrete
# subclasses' type tags) — or a :class:`StepPred` carrying an extra
# row-level WHERE condition (Flink `Pattern.where(SimpleCondition)`).
# Every type filter in this module goes through :func:`_type_pred`,
# so all three forms work in every operator.

StepType = "str | Sequence[str] | StepPred"


from dataclasses import dataclass as _dataclass


@_dataclass(frozen=True)
class StepPred:
    """A step's full event predicate: a type tag / expanded tag set
    (or None for any type) AND-combined with an optional SQL boolean
    over the event's columns — the relational spelling of Flink's
    ``Pattern.where(SimpleCondition)``."""

    types: object = None  # str | tuple[str, ...] | None
    where: str | None = None


def _type_pred(type_col: str, t):
    """``event_type = t`` for a concrete tag, ``event_type IN t`` for
    an expanded subtype set, and for a :class:`StepPred` the type
    predicate AND the row-level condition (compiled JVM-side via
    ``F.expr`` — it participates in pushdown like any filter)."""
    if isinstance(t, StepPred):
        p = (
            F.lit(True)
            if t.types is None
            else _type_pred(type_col, t.types)
        )
        if t.where:
            p = p & F.coalesce(F.expr(t.where), F.lit(False))
        return p
    if isinstance(t, str):
        return F.col(type_col) == t
    tags = list(t)
    if not tags:
        raise ValueError("a step's type set cannot be empty")
    return F.col(type_col).isin(*tags)


def _type_overlap(a, b) -> bool:
    """COULD two step types share a row? Conservative: a row-level
    WHERE cannot prove disjointness, so only the tag sets decide —
    a ``StepPred`` with no type constraint overlaps everything.
    (Loud-error guard where semantics require disjoint roles, e.g.
    one_or_more.until.)"""

    def tags(t):
        if isinstance(t, StepPred):
            return None if t.types is None else tags(t.types)
        return {t} if isinstance(t, str) else set(t)

    sa, sb = tags(a), tags(b)
    if sa is None or sb is None:
        return True
    return bool(sa & sb)


def _chain(
    events: DataFrame,
    steps: Sequence[str],
    within: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    first: bool,
) -> DataFrame:
    """Shared join-chain core of :func:`match_sequence` (all
    combinations) and :func:`match_sequence_first` (earliest binding
    per prefix — ``first=True`` inserts a ``row_number() == 1`` window
    per step over the join output)."""
    from pyspark.sql import Window

    if len(steps) < 2:
        raise ValueError("a sequence pattern needs at least 2 steps")

    def step_df(i: int, step) -> DataFrame:
        return events.filter(_type_pred(type_col, step)).select(
            F.col(key_col).alias(f"__k{i}"),
            F.col(ts_col).alias(f"ts_{i}"),
            F.col(id_col).alias(f"id_{i}"),
        )

    cur = step_df(0, steps[0])
    horizon = F.expr(f"INTERVAL {within}")
    for i, step in enumerate(steps[1:], start=1):
        nxt = step_df(i, step)
        cur = cur.join(
            nxt,
            (F.col(f"__k{i}") == F.col("__k0"))
            & (F.col(f"ts_{i}") > F.col(f"ts_{i-1}"))
            & (F.col(f"ts_{i}") <= F.col("ts_0") + horizon),
        ).drop(f"__k{i}")
        if first:
            w = Window.partitionBy(
                "__k0", *[f"id_{j}" for j in range(i)]
            ).orderBy(f"ts_{i}", f"id_{i}")
            cur = (
                cur.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
    return cur.withColumnRenamed("__k0", key_col)


def match_sequence(
    events: DataFrame,
    steps: Sequence[str],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """All complete matches of ``steps`` in order, with every step
    inside ``within`` of the FIRST step, per key — every combination
    matches (Flink ``followedByAny``).

    Returns: key column plus ``ts_0..ts_{n-1}`` and ``id_0..id_{n-1}``
    for the matched events (strictly increasing timestamps).
    """
    return _chain(
        events, steps, within, key_col, ts_col, type_col, id_col,
        first=False,
    )


def match_sequence_first(
    events: DataFrame,
    steps: Sequence[str],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink ``followedBy`` FIRST-occurrence semantics: from each
    prefix match, the next step binds to the EARLIEST qualifying event
    (ties by ``id_col``) — one match per starting event, not the
    all-combinations :func:`match_sequence` (which is Flink's
    ``followedByAny``). Two views may still bind the same click:
    under NO_SKIP, matches don't consume events across starts.

    Scale shape: the same chained keyed interval joins (shared
    :func:`_chain` core), plus one ``row_number() == 1`` window per
    step over the join output — partitioned by (key, prefix event
    ids), so the dedup is keyed and linear, no extra join."""
    return _chain(
        events, steps, within, key_col, ts_col, type_col, id_col,
        first=True,
    )


def anti_join_between(
    matches: DataFrame,
    events: DataFrame,
    lo_col: str,
    hi_col: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    event_type: str | None = None,
) -> DataFrame:
    """Drop matches with an event STRICTLY between ``lo_col`` and
    ``hi_col`` — of type ``event_type``, or of ANY type when None.
    The shared span-exclusion primitive behind ``notFollowedBy``
    (typed) and strict contiguity (untyped): one LEFT ANTI join, equi
    on the key with the time range as the residual condition — a
    single keyed shuffle, not a per-match scan."""
    src = (
        events
        if event_type is None
        else events.filter(_type_pred(type_col, event_type))
    )
    neg = src.select(
        F.col(key_col).alias("__nk"), F.col(ts_col).alias("__nts")
    )
    return matches.join(
        neg,
        (F.col(key_col) == F.col("__nk"))
        & (F.col("__nts") > F.col(lo_col))
        & (F.col("__nts") < F.col(hi_col)),
        "left_anti",
    )


def union_skip_branches(
    events: DataFrame,
    steps: Sequence[str],
    skipped_subsets: Sequence[Sequence[int]],
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Union of :func:`match_sequence` chains, one per subset of
    SKIPPED step indices, every branch aligned to the full-pattern
    ``ts_i``/``id_i`` columns with typed NULLs for its skipped steps —
    the shared branch machinery behind ``optional()`` (both in
    :func:`match_optional` and the Pattern compiler)."""
    ts_type = events.schema[ts_col].dataType
    id_type = events.schema[id_col].dataType
    n = len(steps)
    out = None
    for skipped in skipped_subsets:
        skipped = set(skipped)
        kept = [i for i in range(n) if i not in skipped]
        m = match_sequence(
            events,
            [steps[i] for i in kept],
            within,
            key_col, ts_col, type_col, id_col,
        )
        cols = [F.col(key_col)]
        for i in range(n):
            if i in skipped:
                cols += [
                    F.lit(None).cast(ts_type).alias(f"ts_{i}"),
                    F.lit(None).cast(id_type).alias(f"id_{i}"),
                ]
            else:
                k = kept.index(i)
                cols += [
                    F.col(f"ts_{k}").alias(f"ts_{i}"),
                    F.col(f"id_{k}").alias(f"id_{i}"),
                ]
        branch = m.select(*cols)
        out = branch if out is None else out.unionByName(branch)
    return out


def match_sequence_negated(
    events: DataFrame,
    steps: Sequence[str],
    absent: str,
    within: str,
    between: tuple[int, int] | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink CEP ``notFollowedBy``: complete ``steps`` matches with NO
    ``absent``-type event STRICTLY between ``ts_i`` and ``ts_j``
    (``between=(i, j)``, default first-to-last step).

    Scale shape: the positive matches from :func:`match_sequence`
    (chained keyed interval joins), then :func:`anti_join_between` on
    the ``absent`` events."""
    i, j = between if between is not None else (0, len(steps) - 1)
    if not (0 <= i < j <= len(steps) - 1):
        raise ValueError(f"between={between!r} out of range for {steps}")
    matches = match_sequence(
        events, steps, within, key_col, ts_col, type_col, id_col
    )
    return anti_join_between(
        matches, events, f"ts_{i}", f"ts_{j}",
        key_col, ts_col, type_col, absent,
    )


def match_times(
    events: DataFrame,
    step: str,
    then_step: str,
    n_min: int,
    n_max: int,
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink CEP bounded looping quantifier —
    ``step.times(n_min, n_max)`` followed by ``then_step``, everything
    within ``within`` of the first repetition.

    Repetitions are CONSECUTIVE among the key's ``step`` events
    (relaxed contiguity w.r.t. other event types — Flink's default
    ``followedBy`` between repetitions, but no skipped ``step``
    events; skipping would make match counts combinatorial, which is
    why Flink pairs unbounded looping with after-match skip
    strategies). One row per (ending event, n_reps) — Flink's
    times(m, n) likewise emits a match per repetition count.

    Output: ``(key_col, ts_first, ts_last, n_reps, id_first,
    id_last)`` for runs with at least one ``then_step`` event after
    ``ts_last`` and within the horizon of ``ts_first``. The start/end
    EVENT IDS ride along so two runs sharing timestamps but ending at
    different events stay distinct matches (the per-ending-event
    identity the streaming twin keeps in state), and so the skip
    strategies can break timestamp ties on the true event order.

    Scale shape: ONE window pass over the ``step`` events computes all
    ``lag`` depths, ``stack`` melts them to per-n candidates (no
    self-join on the repetition side), and the follower check is a
    LEFT SEMI join — equi on the key, time range residual. Two keyed
    shuffles total, independent of n_max."""
    from pyspark.sql import Window

    if n_min < 2:
        raise ValueError("n_min must be >= 2 (times(1) is plain match)")
    if n_max < n_min or n_max - n_min > 7:
        raise ValueError("need n_min <= n_max <= n_min + 7 (bounded)")
    horizon = F.expr(f"INTERVAL {within}")
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    ns = range(n_min, n_max + 1)
    lags = events.filter(_type_pred(type_col, step)).select(
        key_col,
        F.col(ts_col).alias("ts_last"),
        F.col(id_col).alias("id_last"),
        *[F.lag(ts_col, n - 1).over(w).alias(f"__f{n}") for n in ns],
        *[F.lag(id_col, n - 1).over(w).alias(f"__fi{n}") for n in ns],
    )
    stacked = lags.select(
        key_col,
        "ts_last",
        "id_last",
        F.expr(
            f"stack({len(list(ns))}, "
            + ", ".join(f"{n}, __f{n}, __fi{n}" for n in ns)
            + ") as (n_reps, ts_first, id_first)"
        ),
    ).filter(
        F.col("ts_first").isNotNull()
        & (F.col("ts_last") <= F.col("ts_first") + horizon)
    )
    followers = events.filter(_type_pred(type_col, then_step)).select(
        F.col(key_col).alias("__bk"), F.col(ts_col).alias("__bts")
    )
    return stacked.join(
        followers,
        (F.col(key_col) == F.col("__bk"))
        & (F.col("__bts") > F.col("ts_last"))
        & (F.col("__bts") <= F.col("ts_first") + horizon),
        "left_semi",
    ).select(key_col, "ts_first", "ts_last", "n_reps", "id_first", "id_last")


def enforce_strict_contiguity(
    matches: DataFrame,
    events: DataFrame,
    pairs: Sequence[tuple[int, int]],
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Flink CEP strict contiguity (``next()`` vs ``followedBy()``):
    drop matches where ANY event of the key — regardless of type —
    falls strictly between the matched events of steps ``(i, j)`` for
    each pair. ``match_sequence`` alone is relaxed contiguity
    (Flink's ``followedByAny``: every combination matches);
    composing this filter on adjacent step pairs yields ``next()``.

    Contiguity is by event time (ties at the boundary are NOT
    "between" — strict inequalities), matching the relational
    oracle's NOT EXISTS spelling.

    Scale shape: one LEFT ANTI join per strict pair — equi on the
    key, time range residual, same shape as the negation filter."""
    out = matches
    for i, j in pairs:
        for c in (f"ts_{i}", f"ts_{j}"):
            if c not in out.columns:
                raise ValueError(f"matches frame is missing column {c!r}")
        out = anti_join_between(
            out, events, f"ts_{i}", f"ts_{j}", key_col, ts_col
        )
    return out


def match_optional(
    events: DataFrame,
    steps: Sequence[str],
    optional_idx: int,
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink CEP ``optional()`` step: the pattern ``steps`` with
    ``steps[optional_idx]`` optional — under NO_SKIP, Flink emits BOTH
    branches, the match that consumes the optional event and the match
    that skips it, so the output is the union of the full chain and
    the reduced chain with NULL ``ts_i``/``id_i`` for the skipped
    step (relaxed contiguity means the skipping branch matches whether
    or not an optional-type event occurred in the gap).

    Scale shape: two :func:`match_sequence` join chains unioned — no
    new join strategy. The shared steps are scanned once per branch
    (the branches project different step aliases, so Spark does NOT
    reuse the exchanges — verified in the executed plan), but each
    scan is a pushed-down single-event-type projection, so the cost
    is 2x the type's pruned columns, not 2x the table."""
    if len(steps) < 3:
        raise ValueError("optional() needs >= 3 steps (2 mandatory)")
    if not (1 <= optional_idx <= len(steps) - 1):
        raise ValueError(
            f"optional_idx {optional_idx} must be in [1, {len(steps) - 1}]"
            " (the first step anchors the match and cannot be optional)"
        )
    return union_skip_branches(
        events, steps, [(), (optional_idx,)], within,
        key_col, ts_col, type_col, id_col,
    )


def match_one_or_more(
    events: DataFrame,
    step: str,
    then_step: str,
    max_gap: str,
    within: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    until: str | None = None,
) -> DataFrame:
    """Flink CEP greedy unbounded looping —
    ``step.oneOrMore().greedy()`` followed by ``then_step``: maximal
    runs of ``step`` events (each repetition within ``max_gap`` of the
    previous — relaxed contiguity w.r.t. other event types), with a
    ``then_step`` follower after the run's end and within ``within``
    of the run's first event. Greedy means ONLY the maximal run is
    emitted per burst, never its prefixes — which is what makes
    unbounded looping non-combinatorial and linear-scale, the same
    reason Flink recommends greedy + skip strategies for oneOrMore.

    Output: ``(key_col, ts_first, ts_last, n_reps, id_first,
    id_last)`` — the run's boundary event ids ride along (min_by /
    max_by over the total order) so downstream skip strategies can
    distinguish runs that share timestamps.

    ``until`` (Flink ``oneOrMore().until(condition)``): an
    ``until``-type event stops the loop — a run cannot span one, so a
    step event with an ``until`` event strictly between it and the
    previous repetition starts a NEW run.

    Scale shape: gaps-and-islands — one window pass marks run breaks
    (lag), a running sum assigns run ids, a grouped agg collapses runs,
    and a LEFT SEMI join checks the follower. Two keyed shuffles
    (window + agg share the key partitioning; Spark reuses the
    exchange), independent of run length. The ``until`` break adds a
    running-max window over the unioned step+until stream — still one
    keyed sort, no extra join."""
    from pyspark.sql import Window

    horizon = F.expr(f"INTERVAL {within}")
    gap = F.expr(f"INTERVAL {max_gap}")
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    prev = F.lag(ts_col).over(w)
    if until is not None and _type_overlap(until, step):
        raise ValueError(
            f"until type {until!r} overlaps the looping step type "
            f"{step!r} — a repetition would be classified as a stop "
            "condition"
        )
    if until is None:
        base = events.filter(_type_pred(type_col, step)).select(
            key_col, ts_col, id_col
        )
        until_break = F.lit(False)
    else:
        # union step + until events; a running max of until timestamps
        # tells each step event the latest until before it (ties at
        # the same instant are not "between" — strict bounds below)
        mixed = events.filter(
            _type_pred(type_col, step) | _type_pred(type_col, until)
        ).select(
            key_col, ts_col, id_col,
            _type_pred(type_col, until).alias("__is_until"),
        )
        wu = Window.partitionBy(key_col).orderBy(ts_col, id_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        base = (
            mixed.withColumn(
                "__last_until",
                F.max(F.when(F.col("__is_until"), F.col(ts_col))).over(wu),
            )
            .filter(~F.col("__is_until"))
            .drop("__is_until")
        )
        until_break = (
            F.col("__last_until").isNotNull()
            & (F.col("__last_until") > prev)
            & (F.col("__last_until") < F.col(ts_col))
        )
    reps = (
        base.withColumn(
            "__brk",
            F.when(
                prev.isNull()
                | (F.col(ts_col) > prev + gap)
                | until_break,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__run",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .drop("__last_until")
    )
    runs = (
        reps.groupBy(key_col, "__run")
        .agg(
            F.min(ts_col).alias("ts_first"),
            F.max(ts_col).alias("ts_last"),
            F.count(F.lit(1)).alias("n_reps"),
            F.min_by(
                F.col(id_col), F.struct(F.col(ts_col), F.col(id_col))
            ).alias("id_first"),
            F.max_by(
                F.col(id_col), F.struct(F.col(ts_col), F.col(id_col))
            ).alias("id_last"),
        )
        .filter(F.col("ts_last") <= F.col("ts_first") + horizon)
    )
    followers = events.filter(_type_pred(type_col, then_step)).select(
        F.col(key_col).alias("__bk"), F.col(ts_col).alias("__bts")
    )
    return runs.join(
        followers,
        (F.col(key_col) == F.col("__bk"))
        & (F.col("__bts") > F.col("ts_last"))
        & (F.col("__bts") <= F.col("ts_first") + horizon),
        "left_semi",
    ).select(key_col, "ts_first", "ts_last", "n_reps", "id_first", "id_last")


def match_combinations(
    events: DataFrame,
    step,
    then_step,
    within: str,
    n_min: int = 1,
    n_max: int | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    level_cap: int = 12,
) -> DataFrame:
    """Flink CEP ``allowCombinations()`` — NON-DETERMINISTIC relaxed
    contiguity on a looping step: the loop binds to EVERY ordered
    subsequence (not just consecutive runs) of the key's ``step``
    events, each combination a distinct match, every bound event
    within ``within`` of the combination's first, followed by a
    ``then_step`` event after the last and within the horizon.
    ``n_max`` bounds the repetition count (Flink
    ``times(m, n).allowCombinations()``); ``n_max=None`` is unbounded
    (``oneOrMore().allowCombinations()``).

    Output: ``(key_col, ts_first, ts_last, n_reps, id_first, id_last,
    ids)`` — ``ids`` is the full ordered event-id list, because
    distinct combinations can share boundaries (b1 b3 b4 vs b1 b2 b4)
    and each is its own match, exactly Flink's emission.

    Scale shape: LEVEL-SYNCHRONOUS relational expansion — level 1 is
    the step events, level k+1 extends level k by one strictly-later
    (in the per-key (ts, id) total order) step event inside the
    anchor's horizon via a keyed equi-join with range residuals; the
    follower check is one LEFT SEMI join on the union. All JVM joins
    Catalyst can plan — no per-key Python enumeration — and the work
    is linear in the OUTPUT, which is the irreducible cost of
    combination semantics (the match count itself is
    ``sum over bursts of 2^burst``; that is why Flink tells users to
    bound looping patterns — ``within`` is the lever here). Bounded
    ``n_max`` builds exactly ``n_max`` lazy levels (no driver
    actions); unbounded iterates with a persist + emptiness probe per
    level and REFUSES at ``level_cap`` levels (a key with 2^cap
    combinations in one horizon is a data problem; tighten ``within``
    or bound with ``times``)."""
    if n_min < 1:
        raise ValueError("n_min must be >= 1 (the loop is oneOrMore)")
    if n_max is not None and not (n_min <= n_max <= n_min + 7):
        raise ValueError("need n_min <= n_max <= n_min + 7 (bounded)")
    horizon = F.expr(f"INTERVAL {within}")
    steps = events.filter(_type_pred(type_col, step)).select(
        F.col(key_col).alias("__sk"),
        F.col(ts_col).alias("__sts"),
        F.col(id_col).alias("__sid"),
    )
    level = events.filter(_type_pred(type_col, step)).select(
        F.col(key_col),
        F.col(ts_col).alias("ts_first"),
        F.col(id_col).alias("id_first"),
        F.col(ts_col).alias("ts_last"),
        F.col(id_col).alias("id_last"),
        F.lit(1).alias("n_reps"),
        F.array(F.col(id_col)).alias("ids"),
    )

    def extend(lv: DataFrame) -> DataFrame:
        return (
            lv.join(
                steps,
                (F.col(key_col) == F.col("__sk"))
                & (
                    (F.col("__sts") > F.col("ts_last"))
                    | (
                        (F.col("__sts") == F.col("ts_last"))
                        & (F.col("__sid") > F.col("id_last"))
                    )
                )
                & (F.col("__sts") <= F.col("ts_first") + horizon),
            )
            .select(
                F.col(key_col),
                "ts_first",
                "id_first",
                F.col("__sts").alias("ts_last"),
                F.col("__sid").alias("id_last"),
                (F.col("n_reps") + 1).alias("n_reps"),
                F.array_append("ids", F.col("__sid")).alias("ids"),
            )
        )

    def matched(levels: list[DataFrame]) -> DataFrame:
        out = levels[0]
        for lv in levels[1:]:
            out = out.unionByName(lv)
        out = out.filter(F.col("n_reps") >= n_min)
        followers = events.filter(_type_pred(type_col, then_step)).select(
            F.col(key_col).alias("__bk"), F.col(ts_col).alias("__bts")
        )
        return out.join(
            followers,
            (F.col(key_col) == F.col("__bk"))
            & (F.col("__bts") > F.col("ts_last"))
            & (F.col("__bts") <= F.col("ts_first") + horizon),
            "left_semi",
        ).select(
            key_col, "ts_first", "ts_last", "n_reps",
            "id_first", "id_last", "ids",
        )

    levels = [level]
    if n_max is not None:
        for _ in range(1, n_max):
            level = extend(level)
            levels.append(level)
        return matched(levels)
    # unbounded (r12, guide §1.2/§5 — kill the per-level driver
    # round-trips): the deepest non-empty level is bounded by the
    # largest number of step events any anchor sees inside its
    # horizon, which ONE range-frame window pass computes exactly
    # (RANGE CURRENT ROW .. horizon FOLLOWING counts ties at the
    # anchor's timestamp too, so it can only OVERCOUNT — a valid
    # upper bound; levels past the true depth are provably empty
    # and union nothing). Build that many levels lazily over the
    # staged step frame — one probe job + the final action,
    # instead of r11's persist + isEmpty job PER level. Measured
    # same-session (q_cep_combinations, min of 3): see
    # OPTIMIZATION_r12.md. If the bound exceeds level_cap, fall
    # back to the exact per-level probing loop so the cap error
    # still fires only on genuinely over-deep corpora.
    steps = stage(steps)
    try:
        bound = (
            steps.select(
                F.expr(
                    "count(*) OVER (PARTITION BY __sk ORDER BY __sts "
                    f"RANGE BETWEEN CURRENT ROW AND INTERVAL {within} "
                    "FOLLOWING)"
                ).alias("__n")
            )
            .agg(F.max("__n"))
            .first()[0]
        )
        if bound is None:
            bound = 1  # no step events at all: level 1 is empty too
        if bound <= level_cap:
            for _ in range(1, bound):
                level = extend(level)
                levels.append(level)
        else:
            # exact fallback: stage each level and probe it for
            # emptiness (the window bound overcounts timestamp ties, so
            # only this loop may legitimately raise the cap error); the
            # last, empty level unions nothing
            levels[0] = level = stage(level)
            while True:
                level = stage(extend(level))
                levels.append(level)
                if level.isEmpty():
                    break
                if len(levels) > level_cap:
                    raise ValueError(
                        f"combination expansion exceeded {level_cap} "
                        "repetitions — a burst of b step events inside "
                        "one horizon yields 2^b matches; tighten within "
                        "or bound with times(m, n)"
                    )
        # materialize the (output-sized) final frame once, then drop
        # the step frame and any per-level stages — repeated calls
        # must not pin them in executor storage. The single staged
        # result is the only cache handed to the caller.
        result = stage(matched(levels))
        result.count()
    finally:
        release(steps, *levels)
    return result


def skip_to_next(
    matches: DataFrame,
    key_col: str = "user_id",
    first_col: str = "ts_first",
    last_col: str = "ts_last",
) -> DataFrame:
    """Flink ``AfterMatchSkipStrategy.SKIP_TO_NEXT``: after emitting a
    match, discard every other match that STARTS at the same event —
    i.e. per (key, start) keep only the earliest-ending match
    (tiebreak: the remaining columns, so selection is deterministic).
    Complements :func:`skip_past_last` (which prunes across bursts);
    SKIP_TO_NEXT prunes within a start event.

    Scale shape: pure window — one keyed shuffle, a ``row_number``
    over (key, start), filter rank 1. No grouped-map needed because
    unlike SKIP_PAST_LAST the picks don't depend on each other.

    Match identity is by EVENT, not timestamp: when the frame carries
    ``id_first``/``id_last`` (match_times / match_one_or_more emit
    them), the start partition key is (key, ts_first, id_first) — two
    matches sharing ts_first but anchored at different events are
    distinct starts — and the end order breaks timestamp ties on
    id_last, the true per-key event order."""
    from pyspark.sql import Window

    cols = list(matches.columns)
    for c in (key_col, first_col, last_col):
        if c not in cols:
            raise ValueError(f"matches frame is missing column {c!r}")
    id_first = "id_first" if "id_first" in cols else None
    id_last = "id_last" if "id_last" in cols else None
    start_keys = [key_col, first_col] + ([id_first] if id_first else [])
    order = (
        [last_col]
        + ([id_last] if id_last else [])
        + [c for c in cols if c not in (*start_keys, last_col, id_last)]
    )
    w = Window.partitionBy(*start_keys).orderBy(*order)
    return (
        matches.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def skip_to_last(
    matches: DataFrame,
    key_col: str = "user_id",
    first_col: str = "ts_first",
    last_col: str = "ts_last",
) -> DataFrame:
    """Flink ``AfterMatchSkipStrategy.SKIP_TO_LAST``: like
    :func:`skip_past_last` but the next match may START AT the
    previous pick's last event (matches starting strictly BEFORE it
    are skipped; PAST_LAST also skips the boundary). For a looping
    pattern this keeps bursts that chain end-to-start — e.g. runs
    sharing their boundary repetition — where PAST_LAST would drop
    them."""
    return _skip_greedy(matches, key_col, first_col, last_col, inclusive=True)


def skip_past_last(
    matches: DataFrame,
    key_col: str = "user_id",
    first_col: str = "ts_first",
    last_col: str = "ts_last",
) -> DataFrame:
    """Flink ``AfterMatchSkipStrategy.SKIP_PAST_LAST_EVENT`` over a
    match frame: per key, select the earliest-starting match
    (tiebreak: earliest end, then the remaining columns), then skip
    every match starting at or before its last event; repeat. The
    selected matches are non-overlapping — the post-processing step
    that turns a combinatorial match stream into the one-match-per-
    burst view most CEP consumers actually want.

    Scale shape: selection is inherently sequential PER KEY (each pick
    depends on the previous pick's end), so this is a grouped-map
    ``applyInPandas`` — one keyed shuffle, then a linear scan over each
    key's matches. Matches-per-key is bounded by the pattern horizon
    (CEP matches are short bursts), not corpus size.

    Oracle twin: the same greedy selection is expressible as a
    recursive CTE (see q_cep_skip), which value-checks this exact
    semantics cross-engine.
    """
    return _skip_greedy(matches, key_col, first_col, last_col, inclusive=False)


def _tuplify(v):
    # array-valued tiebreak columns (a combinations frame's ``ids``)
    # are unhashable/unsortable for pandas — compare as tuples
    # (lexicographic, the canonical-order contract)
    if hasattr(v, "tolist"):
        return tuple(v.tolist())
    if isinstance(v, list):
        return tuple(v)
    return v


def _skip_scan(
    matches: DataFrame,
    key_col: str,
    first_col: str,
    last_col: str,
    modes,
    tags=None,
) -> DataFrame:
    """Shared greedy/per-start selection core for the after-match
    skip strategies, executed BUCKET-WISE (r12, guide §4): the match
    frame is hash-bucketed on the key, each bucket sorted ONCE by
    (key, canonical match order), and every strategy in ``modes``
    runs as one linear scan over the bucket's column lists with the
    selection state reset at key boundaries. The previous per-key
    spelling paid a pandas sort + iloc + concat per TINY group
    (~4 ms/key — >80% of the skip operators' wall time on burst-sized
    match frames); per bucket those are three pandas ops total.

    ``modes``: sequence drawn from 'past' (keep starts strictly after
    the previous pick's end), 'last' (boundary-inclusive), 'next'
    (first row per distinct start — exactly the rank-1-per-start
    window). ``tags``: when given, output rows carry a ``__skip``
    column tagging the strategy (one copy of the kept rows per tag);
    when None, ``modes`` must be a single strategy and the output is
    the kept rows unchanged.

    When the frame carries BOTH ``id_first`` and ``id_last``, match
    boundaries compare as (timestamp, event_id) pairs — the per-key
    total order — so duplicate-timestamp runs ending at different
    events are ordered and compared by their true event positions,
    not collapsed. With only one of the two present, the greedy modes
    use neither (both-or-neither): starts and ends must compare
    against each other, so a tuple start against a scalar end would
    TypeError. 'next' compares starts only, so like
    :func:`skip_to_next` it identifies a start by ``id_first``
    whenever that column exists."""
    import pandas as pd

    from pyspark.sql.types import StringType, StructField, StructType

    from flink_framework_spark.operators.groupmap import bucketed_map

    cols = list(matches.columns)
    for c in (key_col, first_col, last_col):
        if c not in cols:
            raise ValueError(f"matches frame is missing column {c!r}")
    has_id_first = "id_first" in cols
    id_first = id_last = None
    if has_id_first and "id_last" in cols:
        id_first, id_last = "id_first", "id_last"
    lead_cols = [first_col] + ([id_first] if id_first else []) + [
        last_col
    ] + ([id_last] if id_last else [])
    sort_cols = lead_cols + [c for c in cols if c not in lead_cols]

    def scan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        full_sort = [key_col] + [c for c in sort_cols if c != key_col]
        conv = {
            c: pdf[c].map(_tuplify)
            for c in full_sort
            if pdf[c].dtype == object
        }
        if conv:
            keyed = pdf.assign(
                **{f"__sk_{c}": s for c, s in conv.items()}
            )
            order = keyed.sort_values(
                [f"__sk_{c}" if c in conv else c for c in full_sort],
                kind="mergesort",
            ).index
            pdf = pdf.loc[order]
        else:
            pdf = pdf.sort_values(full_sort, kind="mergesort")
        # column lists instead of iterrows (r11, guide §4.2): the
        # greedy scan is inherently sequential, but per-row Series
        # construction cost ~100x the comparisons; .tolist() yields
        # the same scalars (Timestamp/int) so the (ts, id) tuple
        # comparisons are unchanged
        keys = pdf[key_col].tolist()
        if id_first:
            starts = list(zip(pdf[first_col].tolist(), pdf[id_first].tolist()))
            ends = list(zip(pdf[last_col].tolist(), pdf[id_last].tolist()))
        else:
            starts = pdf[first_col].tolist()
            ends = pdf[last_col].tolist()
        # 'next' identifies a start by id_first even without id_last
        next_starts = starts if id_first or not has_id_first else list(
            zip(pdf[first_col].tolist(), pdf["id_first"].tolist()))
        outs = []
        for j, mode in enumerate(modes):
            keep = []
            prev_key = object()  # sentinel no key equals
            last_end = None
            if mode == "next":
                # first row per start in the canonical sort; a single
                # id_first is not in that sort, so a start's rows need
                # not be adjacent: track the key's starts seen so far
                for i, s in enumerate(next_starts):
                    if keys[i] != prev_key:
                        prev_key, seen = keys[i], set()
                    if s not in seen:
                        keep.append(i)
                        seen.add(s)
            else:
                inclusive = mode == "last"
                for i, s in enumerate(starts):
                    if keys[i] != prev_key:
                        prev_key, last_end = keys[i], None
                    if (
                        last_end is None
                        or s > last_end
                        or (inclusive and s == last_end)
                    ):
                        keep.append(i)
                        last_end = ends[i]
            part = pdf.iloc[keep][cols]
            if tags is not None:
                part = part.copy()
                part["__skip"] = tags[j]
            outs.append(part)
        if len(outs) == 1:
            return outs[0]
        return pd.concat(outs, ignore_index=True)

    if tags is None:
        schema = matches.schema
    else:
        schema = StructType(
            list(matches.schema.fields)
            + [StructField("__skip", StringType())]
        )
    return bucketed_map(matches, key_col, scan, schema)


def _skip_greedy(
    matches: DataFrame,
    key_col: str,
    first_col: str,
    last_col: str,
    inclusive: bool,
) -> DataFrame:
    """Greedy selection: ``inclusive=False`` keeps matches starting
    strictly after the previous pick's end (SKIP_PAST_LAST_EVENT);
    ``inclusive=True`` also keeps boundary starts (SKIP_TO_LAST).
    See :func:`_skip_scan` for the execution shape and the
    event-identity boundary contract."""
    return _skip_scan(
        matches,
        key_col,
        first_col,
        last_col,
        modes=("last" if inclusive else "past",),
    )


def skip_combinations(
    matches: DataFrame,
    strategy: str,
    key_col: str = "user_id",
) -> DataFrame:
    """After-match skip strategies ON COMBINATION matches — the
    composed spelling of "apply ``skip_*`` to a drained combinations
    frame" (previously a documented exclusion). A
    :func:`match_combinations` frame contains DISTINCT matches that
    SHARE boundary events by construction (every ordered subsequence
    of a burst is a match), so a skip strategy genuinely prunes
    matches the no-skip stream keeps. The deterministic contract,
    pinned on planted frames in tests/test_cep.py:

    - the canonical per-key match order is ``(ts_first, id_first,
      ts_last, id_last, <remaining columns, ids last>)`` — boundary
      ties break on the true event ids, then lexicographically on
      the combination's ``ids`` list;
    - ``skip_past_last``: greedy scan in canonical order, keep a
      match iff its start EVENT is strictly past the previous pick's
      last EVENT — all other boundary-sharers are pruned and the
      canonical-first (shortest, earliest-ending) match is the one
      kept per burst;
    - ``skip_to_next``: keep exactly ONE match per distinct start
      event — the earliest-ending (canonical-first) one;
    - ``skip_to_last``: the boundary-INCLUSIVE greedy scan (a match
      may START at the previous pick's last event — the single-run
      operators' contract, extended unchanged).

    This is pure dispatch onto the boundary-keyed skip operators —
    their (timestamp, event_id) boundary comparison already treats
    same-timestamp matches as distinct events, and the trailing
    ``ids`` column rides the deterministic tiebreak — packaged so
    ``Pattern...allow_combinations().after_match_skip(s)`` lowers
    to one composed plan. Same scale shape as the underlying
    operators: skip_to_next is a pure keyed window; the greedy scans
    are per-key sequential over MATCHES (burst-bounded), not events.
    """
    if strategy == "no_skip":
        return matches
    if strategy == "skip_past_last":
        return skip_past_last(matches, key_col)
    if strategy == "skip_to_next":
        return skip_to_next(matches, key_col)
    if strategy == "skip_to_last":
        return skip_to_last(matches, key_col)
    raise ValueError(
        f"unknown skip strategy {strategy!r} (use no_skip | "
        "skip_past_last | skip_to_next | skip_to_last)"
    )


def skip_greedy_pair(
    matches: DataFrame,
    key_col: str = "user_id",
    first_col: str = "ts_first",
    last_col: str = "ts_last",
    tags: tuple = ("skip_past", "skip_last"),
) -> DataFrame:
    """The greedy after-match selections — SKIP_PAST_LAST_EVENT and
    SKIP_TO_LAST — in ONE pass, rows tagged by a ``__skip`` column
    (r11, the q_cep_suite melt consolidation: the two strategies
    differ only in the boundary comparison, so paying two Arrow
    round-trips + two keyed shuffles for one sort and two linear
    scans was pure overhead; the granular operators
    :func:`skip_past_last` / :func:`skip_to_last` stay single-
    strategy). A THIRD tag (r12) additionally folds SKIP_TO_NEXT into
    the same pass — first row per distinct start in the canonical
    sort, the exact selection of :func:`skip_to_next`'s
    rank-1-per-start window — so the suite's times/skip family pays
    one keyed pipeline for all three strategies. Semantics per tag
    are IDENTICAL to the granular functions — pinned by
    tests/test_cep.py's equivalence check. Execution shape:
    :func:`_skip_scan` (bucket-wise, one sort + one scan per
    strategy per bucket)."""
    return _skip_scan(
        matches,
        key_col,
        first_col,
        last_col,
        modes=("past", "last", "next")[: len(tags)],
        tags=tuple(tags),
    )
