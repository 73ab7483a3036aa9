"""CEP operator semantics on planted corpora: negation
(match_sequence_negated == Flink notFollowedBy) and bounded looping
quantifiers (match_times == times(m, n) + followedBy). The registered
queries q_cep_negation / q_cep_times are oracle-checked against live
DuckDB SQL; these tests pin the exact match-level semantics — which
events match, not just aggregate counts — on hand-built timelines
where the expected matches are enumerable by eye.
"""

from __future__ import annotations

import pytest

from flink_framework_spark.operators.cep import (
    match_sequence,
    match_sequence_negated,
    match_times,
)

_SCHEMA = "user_id long, event_id long, ts timestamp, event_type string"


def _events(spark, rows):
    """rows: (user_id, event_id, minute, event_type)."""
    return spark.createDataFrame(
        [
            (u, e, f"2024-01-01 10:{m:02d}:00", t)
            for (u, e, m, t) in rows
        ],
        "user_id long, event_id long, ts string, event_type string",
    ).selectExpr(
        "user_id", "event_id", "CAST(ts AS timestamp) AS ts", "event_type"
    )


def test_negation_drops_matches_with_intervening_event(spark):
    ev = _events(
        spark,
        [
            # user 1: view(0) -> purchase(10), no click — survives
            (1, 1, 0, "view"),
            (1, 2, 10, "purchase"),
            # user 2: view(0) -> click(5) -> purchase(10) — negated
            (2, 3, 0, "view"),
            (2, 4, 5, "click"),
            (2, 5, 10, "purchase"),
            # user 3: click BEFORE the view doesn't negate
            (3, 6, 0, "click"),
            (3, 7, 1, "view"),
            (3, 8, 10, "purchase"),
            # user 4: click AFTER the purchase doesn't negate
            (4, 9, 0, "view"),
            (4, 10, 10, "purchase"),
            (4, 11, 15, "click"),
        ],
    )
    got = match_sequence_negated(
        ev, ["view", "purchase"], absent="click", within="30 MINUTES"
    )
    assert sorted(r["user_id"] for r in got.collect()) == [1, 3, 4]
    # sanity: the unnegated matcher finds all four
    assert match_sequence(ev, ["view", "purchase"], "30 MINUTES").count() == 4


def test_negation_boundary_is_strict(spark):
    ev = _events(
        spark,
        [
            # click exactly AT the view ts and AT the purchase ts:
            # strictly-between means neither negates
            (1, 1, 0, "click"),
            (1, 2, 0, "view"),
            (1, 3, 10, "purchase"),
            (1, 4, 10, "click"),
        ],
    )
    got = match_sequence_negated(
        ev, ["view", "purchase"], absent="click", within="30 MINUTES"
    )
    assert got.count() == 1


def test_negation_between_selects_the_gap(spark):
    ev = _events(
        spark,
        [
            # view(0) -> click(5) -> purchase(10), error at 7:
            # negating between steps 1 and 2 (click->purchase) drops
            # it; negating between 0 and 1 (view->click) does not
            (1, 1, 0, "view"),
            (1, 2, 5, "click"),
            (1, 3, 7, "error"),
            (1, 4, 10, "purchase"),
        ],
    )
    steps = ["view", "click", "purchase"]
    assert (
        match_sequence_negated(
            ev, steps, absent="error", within="30 MINUTES", between=(1, 2)
        ).count()
        == 0
    )
    assert (
        match_sequence_negated(
            ev, steps, absent="error", within="30 MINUTES", between=(0, 1)
        ).count()
        == 1
    )


def test_times_counts_consecutive_runs(spark):
    ev = _events(
        spark,
        [
            # user 1: clicks at 0,1,2 then purchase at 5.
            # times(2,3): runs (0,1), (1,2), (0..2) -> three matches
            (1, 1, 0, "click"),
            (1, 2, 1, "click"),
            (1, 3, 2, "click"),
            (1, 4, 5, "purchase"),
            # user 2: single click -> no quantified match
            (2, 5, 0, "click"),
            (2, 6, 5, "purchase"),
            # user 3: two clicks but NO purchase after -> no match
            (3, 7, 0, "click"),
            (3, 8, 1, "click"),
        ],
    )
    got = match_times(ev, "click", "purchase", 2, 3, "60 MINUTES")
    rows = sorted(
        (r["user_id"], r["n_reps"], r["ts_first"].minute, r["ts_last"].minute)
        for r in got.collect()
    )
    assert rows == [(1, 2, 0, 1), (1, 2, 1, 2), (1, 3, 0, 2)]


def test_times_window_binds_first_repetition_to_follower(spark):
    ev = _events(
        spark,
        [
            # clicks at 0 and 50, purchase at 55: the (0,50) run fits
            # inside 60 min but the purchase must be within 60 of the
            # FIRST click -> 55 <= 60 qualifies; with a 40-minute
            # horizon the run itself (50 > 40) fails
            (1, 1, 0, "click"),
            (1, 2, 50, "click"),
            (1, 3, 55, "purchase"),
        ],
    )
    assert match_times(ev, "click", "purchase", 2, 2, "60 MINUTES").count() == 1
    assert match_times(ev, "click", "purchase", 2, 2, "40 MINUTES").count() == 0


def test_times_interleaved_other_types_allowed(spark):
    ev = _events(
        spark,
        [
            # relaxed contiguity w.r.t. other event types: a view
            # between the clicks doesn't break the run
            (1, 1, 0, "click"),
            (1, 2, 1, "view"),
            (1, 3, 2, "click"),
            (1, 4, 5, "purchase"),
        ],
    )
    assert match_times(ev, "click", "purchase", 2, 2, "60 MINUTES").count() == 1


def test_times_rejects_unbounded_or_trivial(spark):
    ev = _events(spark, [(1, 1, 0, "click")])
    with pytest.raises(ValueError, match="n_min"):
        match_times(ev, "click", "purchase", 1, 2, "60 MINUTES")
    with pytest.raises(ValueError, match="bounded"):
        match_times(ev, "click", "purchase", 2, 99, "60 MINUTES")


def test_negated_between_validation(spark):
    ev = _events(spark, [(1, 1, 0, "view")])
    with pytest.raises(ValueError, match="between"):
        match_sequence_negated(
            ev, ["view", "purchase"], "click", "30 MINUTES", between=(1, 1)
        )


def _matches(spark, rows):
    """rows: (user_id, first_minute, last_minute, n_reps)."""
    return spark.createDataFrame(
        [
            (u, f"2024-01-01 10:{f:02d}:00", f"2024-01-01 10:{l:02d}:00", n)
            for (u, f, l, n) in rows
        ],
        "user_id long, ts_first string, ts_last string, n_reps int",
    ).selectExpr(
        "user_id",
        "CAST(ts_first AS timestamp) AS ts_first",
        "CAST(ts_last AS timestamp) AS ts_last",
        "n_reps",
    )


def test_skip_past_last_greedy_selection(spark):
    from flink_framework_spark.operators.cep import skip_past_last

    m = _matches(
        spark,
        [
            # user 1: (0,2) wins; (1,3) and (2,4) start <= 2's end...
            # (2,4) starts AT minute 2 == last end -> skipped (strict >);
            # (3,5) survives; (5,6) starts at 5 == end -> skipped
            (1, 0, 2, 2),
            (1, 1, 3, 2),
            (1, 2, 4, 2),
            (1, 3, 5, 2),
            (1, 5, 6, 2),
            # user 2: single match
            (2, 0, 9, 3),
        ],
    )
    got = sorted(
        (r["user_id"], r["ts_first"].minute, r["ts_last"].minute)
        for r in skip_past_last(m).collect()
    )
    assert got == [(1, 0, 2), (1, 3, 5), (2, 0, 9)]


def test_skip_past_last_earliest_start_tiebreak(spark):
    """Two matches share the earliest start: the shorter (earliest
    end) wins — Flink's no-skip-to-first-of-match default resolved
    deterministically."""
    from flink_framework_spark.operators.cep import skip_past_last

    m = _matches(spark, [(1, 0, 5, 3), (1, 0, 2, 2), (1, 4, 6, 2)])
    got = sorted(
        (r["ts_first"].minute, r["ts_last"].minute)
        for r in skip_past_last(m).collect()
    )
    assert got == [(0, 2), (4, 6)]


def test_skip_past_last_output_is_nonoverlapping_subset(spark):
    """On real fixture matches: output ⊆ input, per-key intervals
    strictly ordered (next start > previous end)."""
    from flink_framework_spark.io import table
    from flink_framework_spark.operators.cep import match_times, skip_past_last

    ev = table(spark, "/root/testdata/sf0.001", "events")
    m = match_times(ev, "click", "purchase", 2, 3, "12 HOURS")
    inp = {tuple(map(repr, r)) for r in m.collect()}
    sel = skip_past_last(m).collect()
    assert {tuple(map(repr, r)) for r in sel} <= inp
    by_key: dict = {}
    for r in sel:
        by_key.setdefault(r["user_id"], []).append(
            (r["ts_first"], r["ts_last"])
        )
    for spans in by_key.values():
        spans.sort()
        for (f1, l1), (f2, l2) in zip(spans, spans[1:]):
            assert f2 > l1


def test_optional_emits_both_branches(spark):
    """Flink optional() under NO_SKIP: when the optional event is
    present BOTH the consuming and the skipping match are emitted;
    when absent only the skipping match fires."""
    from flink_framework_spark.operators.cep import match_optional

    ev = _events(
        spark,
        [
            # user 1: view(0) click(2) purchase(5) -> both branches
            (1, 1, 0, "view"),
            (1, 2, 2, "click"),
            (1, 3, 5, "purchase"),
            # user 2: view(0) purchase(5), no click -> skip branch only
            (2, 4, 0, "view"),
            (2, 5, 5, "purchase"),
            # user 3: click(0) purchase(5), no view -> nothing (the
            # first step anchors the match and is never optional)
            (3, 6, 0, "click"),
            (3, 7, 5, "purchase"),
        ],
    )
    m = match_optional(ev, ["view", "click", "purchase"], 1, "30 MINUTES")
    rows = sorted(
        (r["user_id"], r["ts_1"] is not None) for r in m.collect()
    )
    assert rows == [(1, False), (1, True), (2, False)]


def test_optional_skip_branch_has_null_step_columns(spark):
    from flink_framework_spark.operators.cep import match_optional

    ev = _events(
        spark, [(1, 1, 0, "view"), (1, 2, 5, "purchase")]
    )
    m = match_optional(ev, ["view", "click", "purchase"], 1, "30 MINUTES")
    [r] = m.collect()
    assert r["ts_1"] is None and r["id_1"] is None
    assert r["ts_0"] is not None and r["ts_2"] is not None
    assert list(m.columns) == [
        "user_id", "ts_0", "id_0", "ts_1", "id_1", "ts_2", "id_2"
    ]


def test_optional_validation(spark):
    from flink_framework_spark.operators.cep import match_optional

    ev = _events(spark, [(1, 1, 0, "view")])
    with pytest.raises(ValueError, match=">= 3 steps"):
        match_optional(ev, ["view", "purchase"], 1, "30 MINUTES")
    with pytest.raises(ValueError, match="anchors"):
        match_optional(ev, ["view", "click", "purchase"], 0, "30 MINUTES")


def test_one_or_more_greedy_emits_only_maximal_runs(spark):
    """oneOrMore().greedy(): a 3-click burst is ONE match of 3 reps —
    no 1- or 2-rep prefixes — and a gap larger than max_gap splits
    runs."""
    from flink_framework_spark.operators.cep import match_one_or_more

    ev = _events(
        spark,
        [
            # user 1: clicks 0,1,2 (one run), gap, clicks 20,21 (second
            # run), purchase at 30 follows both runs
            (1, 1, 0, "click"),
            (1, 2, 1, "click"),
            (1, 3, 2, "click"),
            (1, 4, 20, "click"),
            (1, 5, 21, "click"),
            (1, 6, 30, "purchase"),
            # user 2: one click, purchase -> single 1-rep match
            (2, 7, 0, "click"),
            (2, 8, 5, "purchase"),
            # user 3: clicks but no purchase -> nothing
            (3, 9, 0, "click"),
        ],
    )
    got = match_one_or_more(
        ev, "click", "purchase", max_gap="5 MINUTES", within="60 MINUTES"
    )
    rows = sorted(
        (r["user_id"], r["ts_first"].minute, r["ts_last"].minute, r["n_reps"])
        for r in got.collect()
    )
    assert rows == [(1, 0, 2, 3), (1, 20, 21, 2), (2, 0, 0, 1)]


def test_one_or_more_follower_bound_to_run_start(spark):
    """The follower must land within `within` of the run's FIRST
    repetition, strictly after its last."""
    from flink_framework_spark.operators.cep import match_one_or_more

    ev = _events(
        spark,
        [
            (1, 1, 0, "click"),
            (1, 2, 4, "click"),
            (1, 3, 50, "purchase"),
        ],
    )
    assert (
        match_one_or_more(
            ev, "click", "purchase", max_gap="5 MINUTES", within="55 MINUTES"
        ).count()
        == 1
    )
    assert (
        match_one_or_more(
            ev, "click", "purchase", max_gap="5 MINUTES", within="40 MINUTES"
        ).count()
        == 0
    )


def test_skip_to_next_keeps_shortest_match_per_start(spark):
    from flink_framework_spark.operators.cep import skip_to_next

    m = _matches(
        spark,
        [
            # user 1: two matches starting at 0 -> the (0,2) one wins;
            # the (3,5) match has its own start and survives
            (1, 0, 2, 2),
            (1, 0, 4, 3),
            (1, 3, 5, 2),
            # user 2: unique starts -> identity
            (2, 0, 9, 3),
        ],
    )
    got = sorted(
        (r["user_id"], r["ts_first"].minute, r["ts_last"].minute, r["n_reps"])
        for r in skip_to_next(m).collect()
    )
    assert got == [(1, 0, 2, 2), (1, 3, 5, 2), (2, 0, 9, 3)]


def test_skip_to_next_validates_columns(spark):
    from flink_framework_spark.operators.cep import skip_to_next

    m = _matches(spark, [(1, 0, 2, 2)]).withColumnRenamed("ts_last", "te")
    with pytest.raises(ValueError, match="missing column"):
        skip_to_next(m)


def test_skip_to_last_keeps_boundary_start(spark):
    """SKIP_TO_LAST vs SKIP_PAST_LAST on the boundary: a match
    starting exactly AT the previous pick's last event survives
    TO_LAST but not PAST_LAST."""
    from flink_framework_spark.operators.cep import (
        skip_past_last,
        skip_to_last,
    )

    m = _matches(
        spark,
        [
            (1, 0, 2, 2),
            (1, 2, 4, 2),  # starts AT minute 2 == previous end
            (1, 3, 5, 2),  # overlaps the TO_LAST pick -> skipped
        ],
    )
    to_last = sorted(
        (r["ts_first"].minute, r["ts_last"].minute)
        for r in skip_to_last(m).collect()
    )
    past_last = sorted(
        (r["ts_first"].minute, r["ts_last"].minute)
        for r in skip_past_last(m).collect()
    )
    assert to_last == [(0, 2), (2, 4)]
    assert past_last == [(0, 2), (3, 5)]


def test_one_or_more_until_breaks_runs(spark):
    """until(): an until-type event strictly between two repetitions
    splits the run; at a shared instant it does not (strict bounds)."""
    from flink_framework_spark.operators.cep import match_one_or_more

    ev = _events(
        spark,
        [
            # user 1: clicks 0,2 | error 1 between -> two 1-rep runs
            (1, 1, 0, "click"),
            (1, 2, 1, "error"),
            (1, 3, 2, "click"),
            (1, 4, 10, "purchase"),
            # user 2: clicks 0,2, error at 5 (after) -> one 2-rep run
            (2, 5, 0, "click"),
            (2, 6, 2, "click"),
            (2, 7, 5, "error"),
            (2, 8, 10, "purchase"),
        ],
    )
    got = match_one_or_more(
        ev, "click", "purchase", "5 MINUTES", "60 MINUTES", until="error"
    )
    rows = sorted(
        (r["user_id"], r["ts_first"].minute, r["n_reps"])
        for r in got.collect()
    )
    assert rows == [(1, 0, 1), (1, 2, 1), (2, 0, 2)]
    # shared instant: error at the SAME minute as the second click is
    # not strictly between the repetitions -> the run does NOT split
    ev3 = _events(
        spark,
        [
            (3, 9, 0, "click"),
            (3, 10, 2, "error"),
            (3, 11, 2, "click"),
            (3, 12, 10, "purchase"),
        ],
    )
    tied = match_one_or_more(
        ev3, "click", "purchase", "5 MINUTES", "60 MINUTES", until="error"
    )
    assert sorted(
        (r["user_id"], r["n_reps"]) for r in tied.collect()
    ) == [(3, 2)]
    with pytest.raises(ValueError, match="overlaps the looping step"):
        match_one_or_more(
            ev, "click", "purchase", "5 MINUTES", "60 MINUTES",
            until="click",
        )
    # without until: both users get one maximal run
    base = match_one_or_more(
        ev, "click", "purchase", "5 MINUTES", "60 MINUTES"
    )
    assert sorted(
        (r["user_id"], r["n_reps"]) for r in base.collect()
    ) == [(1, 2), (2, 2)]


# -- allowCombinations (non-deterministic relaxed contiguity) ---------


def _brute_combinations(rows, horizon_min, n_min=1, n_max=None):
    """Independent enumerator: every ordered subset of each user's
    step events inside the anchor horizon, follower-checked — the
    oracle for match_combinations on planted frames."""
    from itertools import combinations as icombs

    out = []
    users = {u for (u, _e, _m, _t) in rows}
    for u in users:
        clicks = sorted(
            (m, e) for (uu, e, m, t) in rows if uu == u and t == "click"
        )
        purchases = [
            m for (uu, _e, m, t) in rows if uu == u and t == "purchase"
        ]
        top = len(clicks) if n_max is None else min(n_max, len(clicks))
        for k in range(n_min, top + 1):
            for comb in icombs(clicks, k):
                first, last = comb[0][0], comb[-1][0]
                if last - first > horizon_min:
                    continue
                if any(
                    last < pm <= first + horizon_min for pm in purchases
                ):
                    out.append((u, tuple(e for (_m, e) in comb)))
    return sorted(out)


def test_combinations_equals_brute_force_seeded(spark):
    """Seeded random timelines: match_combinations == the itertools
    enumerator, including duplicate timestamps (the (ts, id) total
    order decides subsequence order) and bounded times(m, n) form."""
    import random

    from flink_framework_spark.operators.cep import match_combinations

    for seed in range(6):
        rng = random.Random(1234 + seed)
        rows, eid = [], 0
        for u in range(1, 5):
            for _ in range(rng.randint(2, 7)):
                eid += 1
                rows.append(
                    (
                        u,
                        eid,
                        rng.randint(0, 50),
                        rng.choice(["click", "click", "purchase", "view"]),
                    )
                )
        ev = _events(spark, rows)
        got = sorted(
            (r["user_id"], tuple(r["ids"]))
            for r in match_combinations(
                ev, "click", "purchase", "20 MINUTES"
            ).collect()
        )
        assert got == _brute_combinations(rows, 20), f"seed {seed}"
        got_b = sorted(
            (r["user_id"], tuple(r["ids"]))
            for r in match_combinations(
                ev, "click", "purchase", "20 MINUTES", n_min=2, n_max=3
            ).collect()
        )
        assert got_b == _brute_combinations(rows, 20, 2, 3), f"seed {seed}"


def test_combinations_duplicate_timestamps(spark):
    """Two clicks at the same instant: both singletons, and the
    id-ordered pair, are distinct combinations."""
    from flink_framework_spark.operators.cep import match_combinations

    ev = _events(
        spark,
        [
            (1, 1, 5, "click"),
            (1, 2, 5, "click"),
            (1, 3, 10, "purchase"),
        ],
    )
    got = sorted(
        tuple(r["ids"])
        for r in match_combinations(
            ev, "click", "purchase", "30 MINUTES"
        ).collect()
    )
    assert got == [(1,), (1, 2), (2,)]


def test_combinations_level_cap_refuses(spark):
    from flink_framework_spark.operators.cep import match_combinations

    rows = [(1, i, 0, "click") for i in range(1, 8)] + [
        (1, 99, 10, "purchase")
    ]
    ev = _events(spark, rows)
    with pytest.raises(ValueError, match="exceeded 4 repetitions"):
        match_combinations(
            ev, "click", "purchase", "30 MINUTES", level_cap=4
        )
    with pytest.raises(ValueError, match="bounded"):
        match_combinations(ev, "click", "purchase", "30 MINUTES", 1, 99)
    with pytest.raises(ValueError, match="n_min"):
        match_combinations(ev, "click", "purchase", "30 MINUTES", 0, 3)


# -- skip strategies ON combination matches (round 9) ------------------


def _comb_ids(df):
    return sorted(
        (r["user_id"], tuple(r["ids"])) for r in df.collect()
    )


def test_skip_on_combinations_boundary_semantics(spark):
    """The previously-excluded composition: combination matches SHARE
    boundary events, and each strategy prunes them under the pinned
    deterministic contract (canonical order, event-identity
    boundaries). clicks @1,2,3 + purchase, times(2,2) combinations:
    no-skip = {01, 02, 12}; PAST LAST keeps only the canonical-first
    {01} (both other matches' anchors are inside/at its span — the
    exact hazard the old exclusion named, now deliberate); TO NEXT
    keeps one match per distinct start event ({01}, {12}); TO LAST is
    boundary-inclusive ({12} may start AT {01}'s last event)."""
    from flink_framework_spark.operators.cep import (
        match_combinations,
        skip_combinations,
    )
    from flink_framework_spark.operators.pattern import Pattern

    ev = _events(
        spark,
        [
            (1, 0, 1, "click"),
            (1, 1, 2, "click"),
            (1, 2, 3, "click"),
            (1, 5, 10, "purchase"),
        ],
    )
    m = match_combinations(
        ev, "click", "purchase", "30 MINUTES", n_min=2, n_max=2
    )
    assert _comb_ids(m) == [(1, (0, 1)), (1, (0, 2)), (1, (1, 2))]
    assert _comb_ids(skip_combinations(m, "skip_past_last")) == [
        (1, (0, 1))
    ]
    assert _comb_ids(skip_combinations(m, "skip_to_next")) == [
        (1, (0, 1)), (1, (1, 2))
    ]
    assert _comb_ids(skip_combinations(m, "skip_to_last")) == [
        (1, (0, 1)), (1, (1, 2))
    ]
    assert _comb_ids(skip_combinations(m, "no_skip")) == _comb_ids(m)
    with pytest.raises(ValueError, match="unknown skip"):
        skip_combinations(m, "bogus")

    # the composed Pattern spelling lowers to exactly this
    p = (
        Pattern.begin("click")
        .times(2, 2)
        .allow_combinations()
        .followed_by("purchase")
        .within("30 MINUTES")
        .after_match_skip("skip_past_last")
    )
    assert _comb_ids(p.match(ev)) == [(1, (0, 1))]


def test_skip_on_combinations_duplicate_timestamp_boundaries(spark):
    """Two clicks at the SAME timestamp are distinct boundary EVENTS:
    PAST LAST and TO NEXT keep both singletons (event-identity
    comparison, not timestamp); boundary-INCLUSIVE TO LAST also keeps
    the pair match that starts at the first pick's last event."""
    from flink_framework_spark.operators.cep import (
        match_combinations,
        skip_combinations,
    )

    ev = _events(
        spark,
        [
            (1, 0, 1, "click"),
            (1, 1, 1, "click"),  # same minute, higher id
            (1, 5, 10, "purchase"),
        ],
    )
    m = match_combinations(ev, "click", "purchase", "30 MINUTES")
    assert _comb_ids(m) == [(1, (0,)), (1, (0, 1)), (1, (1,))]
    assert _comb_ids(skip_combinations(m, "skip_past_last")) == [
        (1, (0,)), (1, (1,))
    ]
    assert _comb_ids(skip_combinations(m, "skip_to_next")) == [
        (1, (0,)), (1, (1,))
    ]
    assert _comb_ids(skip_combinations(m, "skip_to_last")) == [
        (1, (0,)), (1, (0, 1)), (1, (1,))
    ]


def test_skip_on_combinations_fuzz_vs_reference(spark):
    """Seeded random bursts: each strategy over the drained
    combinations frame equals a Python reference implementing the
    pinned contract directly on the enumerated match set (canonical
    (ts_first, id_first, ts_last, id_last, ..., ids) order,
    event-identity boundaries, TO LAST boundary-inclusive)."""
    import random

    from flink_framework_spark.operators.cep import (
        match_combinations,
        skip_combinations,
    )

    def reference(matches, strategy):
        # matches: list of (ts_first, id_first, ts_last, id_last,
        # n_reps, ids); canonical sort then greedy scan
        order = sorted(
            matches,
            key=lambda m: (m[0], m[1], m[2], m[3], m[4], m[5]),
        )
        if strategy == "skip_to_next":
            out, seen = [], set()
            for m in order:
                if (m[0], m[1]) not in seen:
                    seen.add((m[0], m[1]))
                    out.append(m)
            return {m[5] for m in out}
        inclusive = strategy == "skip_to_last"
        out, last_end = [], None
        for m in order:
            start, end = (m[0], m[1]), (m[2], m[3])
            if (
                last_end is None
                or start > last_end
                or (inclusive and start == last_end)
            ):
                out.append(m)
                last_end = end
        return {m[5] for m in out}

    for seed in range(8):
        rng = random.Random(9_000 + seed)
        rows, eid = [], 0
        for u in (1, 2):
            t = 0
            for _ in range(rng.randrange(3, 7)):
                t += rng.choice([0, 1, 2])  # duplicate ts allowed
                rows.append((u, eid, t, "click"))
                eid += 1
            rows.append((u, eid, t + rng.randrange(1, 4), "purchase"))
            eid += 1
        ev = _events(spark, rows)
        n_min = rng.choice([1, 2])
        n_max = n_min + rng.choice([1, 2])
        m = match_combinations(
            ev, "click", "purchase", "30 MINUTES",
            n_min=n_min, n_max=n_max,
        )
        rows_full = m.collect()
        for strategy in (
            "skip_past_last", "skip_to_next", "skip_to_last"
        ):
            got = {
                (r["user_id"], tuple(r["ids"]))
                for r in skip_combinations(m, strategy).collect()
            }
            want = set()
            for u in (1, 2):
                ms = [
                    (
                        r["ts_first"], r["id_first"], r["ts_last"],
                        r["id_last"], r["n_reps"], tuple(r["ids"]),
                    )
                    for r in rows_full
                    if r["user_id"] == u
                ]
                want |= {(u, ids) for ids in reference(ms, strategy)}
            assert got == want, (seed, strategy, got ^ want)


def test_skip_greedy_pair_equals_granular(spark, sf_dir):
    """The batched three-strategy pick (r11 melt consolidation) must
    emit exactly the granular skip_past_last / skip_to_last /
    skip_to_next rows — also on frames with ``id_first`` but no
    ``id_last``, where SKIP_TO_NEXT identifies a start by (ts_first,
    id_first) in both spellings: two matches starting at the same
    instant from different events are two starts (planted below)."""
    import datetime as dt

    from flink_framework_spark.io import table
    from flink_framework_spark.operators.cep import (
        match_times,
        skip_greedy_pair,
        skip_past_last,
        skip_to_last,
        skip_to_next,
    )

    ev = table(spark, sf_dir, "events")
    m = match_times(ev, "click", "purchase", 2, 3, "12 HOURS").persist()
    t = [dt.datetime(2024, 1, 1, 0, 0, s) for s in range(4)]
    planted = spark.createDataFrame(
        [(1, t[0], 1, t[2]), (1, t[0], 2, t[1]), (1, t[0], 1, t[3]),
         (1, t[2], 3, t[3]), (2, t[1], 4, t[1]), (2, t[1], 5, t[2])],
        "user_id long, ts_first timestamp_ntz, id_first long, "
        "ts_last timestamp_ntz",
    )
    try:
        for frame in (m, m.drop("id_last"), planted):
            both = skip_greedy_pair(
                frame, tags=("skip_past", "skip_last", "skip_next")
            ).persist()
            cols = frame.columns
            for tag, fn in (("skip_past", skip_past_last),
                            ("skip_last", skip_to_last),
                            ("skip_next", skip_to_next)):
                got = sorted(
                    map(repr, (tuple(r) for r in both.filter(
                        both["__skip"] == tag).select(*cols).collect()))
                )
                want = sorted(
                    map(repr, (tuple(r) for r in fn(frame).collect()))
                )
                assert got == want and want, (cols, tag)
            both.unpersist()
    finally:
        m.unpersist()
