"""Streaming MATCH_RECOGNIZE — the true stream form of the SQL
row-pattern clause (Flink runs MATCH_RECOGNIZE on streams natively;
SURVEY.md §2 I8 [F]).

Semantics: a match can only be FINAL when no future row can change
it. Under greedy quantifiers the match anchored at row *a* depends on
exactly the rows in ``[a.ts, a.ts + WITHIN]`` (consumption is
contiguous from the anchor and bounded by the window), so once the
watermark passes ``a.ts + WITHIN`` the anchor's outcome — match or
no-match, and its full greedy extent — is decided. The twin therefore
buffers rows per key, scans finalizable anchors in order with the
SAME shared core as the batch operator
(:func:`operators.match_recognize.scan_rows`), emits their matches,
and drops everything before the first still-open anchor; an
event-time timer re-fires the key when the watermark will close that
anchor, so quiet keys drain without new input. ``WITHIN`` is
mandatory here — it is what bounds both finalization latency and
state (window × per-key rate), the same reason Flink requires
bounded patterns for state cleanup.

MATCH_NUMBER() continuity across micro-batches is kept in state, so
the emitted stream is row-for-row the batch result."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from flink_framework_spark.operators.match_recognize import (
    parse_match_recognize,
    prepare_flags,
    rows_to_frame,
    scan_rows,
)
from flink_framework_spark.streaming.epoch import (
    epoch_s_to_timestamps,
    ts_series_to_epoch_s,
)
from flink_framework_spark.streaming.keyed import keyed_process, state_array


def match_recognize_stream(
    events: DataFrame,
    clause: str,
    id_col: str = "event_id",
    engine: str = "auto",
    join_watermark: str = "10 minutes",
) -> DataFrame:
    """Run a MATCH_RECOGNIZE clause on a watermarked stream. Output is
    append-final per row (emitted in ``update`` mode): each match row
    is emitted exactly once, when the watermark closes its anchor's
    WITHIN window.

    ``engine``: ``"auto"`` lowers ELIGIBLE fixed chains — all
    singletons, or with ONE bounded-quantified element whose
    repetition count is disjointness-forced (see
    :func:`_mr_join_blocker`) — onto the JVM stream-stream join
    machine (:func:`_mr_stream_chain_join` — measured an order of
    magnitude above the Arrow NFA in bench.py, for the quantified
    class too) and keeps the per-key Arrow NFA for everything else; ``"join"`` forces the join lowering (raises
    with the blocking reason when ineligible); ``"nfa"`` forces the
    NFA (the equivalence tests route both ways). OUTPUT MODE follows
    the machine (the :meth:`Pattern.match_stream` convention): the
    join lowering is a stream-stream join and runs in ``append``
    mode, the NFA emits in ``update`` — a sink pinned to one mode
    should pin the engine too. **Breaking change (since the join
    lowering landed): under the default ``"auto"``, a clause that is
    join-eligible now runs in ``append`` mode where it previously ran
    the NFA in ``update`` — an existing caller whose sink is pinned to
    ``outputMode('update')`` will hit Spark's mode error on upgrade;
    pin ``engine='nfa'`` to keep the old behavior, or switch the sink
    to append (the emitted match rows are identical either way).**
    ``join_watermark`` is the join path's
    watermark delay on its re-derived per-side event-time columns,
    used only when the source is not already watermarked (the normal
    watermarked source is inherited as-is on both paths)."""
    if engine not in ("auto", "join", "nfa"):
        raise ValueError(f"engine must be auto|join|nfa, not {engine!r}")
    spec = parse_match_recognize(clause)
    reject, nav_defines = _stream_reject_reason(spec)
    if reject is not None:
        raise ValueError(reject)
    if engine != "nfa":
        blocker = _mr_join_blocker(spec, events)
        if blocker is None:
            return _mr_stream_chain_join(
                events, spec, id_col, join_watermark
            )
        if engine == "join":
            raise ValueError(
                f"engine='join': no join lowering for this clause — "
                f"{blocker}"
            )
    flagged, order_by, ts_col, out_schema = prepare_flags(
        events, spec, id_col
    )
    types = {f.name: f.dataType.simpleString() for f in flagged.schema}
    carried = [c for c in flagged.columns if c != spec.partition_by]
    state_schema = ", ".join(
        [
            f"{c} "
            + state_array(f"column {c!r}", types[c],
                          "streaming MATCH_RECOGNIZE")
            for c in carried
        ]
        + ["mno bigint"]
    )
    is_ts = {c: types[c].startswith("timestamp") for c in carried}

    elements = [
        (e.var, e.n_min, e.n_max, e.reluctant,
         spec.agg_defines.get(e.var))
        for e in spec.elements
    ]
    measures = [
        (m.name, m.func, m.var, m.col, m.final, m.offset)
        for m in spec.measures
    ]
    names = [spec.partition_by] + [m.name for m in spec.measures]
    var_names = spec.variables
    subsets = dict(spec.subsets)
    skip, within_s, key_col = spec.skip, spec.within_s, spec.partition_by
    skip_var = spec.skip_var

    def _mr_step(key, st, rows, ctx):
        (key_value,) = key
        frames = []
        if st is not None:
            *arrays, mno = st
            cols = {}
            for c, arr in zip(carried, arrays):
                if is_ts[c]:
                    cols[c] = epoch_s_to_timestamps(arr)
                else:
                    cols[c] = list(arr)
            if cols[carried[0]]:
                frames.append(pd.DataFrame(cols))
        else:
            mno = 0
        if not ctx.timed_out and len(rows):
            frames.append(rows[carried])
        if not frames:
            return None, None, None
        buf = (
            pd.concat(frames, ignore_index=True)
            .sort_values(order_by, kind="mergesort")
            .reset_index(drop=True)
        )
        out_rows, resume, mno = scan_rows(
            buf,
            key_value,
            elements=elements,
            measures=measures,
            skip=skip,
            within_s=within_s,
            var_names=var_names,
            ts_col=ts_col,
            anchor_bound_s=ctx.wm_s,
            match_no_start=mno,
            subsets=subsets,
            skip_var=skip_var,
            nav_defines=nav_defines or None,
        )
        out = rows_to_frame(out_rows, names) if out_rows else None
        rest = buf.iloc[resume:]
        if not len(rest):
            # keep MATCH_NUMBER continuity for future rows on this key
            return ((*[[] for _ in carried], mno) if mno else None), out, None
        arrays = []
        for c in carried:
            if is_ts[c]:
                arrays.append(ts_series_to_epoch_s(rest[c]))
            else:
                arrays.append(rest[c].tolist())
        first_ts = ts_series_to_epoch_s(rest[ts_col])[0]
        # fire when the watermark closes the earliest open anchor
        timer = ctx.instant_ms(first_ts + within_s) + 1
        return (*arrays, mno), out, timer

    return keyed_process(
        flagged, [key_col], _mr_step, out_schema=out_schema,
        state_schema=state_schema, event_time=ts_col,
    )


def _stream_reject_reason(spec) -> tuple:
    """The stream entry point's preconditions, shared by
    :func:`match_recognize_stream` (which raises) and
    :func:`stream_route_info` (which reports): returns
    ``(reason_or_None, compiled_nav_defines)``."""
    from flink_framework_spark.operators.match_recognize import (
        _compile_nav_define,
        _rewrite_define,
    )

    if len(spec.partition_cols) > 1:
        return (
            "streaming MATCH_RECOGNIZE keys state on ONE partition "
            "column — pre-combine the keys into a single column "
            "(e.g. a struct or concat) or run the clause on the batch "
            "engine, which supports multi-column PARTITION BY directly",
            {},
        )
    if spec.rows == "all":
        return (
            "ALL ROWS PER MATCH is batch-only here (per-row streaming "
            "emission with running measures has no bounded-state "
            "finalization story); use ONE ROW PER MATCH on streams",
            {},
        )
    if spec.within_s is None:
        return (
            "streaming MATCH_RECOGNIZE requires WITHIN — it bounds "
            "both state and finalization latency",
            {},
        )
    # same detector the batch rewrite uses: literals are split out
    # (navigation text inside a quoted string is not navigation) and
    # PREV(x, 0) folds to the plain column (no cross-batch hazard) —
    # only a REAL lag/lead requirement rejects
    navs: dict[str, tuple[str, str, int]] = {}
    for v, expr in spec.defines.items():
        if expr is not None:
            _rewrite_define(expr, spec.variables, navs, v)
    if navs:
        return (
            "PREV()/NEXT() in DEFINE is batch-only here: flags are "
            "precomputed per micro-batch, and physical navigation "
            "across batch boundaries under late data would read the "
            "wrong neighbor — run the clause on the batch engine",
            {},
        )
    # FIRST/LAST navigation DEFINEs are buffer-safe on streams: every
    # navigated position is at or after the match anchor, and the
    # state buffer keeps everything from the first open anchor on.
    # A PREV/NEXT call INSIDE one of these conditions is not (it can
    # reach before the anchor, into rows already dropped) — reject it
    # with the same batch-only message.
    nav_defines = {}
    for v, nexpr in spec.nav_defines.items():
        fn, _ncols, physical = _compile_nav_define(
            v, nexpr, spec.elements
        )
        if physical:
            return (
                "PREV()/NEXT() in DEFINE is batch-only here: physical "
                "navigation can reach before the match anchor, into "
                "rows the stream state has already dropped — run the "
                "clause on the batch engine",
                {},
            )
        nav_defines[v] = fn
    return None, nav_defines


def _mr_join_blocker(spec, events: DataFrame | None) -> str | None:
    """Why this clause cannot lower to the JVM stream-stream join
    machine — or None when it can. Eligible class: an all-singleton
    fixed chain PATTERN (E0 E1 .. Ek-1) whose matches are exactly the
    k-tuples of CONSECUTIVE rows whose flags line up inside WITHIN —
    candidate chains are k-1 cascaded watermarked interval joins,
    strict contiguity ("no row between" each adjacent pair) is k-1
    watermarked LEFT OUTER interval joins against the unfiltered
    stream filtered to the null (no-intruder) rows, and every
    consuming skip strategy degenerates to keep-all-candidates when
    the anchor DEFINE is provably disjoint from every later element's
    (the batch disjoint-anchor proof: no row inside a match can
    anchor another, so candidates cannot overlap). Measures must be
    plain last-row bindings (VAR.col / offset-0 FIRST/LAST) — values
    that ride the join sides; MATCH_NUMBER() and aggregates need the
    sequential scan. Cost: 2(k-1) stateful operators — the per-batch
    fixed cost grows with chain length, the per-row cost does not."""
    from flink_framework_spark.operators.match_recognize import (
        _anchor_disjoint,
        _vars_disjoint,
    )

    quant = [
        i
        for i, e in enumerate(spec.elements)
        if not (e.n_min == 1 and e.n_max == 1)
    ]
    if len(quant) > 1:
        return (
            "join lowering unrolls at most ONE bounded-quantified "
            "element (two would union a product of chain branches)"
        )
    qi = quant[0] if quant else None
    fixed = len(spec.elements) - (1 if qi is not None else 0)
    if qi is not None:
        e = spec.elements[qi]
        if e.n_max is None:
            return (
                "unbounded quantifiers (+ * {m,}) keep the NFA — the "
                "join unroll must be finite"
            )
        if e.n_max - e.n_min > 3:
            return (
                "quantifier spread > 3 would union too many chain "
                "branches — keep n_max - n_min <= 3 for the join "
                "lowering"
            )
        if fixed + e.n_max > 8:
            return (
                "the maximal unrolled chain exceeds 8 elements "
                "(2(k-1) stateful operators per branch) — keep the "
                "NFA"
            )
        if qi == len(spec.elements) - 1 and e.n_min != e.n_max:
            return (
                "a TRAILING quantifier with n_min < n_max keeps the "
                "NFA: greedy maximality has no follower element to "
                "force the repetition count, so the shorter unrolled "
                "branches would emit prefixes the NFA never emits"
            )
        if qi < len(spec.elements) - 1 and e.n_min != e.n_max:
            nxt = spec.elements[qi + 1].var
            if events is None:
                return (
                    "schema-dependent (pass events): the quantified "
                    "unroll needs the repetition/successor DEFINE "
                    "disjointness proof, which needs the input schema"
                )
            if not _vars_disjoint(spec, events, e.var, nxt):
                return (
                    f"the unroll is join-safe only when {e.var!r}'s "
                    f"DEFINE is provably disjoint from its successor "
                    f"{nxt!r}'s (literal equality on one shared "
                    "column): a row satisfying both would make the "
                    "repetition count ambiguous — greedy prefers "
                    "consuming it as a repetition, but the shorter "
                    "unrolled branch would also match"
                )
    shortest = fixed + (spec.elements[qi].n_min if qi is not None else 0)
    if shortest < 2:
        return (
            "join lowering needs every unrolled branch to be a chain "
            "of at least two elements"
        )
    if len(spec.order_by) > 1:
        return (
            "multi-column ORDER BY keeps the NFA — the join "
            "lowering's adjacency predicates know only the "
            "(order_by[0], id) total order"
        )
    if spec.agg_defines or spec.nav_defines:
        return (
            "anchor-stateful DEFINEs (aggregates / FIRST/LAST "
            "navigation) keep the NFA"
        )
    names = [e.var for e in spec.elements]
    if len(set(names)) != len(names):
        return "repeated variable names keep the NFA"
    for ms in spec.measures:
        if (
            ms.func in ("VAR_COL", "FIRST", "LAST")
            and ms.offset == 0
            and ms.var in names
        ):
            continue
        if ms.func == "CLASSIFIER" or (
            ms.func in ("COUNT", "COUNT_STAR")
            and (ms.var is None or ms.var in names)
        ):
            # per-branch constants: COUNT(V.*) = the variable's
            # repetition count in the branch, COUNT(*) = the branch
            # length, CLASSIFIER() = the last element's name
            continue
        return (
            f"measure {ms.name!r} ({ms.func}) has no join spelling — "
            "only VAR.col / offset-0 FIRST/LAST bindings (which ride "
            "the join sides) and the chain constants COUNT/CLASSIFIER"
        )
    if spec.skip == "to_next":
        return None
    if qi is not None and (qi == 0 or spec.elements[qi].n_min == 0):
        return (
            f"AFTER MATCH SKIP {spec.skip} needs a FIXED singleton "
            "anchor: a quantified anchor's repetitions satisfy the "
            "anchor DEFINE themselves (candidates overlap by "
            "construction), and an n_min=0 quantifier can shift which "
            "element anchors a branch — only SKIP TO NEXT ROW lowers"
        )
    if events is None:
        # the one schema-dependent decision: consuming skips need the
        # disjoint-anchor proof, which canonicalizes the DEFINE
        # literals against the input column types
        return (
            "schema-dependent (pass events): consuming skips lower "
            "to joins only under the disjoint-anchor proof, which "
            "needs the input schema"
        )
    if not _anchor_disjoint(spec, events):
        return (
            f"AFTER MATCH SKIP {spec.skip} consumes rows — join-safe "
            "only when the anchor DEFINE is provably disjoint from "
            "every later element's literal equality (candidates then "
            "cannot overlap)"
        )
    return None


def _mr_stream_chain_join(
    events: DataFrame, spec, id_col: str, watermark: str
) -> DataFrame:
    """The JVM lowering of an eligible chain PATTERN (E0 .. Ek-1),
    optionally with ONE bounded-quantified element (see
    :func:`_mr_join_blocker`): each repetition count r in
    [n_min, n_max] UNROLLS to a fixed chain (prefix + var x r +
    suffix) — join-equivalent to the NFA because the
    repetition/successor DEFINE disjointness proof forces the
    repetition count per anchor, and the adjacency (no-intruder)
    joins kill every shorter branch whose next position lands on a
    repetition row — and the branch outputs union. Per branch:
    candidate chains by k-1 cascaded watermarked stream-stream
    interval joins, strict contiguity by k-1 LEFT OUTER interval
    joins against the unfiltered stream (a chain survives iff NO row
    sits lexicographically between any adjacent pair in the per-key
    (ts, id) total order — exactly the adjacency the NFA scans for),
    append mode, zero Python. Same output columns as the NFA path:
    partition key + one column per measure (FIRST/LAST on the
    quantified variable bind its first/last repetition; VAR.col binds
    the last, the SQL final semantics; COUNT(V.*) is the branch's
    repetition count).

    Join-state mechanics (the sequence_matches_join discipline):
    each side re-derives its own watermarked event-time column; every
    candidate edge carries two-sided range bounds (``t_i >= t_{i-1}``
    and ``t_i <= t_{i-1} + WITHIN``) so both sides' state evicts,
    plus the anchor-span residual ``t_i <= t_0 + WITHIN`` from the
    third element on (the WITHIN contract is first-to-last); after
    each edge the superseded timestamp is DEMOTED to a plain value so
    exactly one event-time column (the newest) drives the next
    stateful operator. Each adjacency join bounds the intruder via
    the surviving watermarked column (``m_ts <= t_{k-1}`` /
    ``m_ts >= t_{k-1} - WITHIN``) — both finalizing the outer null
    rows and evicting intruder state — with the strict lexicographic
    between-ness as residual predicates on the demoted pair."""
    from pyspark.sql import functions as F

    from flink_framework_spark.operators.match_recognize import (
        _rewrite_define,
    )

    key = spec.partition_by
    ts_col = spec.order_by[0]
    # the event-time tag follows the attribute through aliases, so a
    # source that is ALREADY watermarked ON THE ORDER BY COLUMN (the
    # normal case — the NFA path requires it) must not be
    # re-watermarked per side: Spark rejects watermark redefinition
    # under multiple stateful operators. Detect per COLUMN via the
    # spark.watermarkDelayMs field metadata (not a plan-string
    # substring): a watermark on some OTHER column would make the
    # inherit path fail at runtime with an opaque Spark error, so
    # that spelling is refused loudly here instead. Only a fully
    # unwatermarked source gets join_watermark on its re-derived
    # per-side columns.
    _WM_KEY = "spark.watermarkDelayMs"
    has_wm = _WM_KEY in (events.schema[ts_col].metadata or {})
    if not has_wm:
        tagged = [
            f.name
            for f in events.schema
            if _WM_KEY in (f.metadata or {})
        ]
        if tagged:
            raise ValueError(
                "streaming MATCH_RECOGNIZE join lowering: the source "
                f"watermark is on {tagged[0]!r} but ORDER BY is "
                f"{ts_col!r} — watermark the ORDER BY column (the "
                "event-time the pattern windows over), e.g. "
                f".withWatermark({ts_col!r}, ...)"
            )

    def wm(df, c):
        return df if has_wm else df.withWatermark(c, watermark)
    types = {f.name: f.dataType for f in events.schema}
    ts_type = types[ts_col].simpleString()

    def flag(var):
        raw = spec.defines.get(var)
        if raw is None:
            return F.lit(True)
        navs: dict = {}
        cond = F.expr(_rewrite_define(raw, spec.variables, navs, var))
        return F.coalesce(cond, F.lit(False))

    def demote(c: str):
        # value-identical copy without the event-time/watermark tag.
        # The non-TIMESTAMP branch is defensive only: Spark rejects
        # watermarks on TIMESTAMP_NTZ ([EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE], verified on 4.1.2), so a real stream
        # reaching here always carries a plain TIMESTAMP — the string
        # round-trip (micros-exact both ways) only runs for dry
        # construction against batch frames
        if ts_type == "timestamp":
            return F.timestamp_micros(F.unix_micros(F.col(c)))
        return F.col(c).cast("string").cast(ts_type)

    def mval(ms):
        # a measure over the ORDER BY column would copy the
        # watermark-tagged attribute — demote the copy so exactly one
        # event-time column per side enters the stateful joins
        return demote(ts_col) if ms.col == ts_col else F.col(ms.col)

    within_us = round(spec.within_s * 1e6)
    horizon = F.expr(f"INTERVAL {within_us} MICROSECOND")

    def build_branch(vars_r: list) -> DataFrame:
        """One unrolled fixed chain (positions = vars_r) through the
        candidate cascade + adjacency joins."""
        k = len(vars_r)
        pos_of: dict = {}
        for i, v in enumerate(vars_r):
            pos_of.setdefault(v, []).append(i)
        # measure -> source position in THIS branch (None = the
        # variable matched no rows here, the n_min=0 branch)
        src_pos = {}
        for mi, ms in enumerate(spec.measures):
            if ms.func in ("VAR_COL", "FIRST", "LAST"):
                ps = pos_of.get(ms.var)
                if ps is None:
                    src_pos[mi] = None
                else:
                    src_pos[mi] = ps[0] if ms.func == "FIRST" else ps[-1]
        side_meas = {
            i: [
                (mi, ms)
                for mi, ms in enumerate(spec.measures)
                if src_pos.get(mi, -1) == i
            ]
            for i in range(k)
        }

        def step(i: int) -> DataFrame:
            df = events.filter(flag(vars_r[i])).select(
                F.col(key).alias(f"__k{i}"),
                F.col(ts_col).alias(f"__t{i}"),
                F.col(id_col).alias(f"__i{i}"),
                *[
                    mval(ms).alias(f"__mv{mi}")
                    for mi, ms in side_meas[i]
                ],
            )
            return wm(df, f"__t{i}")

        cur = step(0)
        for i in range(1, k):
            cond = (
                # null-safe: a NULL partition key is a real partition
                # on the NFA/batch paths (groupBy) — plain == would
                # silently drop its matches here (the batch relational
                # path fixed the same bug with eqNullSafe)
                F.col("__k0").eqNullSafe(F.col(f"__k{i}"))
                # two-sided range on the event-time pair -> state
                # evicts
                & (F.col(f"__t{i}") >= F.col(f"__t{i-1}"))
                & (F.col(f"__t{i}") <= F.col(f"__t{i-1}") + horizon)
                # strictly-after in the (ts, id) total order (residual)
                & (
                    (F.col(f"__t{i}") > F.col(f"__t{i-1}"))
                    | (F.col(f"__i{i}") > F.col(f"__i{i-1}"))
                )
            )
            if i >= 2:
                # the WITHIN contract is first-to-last: anchor-span
                # bound as a residual on the (demoted) anchor ts
                cond = cond & (
                    F.col(f"__t{i}") <= F.col("__t0") + horizon
                )
            cur = (
                cur.join(step(i), cond)
                .drop(f"__k{i}")
                .withColumn(f"__t{i-1}", demote(f"__t{i-1}"))
            )

        last_t = f"__t{k-1}"  # the one surviving watermarked column
        # the intruder side is loop-invariant: each adjacency join
        # still instantiates its own state (Spark re-aliases the
        # reused plan)
        mid = wm(
            events.select(
                F.col(key).alias("__mk"),
                F.col(ts_col).alias("__m_ts"),
                F.col(id_col).alias("__m_id"),
                # literal hit marker: the null-intruder filter below
                # must not key on a DATA column (a NULL id_col
                # intruder would be indistinguishable from "no
                # intruder")
                F.lit(True).alias("__m_hit"),
            ),
            "__m_ts",
        )
        for i in range(1, k):
            between = (
                (F.col("__mk").eqNullSafe(F.col("__k0")))
                # two-sided range vs the surviving event-time column
                & (F.col("__m_ts") <= F.col(last_t))
                & (F.col("__m_ts") >= F.col(last_t) - horizon)
                # strictly between rows i-1 and i in the (ts, id)
                # order
                & (
                    (F.col("__m_ts") > F.col(f"__t{i-1}"))
                    | (
                        (F.col("__m_ts") == F.col(f"__t{i-1}"))
                        & (F.col("__m_id") > F.col(f"__i{i-1}"))
                    )
                )
                & (
                    (F.col("__m_ts") < F.col(f"__t{i}"))
                    | (
                        (F.col("__m_ts") == F.col(f"__t{i}"))
                        & (F.col("__m_id") < F.col(f"__i{i}"))
                    )
                )
            )
            cur = (
                cur.join(mid, between, "left_outer")
                .where(F.col("__m_hit").isNull())
                .drop("__mk", "__m_ts", "__m_id", "__m_hit")
            )

        def out_expr(mi, ms):
            if ms.func == "CLASSIFIER":
                # ONE ROW PER MATCH: the LAST matched row's variable —
                # constant on a fixed chain
                return F.lit(vars_r[-1])
            if ms.func == "COUNT_STAR":
                return F.lit(k).cast("bigint")
            if ms.func == "COUNT":
                # the variable's repetition count in THIS branch
                return F.lit(len(pos_of.get(ms.var, []))).cast("bigint")
            if src_pos.get(mi) is None:
                # the variable matched no rows in this branch — the
                # SQL NULL the NFA emits for an empty variable
                return F.lit(None).cast(types[ms.col])
            return F.col(f"__mv{mi}")

        return cur.select(
            F.col("__k0").alias(key),
            *[
                out_expr(mi, ms).alias(ms.name)
                for mi, ms in enumerate(spec.measures)
            ],
        )

    quant = [
        i
        for i, e in enumerate(spec.elements)
        if not (e.n_min == 1 and e.n_max == 1)
    ]
    if not quant:
        return build_branch([e.var for e in spec.elements])
    qi = quant[0]
    e = spec.elements[qi]
    prefix = [el.var for el in spec.elements[:qi]]
    suffix = [el.var for el in spec.elements[qi + 1:]]
    out = None
    for r in range(e.n_min, e.n_max + 1):
        b = build_branch(prefix + [e.var] * r + suffix)
        out = b if out is None else out.unionByName(b)
    return out


def stream_route_info(clause: str, events: DataFrame | None = None) -> dict:
    """Explain how :func:`match_recognize_stream` would execute
    ``clause`` under ``engine='auto'`` — the streaming twin of the
    batch :func:`operators.match_recognize.route_info` diagnostic:
    ``{"engine": "join" | "nfa" | "rejected", "reason": ...,
    "output_mode": ...}``. ``"rejected"`` means the stream entry
    point itself refuses the clause (no WITHIN, ALL ROWS, physical
    PREV/NEXT, multi-column PARTITION BY) — the stream would never
    start on either machine.

    The disjoint-anchor proof behind consuming skips is the one
    schema-dependent decision; without ``events`` those clauses
    report the NFA with a ``"schema-dependent (pass events)"`` note
    only AFTER every schema-independent shape check has passed."""
    spec = parse_match_recognize(clause)
    reject, _navs = _stream_reject_reason(spec)
    if reject is not None:
        return {"engine": "rejected", "reason": reject,
                "output_mode": None}
    blocker = _mr_join_blocker(spec, events)
    if blocker is None:
        quant = any(
            not (e.n_min == 1 and e.n_max == 1) for e in spec.elements
        )
        return {
            "engine": "join",
            "reason": (
                "bounded-quantifier unroll — one fixed chain per "
                "repetition count (disjointness-forced), each "
                "cascaded candidate interval joins + LEFT OUTER "
                "adjacency joins, unioned, zero Python"
                if quant
                else "all-singleton chain with last-row-binding "
                "measures — cascaded candidate interval joins + LEFT "
                "OUTER adjacency joins, zero Python"
            ),
            "output_mode": "append",
        }
    return {"engine": "nfa", "reason": blocker, "output_mode": "update"}
