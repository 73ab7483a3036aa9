"""SQL ``MATCH_RECOGNIZE`` — row-pattern recognition (SURVEY.md §2
I8; the Flink SQL spelling of CEP, ISO/IEC 9075-2:2016 part R).

Flink exposes its CEP engine to SQL users through the standard
``MATCH_RECOGNIZE`` clause. Its semantics differ from the fluent
``Pattern`` API (:mod:`operators.pattern`) in one fundamental way:
**contiguity is strict** — ``PATTERN (A B)`` means B is the row
IMMEDIATELY after A in the ordered partition, and relaxation is
spelled explicitly with filler variables (``PATTERN (A F* B)``), not
implied by ``followedBy``. Quantifiers are greedy with backtracking,
matches are enumerated left-to-right, and ``AFTER MATCH SKIP``
decides where the scan resumes.

Spark-first split of the work:

- **DEFINE predicates run JVM-side.** Each pattern variable's
  condition is compiled with ``F.expr`` into one boolean flag column,
  so arbitrary Spark SQL (the full function library, codegen'd) is
  available in conditions and only booleans + the columns MEASURES
  actually reads cross the Arrow boundary.
- **Non-backtracking patterns compile to a pure-relational plan.**
  A pattern whose elements are all singletons (no quantifiers, or
  only ``{1,1}``) has fixed length k: a match is k consecutive rows
  whose flags line up, i.e. ONE window pass of ``lead()`` columns
  over the per-key total order — JVM-side, whole-stage codegen, no
  Python anywhere. ``SKIP TO NEXT ROW`` emits every candidate
  directly; ``SKIP PAST LAST ROW`` additionally needs greedy
  non-overlap selection, which is skipped entirely when the anchor
  element's DEFINE is provably disjoint from every later element's
  (the archetypal ``type = 'x'`` chains — no candidate can start
  inside another match), and otherwise runs as a grouped-map scan
  over the CANDIDATE rows only (a tiny fraction of the input), never
  over the events.
- **Single-variable quantified runs also compile relationally**
  (round 6): ``P1..Pa Q{m,n} S1..Sb`` — with one quantified element
  the greedy backtracking search degenerates to an argmax over
  candidate end positions, so the match is windows (island reach,
  prefix sums) + one per-key band join, greedy = max end per
  anchor, and skip selection by the cheapest applicable proof. ONE
  ROW and ALL ROWS PER MATCH both supported. See
  :func:`_compile_relational_run`.
- **The NFA runs per key in one Arrow grouped map** — the same shape
  as Flink's own keyed NFA operator, kept for what genuinely
  backtracks: two or more quantified elements (how ``A* B*`` split a
  run is a search), repeated variable names, MIN/MAX over the
  quantified variable, and trailing optional runs. Per-key
  sequential matching with backtracking is inherently
  order-dependent state-machine work (no relational spelling
  exists), so this is the sanctioned ``applyInPandas`` case: one
  shuffle on the partition key, bounded per-key state, no driver
  involvement. All paths are fuzz-checked equal on eligible
  patterns (tests/test_match_recognize.py).

Supported subset (loud errors otherwise): ``PARTITION BY`` one or
more columns (several compile onto ONE internal struct key —
grouping, windows, and equi-joins compare structs natively, so the
plan shape and shuffle count are identical to the single-key case;
batch engines only, the streaming twin keys state on one column);
``ORDER BY`` the event-time column (a deterministic
tie-break on the id column is appended automatically — running SQL
over an ambiguous order is engine-defined, so the total order is
mandatory here); ``MEASURES`` with ``VAR.col`` (last-row binding,
the ONE ROW PER MATCH rule), ``FIRST/LAST(VAR.col [, n])`` with the
Flink logical offset (the (n+1)-th / (n+1)-th-from-last row mapped
to the variable, NULL past its rows), ``SUM/MIN/MAX/AVG(VAR.col)``,
``COUNT(VAR.*)``, ``COUNT(*)``, ``MATCH_NUMBER()`` and
``CLASSIFIER()``, each optionally prefixed with the SQL-standard
``RUNNING``/``FINAL`` semantics keyword (Flink parity — in ONE ROW
PER MATCH they coincide, as Flink documents; in ALL ROWS, RUNNING
is the per-row-prefix default and FINAL reports the whole match on
every row); ``ONE ROW PER MATCH`` and ``ALL ROWS PER MATCH``
(per-row emission — BEYOND Flink,
which ships only ONE ROW PER MATCH; batch only, the streaming twin
keeps ONE ROW);
``AFTER MATCH SKIP PAST LAST ROW | TO NEXT ROW | TO FIRST <var> |
TO LAST <var>`` (all four Flink strategies; the variable-targeted
modes resume AT the variable's first/last matched row, raise the
SQL-standard errors loudly — variable bound no rows, or a resume at
the match start that would loop forever — and reject the
statically-hopeless spellings at parse time, like Flink);
``PATTERN`` as one
concatenation of variables with quantifiers ``?`` ``*`` ``+``
``{m,n}`` ``{m,}`` — greedy by default, reluctant (lazy) with a
trailing ``?`` (``??`` ``*?`` ``+?`` ``{m,n}?``, Flink parity:
prefer the FEWEST repetitions; on the relational run path the
greedy max-end argmax flips to an argmin, in the NFA the
backtracking count order flips to ascending); ``SUBSET U = (A, B)``
union variables usable in
MEASURES (SQL standard — BEYOND Flink, which does not expose SUBSET;
compiled as position unions on the relational singleton path,
sorted row unions in the NFA); ``WITHIN INTERVAL 'n' unit`` (Flink
extension — first-to-last row span bound); ``DEFINE`` with arbitrary
single-row Spark SQL booleans plus ``PREV/NEXT(VAR.col [, n])``
physical navigation (the Flink flagship ``price < PREV(price)``
form — input-relative offsets compiled to one lag/lead window pass
before flagging, NULL past the partition edge, batch engines only)
plus ONE running aggregate per variable —
``AGG(V.col) cmp <number>`` (AGG in SUM/AVG/COUNT/MIN/MAX,
COUNT also V.*), optionally AND-combined with one row-level
condition: a row joins V iff the aggregate over V's rows so far
INCLUDING the row satisfies the comparison (SQL RUNNING semantics,
the Flink aggregations-in-DEFINE feature). Running values depend on
where the match anchored, so these patterns run on the NFA — the
per-element state is O(1) and incremental, and the prefix property
(every admitted prefix passed its own check) keeps greedy and
reluctant counts sharing one feasibility scan.
``FIRST/LAST(V.col [, n])`` match-relative navigation is ALSO
supported inside DEFINE (the Flink-docs V-pattern ``DOWN AS
DOWN.price < LAST(DOWN.price, 1)``): such conditions compile to a
Python-evaluable boolean over a bounded SQL subset
(:func:`_compile_nav_define`) and are evaluated per candidate row
DURING the NFA scan — self-navigation walks the element's own run
(candidate included, SQL RUNNING semantics; an offset past the rows
consumed so far is NULL), cross-variable navigation is limited to
variables bound at fixed anchor-relative positions (leading
unquantified elements), which keeps the scan's failure memo sound.
Anchor-stateful like the aggregates, so NFA-only; also on the
streaming twin (navigation never reaches before the anchor, so the
state buffer always holds the navigated rows) unless the condition
mixes in physical PREV/NEXT. Alternation/grouping stay documented
out of scope. Variables without a DEFINE match any row (SQL
default).

Empty matches (every element minimum 0) are skipped rather than
emitted, matching Flink's behaviour of not producing zero-width
matches in ONE ROW PER MATCH mode.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as _np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NAV_FUNCS = ("FIRST", "LAST", "SUM", "MIN", "MAX", "AVG", "COUNT")
_UNIT_SECONDS = {
    "SECOND": 1.0,
    "MINUTE": 60.0,
    "HOUR": 3600.0,
    "DAY": 86400.0,
}


@dataclass
class _Element:
    var: str
    n_min: int
    n_max: int | None  # None = unbounded
    # reluctant (lazy) quantifier — ``??``/``*?``/``+?``/``{m,n}?``:
    # prefer the FEWEST repetitions that let the rest of the pattern
    # complete (greedy prefers the most). Normalized to False when
    # n_min == n_max (no choice to prefer).
    reluctant: bool = False


@dataclass
class _Measure:
    name: str
    func: str  # VAR_COL | FIRST | LAST | SUM | MIN | MAX | AVG |
    #            COUNT | COUNT_STAR | MATCH_NUMBER
    var: str | None = None
    col: str | None = None
    # SQL-standard RUNNING/FINAL semantics marker. Only observable in
    # ALL ROWS PER MATCH (per-row emission): RUNNING (the default)
    # evaluates over the match prefix up to the current row, FINAL
    # over the whole match on every row. In ONE ROW PER MATCH the two
    # coincide (measures evaluate at the final row — Flink documents
    # the same), so the keyword is accepted and has no effect there.
    final: bool = False
    # FIRST/LAST logical offset (Flink parity): FIRST(A.x, 1) is the
    # SECOND row mapped to A, LAST(A.x, 1) the second-to-last; an
    # offset past the variable's matched rows is NULL.
    offset: int = 0


@dataclass
class MRSpec:
    """Parsed MATCH_RECOGNIZE clause."""

    partition_by: str
    order_by: list[str]
    measures: list[_Measure]
    skip: str  # "past_last" | "to_next" | "to_first" | "to_last"
    elements: list[_Element]
    within_s: float | None
    defines: dict[str, str] = field(default_factory=dict)
    rows: str = "one"  # "one" | "all" (ROWS PER MATCH mode)
    subsets: dict[str, list[str]] = field(default_factory=dict)
    # SKIP TO FIRST/LAST <var>: the pattern variable whose first/last
    # matched row the scan resumes AT (None for the row-based modes)
    skip_var: str | None = None
    # full PARTITION BY column list (Flink allows several); the
    # engine machinery keys on the single ``partition_by`` column —
    # for a multi-column clause, :func:`match_recognize` synthesizes
    # one internal struct key and re-expands it on output
    partition_cols: list[str] = field(default_factory=list)
    # running aggregates in DEFINE (Flink parity, bounded grammar):
    # var -> (func, col-or-'*', op, literal). The condition admits a
    # row iff the aggregate over the variable's rows so far PLUS the
    # candidate row satisfies the comparison (SQL RUNNING
    # semantics). NFA-only — the running value depends on where the
    # match anchored, so no per-row flag can precompute it.
    agg_defines: dict[str, tuple[str, str, str, float]] = field(
        default_factory=dict
    )
    # FIRST/LAST match-relative navigation in DEFINE (Flink parity —
    # its docs spell the V-pattern ``DOWN AS price < LAST(DOWN.price,
    # 1)``): var -> the raw DEFINE body, compiled by
    # :func:`_compile_nav_define` into a Python-evaluable boolean over
    # a bounded SQL subset and evaluated per candidate row DURING the
    # NFA scan (the navigated value depends on where the match
    # anchored and how far the run has grown, so no per-row flag can
    # precompute it — the same anchor-stateful class as agg_defines).
    nav_defines: dict[str, str] = field(default_factory=dict)

    @property
    def variables(self) -> list[str]:
        seen: list[str] = []
        for e in self.elements:
            if e.var not in seen:
                seen.append(e.var)
        return seen


# ---------------------------------------------------------------- parser

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<id>[A-Za-z_][A-Za-z_0-9]*)"
    r"|(?P<str>'(?:[^']|'')*')"
    r"|(?P<op>\|\||<>|<=|>=|!=|[(){},.*?+=<>/%|\[\]:-]))"
)


def _tokenize(text: str) -> list[str]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            if text[pos:].strip() == "":
                break
            raise ValueError(
                f"MATCH_RECOGNIZE: cannot tokenize at {text[pos:pos + 20]!r}"
            )
        toks.append(m.group(m.lastgroup))
        pos = m.end()
    return toks


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def peek_kw(self) -> str | None:
        t = self.peek()
        return t.upper() if t is not None else None

    def pop(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError("MATCH_RECOGNIZE: unexpected end of clause")
        self.i += 1
        return t

    def expect_kw(self, *kws: str) -> str:
        t = self.pop()
        if t.upper() not in kws:
            raise ValueError(
                f"MATCH_RECOGNIZE: expected {'/'.join(kws)}, got {t!r}"
            )
        return t.upper()


_AGG_CMP_RE = re.compile(
    # the sign may be spaced from the digits: DEFINE bodies are
    # re-joined from tokens, which renders '-3.5' as '- 3.5'
    r"(?i)\b(SUM|AVG|COUNT|MIN|MAX)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*"
    r"([A-Za-z_]\w*|\*)\s*\)\s*(<=|>=|<>|=|<|>)\s*(-?\s*\d+(?:\.\d+)?)"
)
_AGG_CALL_RE = re.compile(r"(?i)\b(SUM|AVG|COUNT|MIN|MAX)\s*\(")


def _has_top_level_or(text: str) -> bool:
    """True when a bare OR sits at parenthesis depth 0 outside string
    literals — the one spelling that would make the aggregate term
    NOT a top-level conjunct (SQL precedence: AND binds tighter).
    Parenthesized ORs inside the row-level residual are fine."""
    depth, i, n = 0, 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and text[i : i + 2].upper() == "OR":
            before_ok = i == 0 or not (
                text[i - 1].isalnum() or text[i - 1] == "_"
            )
            after_ok = i + 2 >= n or not (
                text[i + 2].isalnum() or text[i + 2] == "_"
            )
            if before_ok and after_ok:
                return True
        i += 1
    return False


def _extract_agg_define(var: str, expr: str):
    """Split a DEFINE body into (agg_constraint | None, residual
    row-level text | None) under the bounded grammar: the whole body
    is ``AGG(V.col) cmp literal``, optionally AND-combined at the top
    level with ONE row-level residual on either side. Aggregate calls
    anywhere else (inside the residual, under OR, over another
    variable, non-literal bounds) raise with the supported forms
    named. Detection runs on the non-literal segments only, so quoted
    strings containing 'SUM(' are inert."""
    segs = _STR_LIT_RE.split(expr)
    if not any(_AGG_CALL_RE.search(seg) for seg in segs):
        return None, expr
    # locate the aggregate comparison OUTSIDE string literals (a
    # quoted string containing 'SUM(x) <= 9' is inert)
    lit_spans = [mm.span() for mm in _STR_LIT_RE.finditer(expr)]
    m = None
    for cand in _AGG_CMP_RE.finditer(expr):
        if not any(lo <= cand.start() < hi for lo, hi in lit_spans):
            m = cand
            break
    supported = (
        "running aggregates in DEFINE support exactly "
        "'AGG(V.col) cmp <number>' (AGG in SUM/AVG/COUNT/MIN/MAX, "
        "COUNT also V.*), optionally AND-combined with one row-level "
        "condition"
    )
    if m is None:
        raise ValueError(
            f"DEFINE {var}: unsupported aggregate form — {supported}"
        )
    if m.group(2).upper() != var.upper():
        raise ValueError(
            f"DEFINE {var}: the running aggregate must range over the "
            f"variable being defined, got {m.group(2)!r} ({supported})"
        )
    func = m.group(1).upper()
    col = m.group(3)
    if col == "*" and func != "COUNT":
        raise ValueError(f"DEFINE {var}: {func}(V.*) is not a thing")
    agg = (func, col, m.group(4), float(m.group(5).replace(" ", "")))
    before = expr[: m.start()].strip()
    after = expr[m.end():].strip()
    residual = None
    if before and after:
        raise ValueError(
            f"DEFINE {var}: the aggregate term must sit at one end of "
            f"a top-level AND ({supported})"
        )
    rest = before or after
    if rest:
        if before:
            mand = re.search(r"(?is)^(.*)\bAND\s*$", rest)
        else:
            mand = re.match(r"(?is)^AND\b(.*)$", rest)
        if not mand:
            raise ValueError(
                f"DEFINE {var}: aggregate terms combine with a "
                f"top-level AND only ({supported})"
            )
        residual = mand.group(1).strip()
        if not residual:
            raise ValueError(f"DEFINE {var}: empty condition beside AND")
        res_segs = _STR_LIT_RE.split(residual)
        if any(_AGG_CALL_RE.search(sg) for sg in res_segs):
            raise ValueError(
                f"DEFINE {var}: one aggregate term per DEFINE "
                f"({supported})"
            )
        if _has_top_level_or(residual):
            # an unparenthesized OR would out-precede the AND and the
            # aggregate would no longer be a top-level conjunct;
            # parenthesized ORs inside the residual are fine
            raise ValueError(
                f"DEFINE {var}: a top-level OR around an aggregate "
                f"term is out of scope — the aggregate must be a "
                f"top-level conjunct; parenthesize the OR "
                f"({supported})"
            )
    return agg, residual


def parse_match_recognize(sql: str) -> MRSpec:
    """Parse a ``MATCH_RECOGNIZE ( ... )`` clause (the keyword and
    outer parentheses are optional; a leading ``SELECT ... FROM t``
    wrapper is rejected — pass the clause, the input table is the
    DataFrame argument)."""
    text = sql.strip().rstrip(";")
    m = re.match(r"(?is)^\s*MATCH_RECOGNIZE\s*\((.*)\)\s*$", text)
    if m:
        text = m.group(1)
    elif re.match(r"(?is)^\s*SELECT\b", text):
        raise ValueError(
            "pass the MATCH_RECOGNIZE clause itself; the input table is "
            "the DataFrame argument, not a FROM reference"
        )
    p = _Parser(_tokenize(text))

    p.expect_kw("PARTITION")
    p.expect_kw("BY")
    partition_cols = [p.pop()]
    while p.peek() == ",":
        p.pop()
        partition_cols.append(p.pop())
    if len(set(partition_cols)) != len(partition_cols):
        raise ValueError("PARTITION BY lists a column twice")
    partition_by = partition_cols[0]

    p.expect_kw("ORDER")
    p.expect_kw("BY")
    order_by = [p.pop()]
    while p.peek() == ",":
        p.pop()
        order_by.append(p.pop())

    measures: list[_Measure] = []
    if p.peek_kw() == "MEASURES":
        p.pop()
        while True:
            measures.append(_parse_measure(p))
            if p.peek() == ",":
                p.pop()
                continue
            break
    if not measures:
        raise ValueError("MATCH_RECOGNIZE: MEASURES clause is required")

    rows_mode = "one"
    if p.peek_kw() == "ALL":
        # beyond Flink: Flink ships only ONE ROW PER MATCH, but the
        # SQL-standard per-row emission has a clean relational oracle
        # (each matched row + its match_number + running measures)
        p.pop()
        p.expect_kw("ROWS")
        p.expect_kw("PER")
        p.expect_kw("MATCH")
        rows_mode = "all"
    elif p.peek_kw() == "ONE":
        p.pop()
        p.expect_kw("ROW")
        p.expect_kw("PER")
        p.expect_kw("MATCH")

    skip = "past_last"
    skip_var: str | None = None
    if p.peek_kw() == "AFTER":
        p.pop()
        p.expect_kw("MATCH")
        p.expect_kw("SKIP")
        kw = p.expect_kw("PAST", "TO")
        if kw == "PAST":
            p.expect_kw("LAST")
            p.expect_kw("ROW")
            skip = "past_last"
        else:
            nxt = p.expect_kw("NEXT", "FIRST", "LAST")
            if nxt == "NEXT":
                p.expect_kw("ROW")
                skip = "to_next"
            else:
                # SKIP TO FIRST/LAST <var>: resume AT the named
                # variable's first/last matched row (Flink parity —
                # its MATCH_RECOGNIZE ships all four strategies)
                skip = "to_first" if nxt == "FIRST" else "to_last"
                skip_var = p.pop()

    p.expect_kw("PATTERN")
    if p.pop() != "(":
        raise ValueError("PATTERN needs a parenthesized variable list")
    elements: list[_Element] = []
    while p.peek() != ")":
        t = p.pop()
        if t in ("|",):
            raise ValueError("pattern alternation '|' is out of scope")
        if not re.match(r"^[A-Za-z_]\w*$", t):
            raise ValueError(f"unexpected token {t!r} in PATTERN")
        n_min, n_max = 1, 1
        quantified = True
        nxt = p.peek()
        if nxt == "?":
            p.pop()
            n_min, n_max = 0, 1
        elif nxt == "*":
            p.pop()
            n_min, n_max = 0, None
        elif nxt == "+":
            p.pop()
            n_min, n_max = 1, None
        elif nxt == "{":
            p.pop()
            n_min = int(p.pop())
            if p.peek() == ",":
                p.pop()
                n_max = None if p.peek() == "}" else int(p.pop())
            else:
                n_max = n_min
            if p.pop() != "}":
                raise ValueError("unterminated {m,n} quantifier")
            if n_max is not None and n_max < n_min:
                raise ValueError(f"quantifier {{{n_min},{n_max}}} is empty")
        else:
            quantified = False
        reluctant = False
        if quantified and p.peek() == "?":
            # a second '?' after a quantifier = the SQL-standard
            # reluctant (lazy) marker: prefer the fewest repetitions.
            # {n}? (n_min == n_max) has no choice — normalize to
            # greedy so eligibility proofs see one canonical form.
            p.pop()
            reluctant = n_min != n_max
        elements.append(_Element(t, n_min, n_max, reluctant))
    p.pop()  # ")"
    if not elements:
        raise ValueError("PATTERN is empty")

    # SUBSET (SQL-standard union variables) and the Flink WITHIN
    # extension both trail PATTERN; real queries spell them in either
    # order, so accept both
    within_s: float | None = None
    subsets: dict[str, list[str]] = {}
    while p.peek_kw() in ("WITHIN", "SUBSET"):
        if p.peek_kw() == "WITHIN":
            if within_s is not None:
                raise ValueError("duplicate WITHIN clause")
            p.pop()
            p.expect_kw("INTERVAL")
            lit = p.pop()
            if not (lit.startswith("'") and lit.endswith("'")):
                raise ValueError("WITHIN INTERVAL needs a quoted magnitude")
            unit = p.expect_kw(
                *_UNIT_SECONDS, *[u + "S" for u in _UNIT_SECONDS]
            )
            within_s = float(lit.strip("'")) * _UNIT_SECONDS[unit.rstrip("S")]
        else:
            if subsets:
                raise ValueError("duplicate SUBSET clause")
            p.pop()
            while True:
                name = p.pop()
                if p.pop() != "=":
                    raise ValueError("SUBSET needs NAME = (members)")
                if p.pop() != "(":
                    raise ValueError("SUBSET members need parentheses")
                members = [p.pop()]
                while p.peek() == ",":
                    p.pop()
                    members.append(p.pop())
                if p.pop() != ")":
                    raise ValueError("unterminated SUBSET member list")
                if len(set(members)) != len(members):
                    raise ValueError(
                        f"SUBSET {name!r} lists a member twice"
                    )
                subsets[name] = members
                if p.peek() == ",":
                    p.pop()
                    continue
                break

    defines: dict[str, str] = {}
    if p.peek_kw() == "DEFINE":
        p.pop()
        rest = _raw_defines(p)
        for var, expr in rest:
            defines[var] = expr
    if p.peek() is not None:
        raise ValueError(
            f"MATCH_RECOGNIZE: trailing tokens from {p.peek()!r}"
        )

    var_set = {e.var for e in elements}
    for name, members in subsets.items():
        if name in var_set:
            raise ValueError(
                f"SUBSET {name!r} collides with a pattern variable"
            )
        for mvar in members:
            if mvar not in var_set:
                raise ValueError(
                    f"SUBSET {name!r} member {mvar!r} not in PATTERN "
                    "(subsets of subsets are out of scope)"
                )
    if skip_var is not None:
        if skip_var in subsets:
            raise ValueError(
                f"AFTER MATCH SKIP TO FIRST/LAST {skip_var}: SUBSET "
                "union variables are not a skip target here — name a "
                "pattern variable"
            )
        if skip_var not in var_set:
            raise ValueError(
                f"AFTER MATCH SKIP TO FIRST/LAST references "
                f"{skip_var!r}, not in PATTERN"
            )
        e0 = elements[0]
        only_first = all(
            e.var != skip_var for e in elements[1:]
        )
        if skip == "to_first" and e0.var == skip_var:
            # the first row mapped to the first element IS the match
            # start — resuming there can never advance. Flink rejects
            # this statically too.
            raise ValueError(
                f"AFTER MATCH SKIP TO FIRST {skip_var} would resume at "
                "the match start — infinite loop (Flink rejects this "
                "pattern as well)"
            )
        if (
            skip == "to_last"
            and e0.var == skip_var
            and only_first
            and e0.n_max == 1
        ):
            raise ValueError(
                f"AFTER MATCH SKIP TO LAST {skip_var} would resume at "
                "the match start — infinite loop (the variable binds "
                "only the first row)"
            )
    for v in defines:
        if v not in var_set:
            raise ValueError(f"DEFINE references {v!r}, not in PATTERN")
    # FIRST/LAST navigation defines split off BEFORE aggregate
    # extraction: a body containing both classes rejects here rather
    # than half-parsing as an aggregate with a navigating residual
    nav_defines: dict[str, str] = {}
    for v in list(defines):
        expr0 = defines[v]
        if expr0 is None or not _has_nav_define(expr0):
            continue
        if sum(1 for e in elements if e.var == v) != 1:
            raise ValueError(
                f"DEFINE {v}: FIRST/LAST navigation requires the "
                "variable to appear exactly once in PATTERN (the "
                "navigation would otherwise span non-contiguous "
                "segments)"
            )
        if any(
            _AGG_CALL_RE.search(sg) for sg in _STR_LIT_RE.split(expr0)
        ):
            raise ValueError(
                f"DEFINE {v}: combining a running aggregate with "
                "FIRST/LAST navigation in one DEFINE is out of scope"
            )
        # parse-time validation (syntax, qualifier scoping, offsets)
        _compile_nav_define(v, expr0, elements)
        nav_defines[v] = expr0
        del defines[v]
    agg_defines: dict[str, tuple[str, str, str, float]] = {}
    for v in list(defines):
        agg, residual = _extract_agg_define(v, defines[v])
        if agg is None:
            continue
        if sum(1 for e in elements if e.var == v) != 1:
            raise ValueError(
                f"DEFINE {v}: a running-aggregate DEFINE requires the "
                "variable to appear exactly once in PATTERN (the "
                "aggregate would otherwise span non-contiguous "
                "segments)"
            )
        agg_defines[v] = agg
        if residual is None:
            del defines[v]
        else:
            defines[v] = residual
    for ms in measures:
        if (
            ms.var is not None
            and ms.var not in var_set
            and ms.var not in subsets
        ):
            raise ValueError(
                f"measure {ms.name!r} references {ms.var!r}, not in "
                "PATTERN or SUBSET"
            )
    return MRSpec(
        partition_by=partition_by,
        order_by=order_by,
        measures=measures,
        skip=skip,
        elements=elements,
        within_s=within_s,
        defines=defines,
        rows=rows_mode,
        subsets=subsets,
        skip_var=skip_var,
        partition_cols=partition_cols,
        agg_defines=agg_defines,
        nav_defines=nav_defines,
    )


def _parse_measure(p: _Parser) -> _Measure:
    t = p.pop()
    up = t.upper()
    final = False
    offset = 0
    if up in ("RUNNING", "FINAL") and p.peek() != ".":
        # optional SQL-standard semantics keyword; a variable that
        # happens to be named RUNNING/FINAL is disambiguated by the
        # following "." (VAR.col form)
        final = up == "FINAL"
        t = p.pop()
        up = t.upper()
    if up in ("MATCH_NUMBER", "CLASSIFIER"):
        if p.pop() != "(" or p.pop() != ")":
            raise ValueError(f"{up} takes no arguments")
        func, var, col = up, None, None
    elif up in _NAV_FUNCS and p.peek() == "(":
        p.pop()
        if up == "COUNT" and p.peek() == "*":
            p.pop()
            func, var, col = "COUNT_STAR", None, None
        else:
            var = p.pop()
            if p.pop() != ".":
                raise ValueError(f"{up}() needs a VAR.col argument")
            if up == "COUNT" and p.peek() == "*":
                p.pop()
                func, col = "COUNT", None
            else:
                func, col = up, p.pop()
                if up == "COUNT":
                    raise ValueError("COUNT supports COUNT(V.*) / COUNT(*)")
        if p.peek() == ",":
            if up not in ("FIRST", "LAST"):
                raise ValueError(
                    f"{up}() takes no offset — logical offsets apply "
                    "to FIRST/LAST only"
                )
            p.pop()
            off_tok = p.pop()
            if not re.match(r"^\d+$", off_tok):
                raise ValueError(
                    f"{up}() offset must be a non-negative integer "
                    f"literal, got {off_tok!r}"
                )
            offset = int(off_tok)
        if p.pop() != ")":
            raise ValueError(f"unterminated {up}(...) measure")
    else:
        var = t
        if p.pop() != ".":
            raise ValueError(
                f"unsupported measure expression at {t!r} (supported: "
                "VAR.col, FIRST/LAST/SUM/MIN/MAX/AVG(VAR.col), "
                "COUNT(VAR.*), COUNT(*), MATCH_NUMBER())"
            )
        func, col = "VAR_COL", p.pop()
    p.expect_kw("AS")
    name = p.pop()
    return _Measure(
        name=name, func=func, var=var, col=col, final=final, offset=offset
    )


def _raw_defines(p: _Parser) -> list[tuple[str, str]]:
    """DEFINE bodies are kept as raw token runs (split on top-level
    commas) and handed to Spark's own SQL parser via ``F.expr``."""
    out: list[tuple[str, str]] = []
    while p.peek() is not None:
        var = p.pop()
        p.expect_kw("AS")
        depth = 0
        body: list[str] = []
        while p.peek() is not None:
            t = p.peek()
            if t == "," and depth == 0:
                p.pop()
                break
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            body.append(p.pop())
        if not body:
            raise ValueError(f"DEFINE {var} AS <empty>")
        out.append((var, _join_tokens(body)))
    return out


def _join_tokens(toks: list[str]) -> str:
    out = ""
    for t in toks:
        if t == "." or out.endswith("."):
            out += t
        else:
            out += (" " if out else "") + t
    return out


# ------------------------------------------------------------- compiler


_STR_LIT_RE = re.compile(r"'(?:[^']|'')*'")

# PREV/NEXT([VAR.]col [, n]) — physical navigation; the variable
# qualifier is optional, matching the rest of DEFINE (bare column
# refs denote the candidate row)
_NAV_CALL_RE = re.compile(
    r"(?i)\b(PREV|NEXT)\s*\(\s*(?:([A-Za-z_]\w*)\s*\.\s*)?"
    r"([A-Za-z_]\w*)\s*(?:,\s*(\d+)\s*)?\)"
)


def _rewrite_define(
    expr: str,
    variables: list[str],
    navs: dict[str, tuple[str, str, int]] | None = None,
    defining: str | None = None,
) -> str:
    """Rewrite ``VAR.col`` → ``col`` (single-row semantics: any
    pattern-variable prefix denotes the candidate row itself) and
    ``PREV/NEXT(VAR.col [, n])`` → a generated navigation-column
    placeholder recorded in ``navs`` (physical, input-relative
    offsets — the SQL-standard/Flink DEFINE semantics: the row n
    before/after the CANDIDATE row in the ordered partition,
    regardless of what matched; exactly one ``lag/lead`` over the
    per-key total order, so Flink's flagship ``price <
    PREV(price)`` patterns run JVM-side on both engines). Beyond the
    partition edge the navigation is NULL and the flag coalesces to
    false, matching Flink. FIRST/LAST inside DEFINE (match-relative
    navigation) stay out of scope.

    String literals are carried through untouched: the rewrite and
    both validations run only on the segments BETWEEN quoted
    literals, so a condition like ``A.note = 'e.g. A.x'`` neither
    corrupts the literal nor trips the stray-qualifier check."""
    segments = _STR_LIT_RE.split(expr)
    literals = _STR_LIT_RE.findall(expr)
    pat = re.compile(
        r"\b(" + "|".join(re.escape(v) for v in variables) + r")\s*\.\s*"
    )
    out_segments = []
    for seg in segments:
        def _nav_sub(m: re.Match) -> str:
            d = m.group(1).upper()
            if m.group(2) is not None and m.group(2).upper() not in {
                v.upper() for v in variables
            }:
                raise ValueError(
                    f"{d}()'s qualifier must be a pattern variable, "
                    f"got {m.group(2)!r}"
                )
            if (
                m.group(2) is not None
                and defining is not None
                and m.group(2).upper() != defining.upper()
            ):
                # In the SQL standard / Flink, a cross-variable
                # PREV(B.col) inside DEFINE A navigates from the last
                # row MAPPED to B (match-relative), not from the
                # candidate row — this engine's lag/lead compilation
                # would silently return a different value, so reject
                # loudly (the codebase's loud-errors contract). Only
                # the self-qualified and unqualified forms (both =
                # candidate-row physical navigation) are in scope.
                raise ValueError(
                    f"{d}({m.group(2)}.{m.group(3)}) inside DEFINE "
                    f"{defining}: cross-variable navigation is "
                    "match-relative in the SQL standard and is out of "
                    "scope — qualify with the variable being defined "
                    "(or leave unqualified) for candidate-row "
                    "physical navigation"
                )
            col = m.group(3)
            n = int(m.group(4) or 1)
            if navs is None:
                raise ValueError(
                    f"{d}() inside DEFINE is not supported here"
                )
            if n == 0:
                return col  # offset 0 = the candidate row itself
            ph = f"__nav_{d.lower()}{n}_{col}"
            navs[ph] = (d, col, n)
            return ph

        seg = _NAV_CALL_RE.sub(_nav_sub, seg)
        for nav in ("PREV", "NEXT", "FIRST", "LAST"):
            if re.search(rf"(?i)\b{nav}\s*\(", seg):
                raise ValueError(
                    f"{nav}() inside DEFINE is out of scope — conditions "
                    "are single-row Spark SQL booleans plus "
                    "PREV/NEXT(VAR.col [, n]) physical navigation"
                )
        seg = pat.sub("", seg)
        stray = re.search(r"\b([A-Za-z_]\w*)\s*\.(?!\d)", seg)
        if stray:
            raise ValueError(
                f"DEFINE references {stray.group(1)!r}.col — only pattern "
                "variables can qualify columns"
            )
        out_segments.append(seg)
    rewritten = out_segments[0]
    for lit, seg in zip(literals, out_segments[1:]):
        rewritten += lit + seg
    return rewritten


# ------------------------- FIRST/LAST match-relative navigation in DEFINE

_MR_NAV_DEF_RE = re.compile(r"(?i)\b(FIRST|LAST)\s*\(")


def _has_nav_define(expr: str) -> bool:
    """True when a FIRST/LAST call sits outside string literals."""
    return any(
        _MR_NAV_DEF_RE.search(seg) for seg in _STR_LIT_RE.split(expr)
    )


def _bool3(v, var: str):
    """Coerce an eval result into SQL three-valued logic (True/False/
    None); anything non-boolean in a boolean position raises loudly."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, _np.bool_):
        return bool(v)
    raise ValueError(
        f"DEFINE {var}: non-boolean value in a boolean position "
        f"(got {type(v).__name__})"
    )


_NAV_CMPS = {
    "=": lambda x, y: x == y,
    "<>": lambda x, y: x != y,
    "!=": lambda x, y: x != y,
    "<": lambda x, y: x < y,
    "<=": lambda x, y: x <= y,
    ">": lambda x, y: x > y,
    ">=": lambda x, y: x >= y,
}


def _compile_nav_define(
    var: str, expr: str, elements: list[_Element]
) -> tuple:
    """Compile a DEFINE body containing FIRST/LAST match-relative
    navigation into ``(evalfn, referenced_cols, uses_physical_nav)``.

    ``evalfn(val, start, pos, run, cand)`` evaluates the condition for
    the candidate row at index ``cand`` while element ``var`` (which
    must occur exactly once in PATTERN) has already consumed ``run``
    rows starting at ``pos`` in the match anchored at ``start``;
    ``val(col, idx)`` resolves a column value at a row index of the
    ordered partition (None past its edges and for SQL NULLs). The
    result is True/False/None under SQL three-valued logic — a row is
    admitted iff True.

    Supported subset (loud errors otherwise): comparisons
    ``= <> != < <= > >=``, ``IS [NOT] NULL``, ``AND/OR/NOT``
    (Kleene), arithmetic ``+ - * / %`` (NULL on division by zero,
    SQL-style), numeric/string literals, ``TRUE/FALSE/NULL``, bare or
    variable-qualified column refs (the candidate row — the engine's
    single-row DEFINE semantics), ``PREV/NEXT(col [, n])`` physical
    navigation (self/unqualified only, NULL past the partition edge),
    and the feature itself:

    - ``FIRST/LAST(V.col [, n])`` with ``V`` the variable being
      defined: logical navigation over the element's own run
      INCLUDING the candidate (SQL RUNNING semantics) — ``LAST(V.x)``
      is the candidate's ``x``, ``LAST(V.x, 1)`` the previously
      admitted row's, ``FIRST(V.x)`` the run's first row's; an offset
      past the rows consumed so far is NULL (Flink's V-pattern guards
      exactly this with ``LAST(DOWN.price, 1) IS NULL OR ...``).
    - ``FIRST/LAST(X.col [, n])`` with ``X`` another variable: allowed
      only when X binds fixed prefix rows (every element of X is an
      unquantified singleton before the first quantified element and
      before the defined variable) — those positions are
      anchor-relative constants, which keeps the scan's failure memo
      sound. For the SQL standard's cross-variable read of Flink's
      V-pattern (``DOWN.price < STRT.price``), spell it
      ``LAST(STRT.price, 0)`` — a bare ``STRT.price`` stays the
      candidate row, like everywhere else in this engine's DEFINE.
    """
    variables: list[str] = []
    for e in elements:
        if e.var not in variables:
            variables.append(e.var)
    var_up = {v.upper(): v for v in variables}
    var_elems: dict[str, list[int]] = {}
    for j, e in enumerate(elements):
        var_elems.setdefault(e.var, []).append(j)
    di = var_elems[var][0]
    fixed_prefix = 0
    for e in elements:
        if e.n_min == 1 and e.n_max == 1:
            fixed_prefix += 1
        else:
            break
    cols: set[str] = set()
    physical = [False]
    p = _Parser(_tokenize(expr))

    def _call(name: str):
        up = name.upper()
        if up not in ("FIRST", "LAST", "PREV", "NEXT"):
            raise ValueError(
                f"DEFINE {var}: function {name}() is out of scope in a "
                "navigation DEFINE — the evaluable subset is "
                "comparisons/AND/OR/NOT/IS NULL/arithmetic over "
                "columns and literals, FIRST/LAST(V.col [, n]) "
                "match-relative navigation, and PREV/NEXT(col [, n]) "
                "physical navigation"
            )
        p.pop()  # "("
        q = p.pop()
        qual = None
        if p.peek() == ".":
            p.pop()
            qual, colname = q, p.pop()
        else:
            colname = q
        off = 1 if up in ("PREV", "NEXT") else 0
        if p.peek() == ",":
            p.pop()
            off_t = p.pop()
            if not re.fullmatch(r"\d+", off_t):
                raise ValueError(
                    f"DEFINE {var}: {up}() offset must be a "
                    "nonnegative integer literal"
                )
            off = int(off_t)
        if p.pop() != ")":
            raise ValueError(f"DEFINE {var}: unterminated {up}() call")
        cols.add(colname)
        if up in ("PREV", "NEXT"):
            if qual is not None and qual.upper() != var.upper():
                if qual.upper() not in var_up:
                    raise ValueError(
                        f"{up}()'s qualifier must be a pattern "
                        f"variable, got {qual!r}"
                    )
                raise ValueError(
                    f"{up}({qual}.{colname}) inside DEFINE {var}: "
                    "cross-variable navigation is match-relative in "
                    "the SQL standard and is out of scope — qualify "
                    "with the variable being defined (or leave "
                    "unqualified) for candidate-row physical "
                    "navigation"
                )
            if off == 0:
                return lambda val, s, po, r, c, col=colname: val(col, c)
            physical[0] = True
            d = -off if up == "PREV" else off
            return lambda val, s, po, r, c, col=colname, d=d: val(
                col, c + d
            )
        if qual is None:
            raise ValueError(
                f"DEFINE {var}: {up}() needs a variable qualifier — "
                f"{up}(V.col [, n])"
            )
        uq = qual.upper()
        if uq not in var_up:
            raise ValueError(
                f"DEFINE {var}: {up}()'s qualifier must be a pattern "
                f"variable, got {qual!r}"
            )
        if uq == var.upper():
            if up == "LAST":
                return lambda val, s, po, r, c, col=colname, n=off: (
                    val(col, c - n) if n <= r else None
                )
            return lambda val, s, po, r, c, col=colname, n=off: (
                val(col, po + n) if n <= r else None
            )
        tgt = var_up[uq]
        idxs = var_elems[tgt]
        if not all(j < fixed_prefix and j < di for j in idxs):
            raise ValueError(
                f"DEFINE {var}: {up}({qual}.{colname}) — "
                "cross-variable navigation is supported only to "
                "variables bound at fixed positions before the "
                "defined variable (leading unquantified elements); "
                "quantified or later variables have no stable value "
                "during the scan"
            )
        if up == "LAST":
            j = idxs[-1 - off] if off < len(idxs) else None
        else:
            j = idxs[off] if off < len(idxs) else None
        if j is None:
            return lambda *a: None  # offset past the variable's rows
        return lambda val, s, po, r, c, col=colname, j=j: val(col, s + j)

    def _atom():
        t = p.peek()
        if t is None:
            raise ValueError(
                f"DEFINE {var}: unexpected end of expression"
            )
        if t == "(":
            p.pop()
            f = _or_expr()
            if p.pop() != ")":
                raise ValueError(
                    f"DEFINE {var}: unbalanced parentheses"
                )
            return f
        if t == "-":
            p.pop()
            f = _atom()
            return lambda val, s, po, r, c, f=f: (
                None
                if (x := f(val, s, po, r, c)) is None
                else -x
            )
        if t.startswith("'"):
            p.pop()
            lit = t[1:-1].replace("''", "'")
            return lambda *a, lit=lit: lit
        if re.fullmatch(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", t):
            p.pop()
            # integer literals stay Python int: float() would round
            # values above 2^53, silently breaking equality against
            # int64 columns such as event_id
            n = float(t) if ("." in t or "e" in t or "E" in t) else int(t)
            return lambda *a, n=n: n
        if not re.fullmatch(r"[A-Za-z_]\w*", t):
            raise ValueError(f"DEFINE {var}: unexpected token {t!r}")
        p.pop()
        up = t.upper()
        if up == "NULL":
            return lambda *a: None
        if up == "TRUE":
            return lambda *a: True
        if up == "FALSE":
            return lambda *a: False
        if p.peek() == "(":
            return _call(t)
        if p.peek() == ".":
            if up not in var_up:
                raise ValueError(
                    f"DEFINE {var}: {t!r}.col — only pattern "
                    "variables can qualify columns"
                )
            p.pop()
            col = p.pop()
            cols.add(col)
            return lambda val, s, po, r, c, col=col: val(col, c)
        cols.add(t)
        return lambda val, s, po, r, c, col=t: val(col, c)

    def _mul_expr():
        f = _atom()
        while p.peek() in ("*", "/", "%"):
            op = p.pop()
            g = _atom()

            def mk(f=f, g=g, op=op):
                def h(val, s, po, r, c):
                    x = f(val, s, po, r, c)
                    y = g(val, s, po, r, c)
                    if x is None or y is None:
                        return None
                    if op == "*":
                        return x * y
                    if y == 0:
                        return None  # SQL: NULL on /0 and %0
                    return x / y if op == "/" else x % y

                return h

            f = mk()
        return f

    def _add_expr():
        f = _mul_expr()
        while p.peek() in ("+", "-"):
            op = p.pop()
            g = _mul_expr()

            def mk(f=f, g=g, op=op):
                def h(val, s, po, r, c):
                    x = f(val, s, po, r, c)
                    y = g(val, s, po, r, c)
                    if x is None or y is None:
                        return None
                    return x + y if op == "+" else x - y

                return h

            f = mk()
        return f

    def _cmp_expr():
        f = _add_expr()
        if p.peek_kw() == "IS":
            p.pop()
            neg = p.peek_kw() == "NOT"
            if neg:
                p.pop()
            p.expect_kw("NULL")
            return lambda val, s, po, r, c, f=f, neg=neg: (
                (f(val, s, po, r, c) is None) != neg
            )
        t = p.peek()
        if t in _NAV_CMPS:
            p.pop()
            opf = _NAV_CMPS[t]
            g = _add_expr()

            def h(val, s, po, r, c, f=f, g=g, opf=opf):
                x = f(val, s, po, r, c)
                y = g(val, s, po, r, c)
                if x is None or y is None:
                    return None
                return bool(opf(x, y))

            return h
        return f

    def _not_expr():
        if p.peek_kw() == "NOT":
            p.pop()
            f = _not_expr()
            return lambda val, s, po, r, c, f=f: (
                None
                if (x := _bool3(f(val, s, po, r, c), var)) is None
                else (not x)
            )
        return _cmp_expr()

    def _and_expr():
        f = _not_expr()
        while p.peek_kw() == "AND":
            p.pop()
            g = _not_expr()

            def mk(f=f, g=g):
                def h(val, s, po, r, c):
                    x = _bool3(f(val, s, po, r, c), var)
                    if x is False:
                        return False
                    y = _bool3(g(val, s, po, r, c), var)
                    if y is False:
                        return False
                    return None if (x is None or y is None) else True

                return h

            f = mk()
        return f

    def _or_expr():
        f = _and_expr()
        while p.peek_kw() == "OR":
            p.pop()
            g = _and_expr()

            def mk(f=f, g=g):
                def h(val, s, po, r, c):
                    x = _bool3(f(val, s, po, r, c), var)
                    if x is True:
                        return True
                    y = _bool3(g(val, s, po, r, c), var)
                    if y is True:
                        return True
                    return None if (x is None or y is None) else False

                return h

            f = mk()
        return f

    root = _or_expr()
    if p.peek() is not None:
        raise ValueError(
            f"DEFINE {var}: trailing tokens from {p.peek()!r}"
        )

    def top(val, s, po, r, c, root=root):
        return _bool3(root(val, s, po, r, c), var)

    return top, cols, physical[0]


def _measure_out_type(ms: _Measure, events: DataFrame) -> str:
    if ms.func in ("MATCH_NUMBER", "COUNT", "COUNT_STAR"):
        return "bigint"
    if ms.func == "CLASSIFIER":
        return "string"
    if ms.func == "AVG":
        return "double"
    src = dict((f.name, f.dataType.simpleString()) for f in events.schema)
    if ms.col not in src:
        raise ValueError(f"measure column {ms.col!r} not in input schema")
    if ms.func == "SUM":
        # standard SQL aggregate result typing: summing a (possibly
        # long) match of 32-bit ints must not overflow the declared
        # Arrow output type — integral sums widen to bigint, float to
        # double (pandas computes in int64/float64 regardless)
        t = src[ms.col]
        if t in ("tinyint", "smallint", "int", "bigint"):
            return "bigint"
        if t in ("float", "double"):
            return "double"
    return src[ms.col]


def prepare_flags(
    events: DataFrame,
    spec: MRSpec,
    id_col: str = "event_id",
) -> tuple[DataFrame, list[str], str, str]:
    """Validate the spec against the input, compute the per-variable
    DEFINE flag columns JVM-side, and prune to the columns the matcher
    needs. Returns ``(flagged_df, order_by, ts_col, out_schema)`` —
    shared by the batch matcher and the streaming twin."""
    variables = spec.variables
    cols = set(events.columns)
    if spec.partition_by not in cols:
        raise ValueError(f"PARTITION BY {spec.partition_by!r} not in input")
    for c in spec.order_by:
        if c not in cols:
            raise ValueError(f"ORDER BY {c!r} not in input")
    order_by = list(spec.order_by)
    if id_col in cols and id_col not in order_by:
        order_by.append(id_col)  # mandatory deterministic tie-break
    elif id_col not in cols and len(order_by) < 2:
        raise ValueError(
            "need a total order: ORDER BY a second tie-break column or "
            "provide id_col"
        )

    ts_col = spec.order_by[0]
    need_cols = {spec.partition_by, *order_by}
    for ms in spec.measures:
        if ms.col is not None:
            if ms.col not in cols:
                raise ValueError(f"measure column {ms.col!r} not in input")
            need_cols.add(ms.col)
    src_types0 = {f.name: f.dataType.simpleString() for f in events.schema}
    for v, (afunc, acol, _op, _lit) in spec.agg_defines.items():
        if acol == "*":
            continue
        if acol not in cols:
            raise ValueError(
                f"DEFINE {v}: aggregate column {acol!r} not in input"
            )
        if src_types0[acol] not in _NUMERIC_TYPES:
            raise ValueError(
                f"DEFINE {v}: {afunc}({acol}) needs a numeric column, "
                f"got {src_types0[acol]}"
            )
        need_cols.add(acol)
    for v, nexpr in spec.nav_defines.items():
        # nav-DEFINE conditions evaluate Python-side during the scan:
        # their referenced columns must cross the Arrow boundary (the
        # flag column for these variables is a plain True)
        _nfn, ncols, _phys = _compile_nav_define(v, nexpr, spec.elements)
        for nc in ncols:
            if nc not in cols:
                raise ValueError(
                    f"DEFINE {v}: column {nc!r} not in input"
                )
            need_cols.add(nc)

    navs: dict[str, tuple[str, str, int]] = {}
    rewritten = {
        v: (
            None
            if spec.defines.get(v) is None
            else _rewrite_define(spec.defines[v], variables, navs, v)
        )
        for v in variables
    }
    flagged = events
    if navs:
        # physical PREV/NEXT navigation: one lag/lead pass over the
        # per-key total order, computed BEFORE the flags so every
        # DEFINE stays a single-row JVM expression. The navigation
        # columns are consumed by the flag expressions and pruned by
        # the projection below — they never cross to Python.
        from pyspark.sql import Window

        wnav = Window.partitionBy(spec.partition_by).orderBy(*order_by)
        for ph, (d, col, n) in sorted(navs.items()):
            if col not in cols:
                raise ValueError(
                    f"{d}() references column {col!r}, not in input"
                )
            off = F.lag(col, n) if d == "PREV" else F.lead(col, n)
            flagged = flagged.withColumn(ph, off.over(wnav))
    flag_cols = []
    for v in variables:
        flag = f"__m_{v}"
        cond = (
            F.lit(True)
            if rewritten[v] is None
            else F.expr(rewritten[v])
        )
        flagged = flagged.withColumn(flag, F.coalesce(cond, F.lit(False)))
        flag_cols.append(flag)
    flagged = flagged.select(*sorted(need_cols), *flag_cols)

    src_types = dict(
        (f.name, f.dataType.simpleString()) for f in events.schema
    )
    echo_cols = (
        [spec.partition_by] + order_by
        if spec.rows == "all"
        else [spec.partition_by]
    )
    clash = {ms.name for ms in spec.measures} & set(echo_cols)
    if clash:
        raise ValueError(
            f"measure name(s) {sorted(clash)} collide with the "
            "partition/order columns echoed by ALL ROWS PER MATCH"
        )
    out_schema = ", ".join(
        [f"{c} {src_types[c]}" for c in echo_cols]
        + [f"{ms.name} {_measure_out_type(ms, events)}" for ms in spec.measures]
    )
    return flagged, order_by, ts_col, out_schema


def match_recognize(
    events: DataFrame,
    clause: str,
    id_col: str = "event_id",
    engine: str = "auto",
) -> DataFrame:
    """Run a ``MATCH_RECOGNIZE`` clause against ``events``.

    One shuffle on the partition key; DEFINE predicates evaluated
    JVM-side as boolean flag columns. Singleton patterns (every
    element exactly once) compile to a pure-relational lead-window
    plan (see module doc — no Python stage for the archetypal
    disjoint-DEFINE chains); everything else runs the greedy
    backtracking NFA per key in a single Arrow grouped map, exactly
    the keyed-operator shape Flink compiles this clause to. Output:
    partition column + one column per measure, one row per match.

    ``engine``: ``"auto"`` (default — relational when eligible),
    ``"relational"`` (raise if the pattern is not eligible), or
    ``"nfa"`` (force the NFA; the fuzz suite uses this to assert both
    paths agree on eligible patterns).
    """
    if engine not in ("auto", "relational", "nfa"):
        raise ValueError(f"engine must be auto|relational|nfa, not {engine!r}")
    spec = parse_match_recognize(clause)
    if len(spec.partition_cols) > 1:
        # multi-column PARTITION BY (Flink allows several): the
        # machinery keys on ONE column, so synthesize an internal
        # struct key — grouping, windows, and equi-joins all compare
        # structs natively, every engine inherits unchanged — and
        # re-expand the key fields on output. Same single shuffle.
        import dataclasses

        pk = spec.partition_cols
        missing = [c for c in pk if c not in events.columns]
        if missing:
            raise ValueError(f"PARTITION BY {missing[0]!r} not in input")
        clash = {ms.name for ms in spec.measures} & set(pk)
        if clash:
            raise ValueError(
                f"measure name(s) {sorted(clash)} collide with the "
                "PARTITION BY columns echoed in the output"
            )
        ev2 = events.withColumn("__mr_pk", F.struct(*pk))
        spec2 = dataclasses.replace(
            spec, partition_by="__mr_pk", partition_cols=["__mr_pk"]
        )
        out = _dispatch(ev2, spec2, id_col, engine)
        lead = [F.col("__mr_pk").getField(c).alias(c) for c in pk]
        rest = [F.col(c) for c in out.columns if c != "__mr_pk"]
        return out.select(*lead, *rest)
    return _dispatch(events, spec, id_col, engine)


def _dispatch(
    events: DataFrame, spec: MRSpec, id_col: str, engine: str
) -> DataFrame:
    """Route a parsed spec to the relational compilers or the NFA."""
    singleton = _relational_eligible(spec)
    run_qi = None if singleton else _run_pattern_info(spec)
    if engine == "relational" and not singleton and run_qi is None:
        raise ValueError(
            "engine='relational' needs a singleton pattern or a "
            "single-variable run (exactly one quantified element, no "
            "repeated variables, no MIN/MAX over the quantified "
            "variable, no anchor-stateful DEFINEs — aggregates or "
            "FIRST/LAST navigation) — those classes keep the NFA"
        )
    if engine != "nfa":
        if singleton:
            return _compile_relational(events, spec, id_col)
        if run_qi is not None:
            return _compile_relational_run(events, spec, id_col, run_qi)
    flagged, order_by, ts_col, out_schema = prepare_flags(
        events, spec, id_col
    )
    matcher = _make_matcher(spec, order_by, ts_col)
    # one shuffle on the key, ORDER BY sorted JVM-side (Tungsten sort,
    # asc_nulls_last == pandas sort_values na_position='last'), then
    # ONE Arrow stage over whole sorted partitions: the matcher
    # iterates contiguous key runs per ~10k-row batch. Same shuffle
    # count as groupBy().applyInPandas, but the per-key Python sort +
    # per-key Arrow framing (~4 ms/key — the dominant cost for many
    # small keys) is gone.
    sorted_parts = flagged.repartition(spec.partition_by).sortWithinPartitions(
        spec.partition_by, *[F.asc_nulls_last(c) for c in order_by]
    )
    return sorted_parts.mapInPandas(matcher, schema=out_schema)


def route_info(clause: str, events: DataFrame | None = None) -> dict:
    """Explain how :func:`match_recognize` would execute ``clause`` —
    the porting diagnostic: ``{"engine": "relational-singleton" |
    "relational-run" | "nfa", "reason": ..., "selection": ...}``.

    ``selection`` (PAST LAST ROW relational paths only) names the
    greedy-selection proof that applies — ``"all-candidates
    (disjoint anchor)"`` needs the input schema, so pass ``events``
    to resolve it; without a frame, schema-dependent proofs report
    ``"schema-dependent (pass events)"``."""
    spec = parse_match_recognize(clause)
    if _relational_eligible(spec):
        info = {
            "engine": "relational-singleton",
            "reason": "all elements singletons — fixed-length "
            "lead-window compilation",
        }
        if spec.skip == "to_next":
            info["selection"] = "none (TO NEXT emits every candidate)"
        elif spec.skip in ("to_first", "to_last"):
            pos = [
                j
                for j, e in enumerate(spec.elements)
                if e.var == spec.skip_var
            ]
            off = pos[0] if spec.skip == "to_first" else pos[-1]
            info["selection"] = (
                "none (resume stride 1 — every candidate emits)"
                if off == 1
                else "grouped-map pick over candidates (constant "
                f"resume stride {off})"
            )
        elif len(spec.elements) == 1:
            info["selection"] = "none (length-1 matches cannot overlap)"
        elif events is None:
            info["selection"] = "schema-dependent (pass events)"
        elif _anchor_disjoint(spec, events):
            info["selection"] = "all-candidates (disjoint anchor)"
        else:
            info["selection"] = "grouped-map pick over candidates"
        return info
    qi = _run_pattern_info(spec)
    if qi is not None:
        qe = spec.elements[qi]
        a, b = qi, len(spec.elements) - qi - 1
        info = {
            "engine": "relational-run",
            "reason": f"single quantified element "
            f"{qe.var}{{{qe.n_min},{qe.n_max if qe.n_max is not None else ''}}}"
            f"{'?' if qe.reluctant else ''} "
            "— windows + per-key band join, "
            + (
                "reluctant = min end per anchor"
                if qe.reluctant
                else "greedy = max end per anchor"
            ),
        }
        if spec.skip == "to_next":
            info["selection"] = "none (TO NEXT emits every candidate)"
        elif spec.skip in ("to_first", "to_last"):
            info["selection"] = (
                "grouped-map pick over candidates (variable-targeted "
                "resume)"
            )
        elif events is None:
            info["selection"] = "schema-dependent (pass events)"
        elif a >= 1 and _anchor_disjoint(spec, events):
            info["selection"] = "all-candidates (disjoint anchor)"
        elif (
            a == 0
            and qe.n_min >= 1
            and b == 1
            and _vars_disjoint(
                spec, events, qe.var, spec.elements[qi + 1].var
            )
        ):
            info["selection"] = "first-feasible-anchor per island end"
        elif (
            a == 0
            and qe.n_min >= 1
            and b <= 1
            and spec.within_s is None
            and qe.n_max is None
            and not qe.reluctant
        ):
            info["selection"] = "island-start anchors"
        else:
            info["selection"] = "grouped-map pick over candidates"
        return info
    qs = [
        e for e in spec.elements if not (e.n_min == 1 and e.n_max == 1)
    ]
    names = [e.var for e in spec.elements]
    if spec.nav_defines:
        reason = (
            "FIRST/LAST navigation in DEFINE — the navigated value "
            "depends on where the match anchored and how far the run "
            "has grown, so no per-row flag can precompute it; NFA only"
        )
    elif spec.agg_defines:
        reason = (
            "running-aggregate DEFINE — the running value depends on "
            "where the match anchored, so no per-row flag can "
            "precompute it; NFA only"
        )
    elif len(qs) >= 2:
        reason = (
            f"{len(qs)} quantified elements — how they split a run "
            "is a backtracking search"
        )
    elif len(set(names)) != len(names):
        reason = "repeated variable names — non-contiguous measure sets"
    elif qs and any(
        ms.var == qs[0].var and ms.func in ("MIN", "MAX")
        for ms in spec.measures
    ):
        reason = (
            "MIN/MAX over the quantified variable — no prefix-sum "
            "spelling for a range extremum"
        )
    elif qs and qs[0].n_min == 0 and spec.elements[-1] is qs[0]:
        reason = (
            "trailing optional run — its c=0 matches have no end row "
            "to anchor the band join on"
        )
    elif qs and any(ms.var in spec.subsets for ms in spec.measures):
        reason = (
            "SUBSET measure on a quantified pattern — union rows "
            "straddle the run compiler's binding sides"
        )
    elif (
        qs
        and spec.rows == "all"
        and any(ms.offset for ms in spec.measures)
    ):
        reason = (
            "ALL ROWS with FIRST/LAST logical offsets — a running "
            "offset over a growing prefix keeps the NFA"
        )
    else:
        reason = "ALL ROWS PER MATCH on a singleton pattern"
    return {"engine": "nfa", "reason": reason}


# ------------------------------------------------- relational fast path


def _relational_eligible(spec: MRSpec) -> bool:
    """Singleton patterns only: every element consumed exactly once
    means matches have fixed length k and zero backtracking — the
    lead-window compilation below is exact. (All supported skip
    modes are handled; quantified patterns keep the NFA, as do
    running-aggregate DEFINEs — the running value depends on the
    anchor, so no per-row flag can precompute it.)"""
    return (
        spec.rows == "one"
        and not spec.agg_defines
        and not spec.nav_defines
        and all(e.n_min == 1 and e.n_max == 1 for e in spec.elements)
    )


_DEFINE_EQ_RE = re.compile(
    r"(?is)^\s*(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)\s*=\s*"
    r"('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$"
)


def _define_eq_literal(expr: str | None):
    """``[VAR.]col = <literal>`` → (col, canonical literal) or None.
    Used only as a sufficient disjointness proof — anything fancier
    returns None and the compiler falls back to explicit selection."""
    if expr is None:
        return None
    m = _DEFINE_EQ_RE.match(expr)
    if not m:
        return None
    col, lit = m.group(2).lower(), m.group(3)
    if lit.startswith("'"):
        return (col, ("s", lit[1:-1].replace("''", "'")))
    return (col, ("n", float(lit)))


_NUMERIC_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
}


def _canon_eq(
    spec: MRSpec, events: DataFrame, var: str
) -> tuple[str, object] | None:
    """The variable's DEFINE as a canonical ``(col, value)`` equality
    proof, or None. Literals are canonicalized against the COLUMN's
    type (see :func:`_anchor_disjoint` for why the spelling alone is
    not enough)."""
    p = _define_eq_literal(spec.defines.get(var))
    if p is None:
        return None
    col, (kind, val) = p
    t = {f.name.lower(): f.dataType.simpleString() for f in events.schema}.get(
        col
    )
    if t == "string":
        return (col, val) if kind == "s" else None
    if t in _NUMERIC_TYPES:
        if kind == "n":
            return (col, val)
        try:
            f = float(val)
        except ValueError:
            return None
        # NaN is no proof: nan != nan in Python, but Spark SQL's
        # equality treats NaN = NaN as TRUE, so two 'nan' literals
        # would falsely canonicalize as distinct values
        return None if f != f else (col, f)
    return None


def _vars_disjoint(
    spec: MRSpec, events: DataFrame, var_a: str, var_b: str
) -> bool:
    """True when no row can satisfy both variables' DEFINEs — proven
    from canonical literal-equality conditions on one shared column."""
    pa = _canon_eq(spec, events, var_a)
    pb = _canon_eq(spec, events, var_b)
    return (
        pa is not None
        and pb is not None
        and pa[0] == pb[0]
        and pa[1] != pb[1]
    )


def _anchor_disjoint(spec: MRSpec, events: DataFrame) -> bool:
    """True when NO row can satisfy both the anchor element's DEFINE
    and any later element's DEFINE — proven from literal-equality
    conditions on one shared column (``type = 'x'`` chains). Then a
    candidate can never start inside another match, so SKIP PAST LAST
    ROW keeps every candidate and the plan stays join/window-only.

    Literal comparison is against the COLUMN's type, not the literal's
    spelling: Spark's implicit casts can make two textually different
    conditions true for the same row (``v = '5'`` and ``v = 5``, or
    ``v = '05'``, on a numeric ``v`` all compare as 5.0). So on a
    string column only string literals prove disjointness (compared
    as text); on a numeric column every literal is canonicalized to
    its numeric value first (an unparseable string falls back — the
    cast yields NULL, never a proof); any other column type
    conservatively falls back to explicit greedy selection."""
    p0 = _canon_eq(spec, events, spec.elements[0].var)
    if p0 is None:
        return False
    for e in spec.elements[1:]:
        p = _canon_eq(spec, events, e.var)
        if (
            p is None
            or p[0] != p0[0]  # different column
            or p[1] == p0[1]  # same canonical value
        ):
            return False
    return True


def _compile_relational(
    events: DataFrame, spec: MRSpec, id_col: str
) -> DataFrame:
    """Compile a singleton pattern onto one lead-window pass.

    A match anchored at row r is exactly rows r..r+k-1 with element
    j's flag true at r+j (strict contiguity) and, under WITHIN, the
    last row inside the anchor's window — all expressible as
    ``lead()`` columns over the per-key total order: ONE keyed sort,
    whole-stage codegen, flags and measures alike. Every window
    expression shares the same WindowSpec, so Catalyst plans a single
    Window node. The WITHIN bound compares exact integer nanoseconds
    (``timestampdiff(MICROSECOND) * 1000``) — the same arithmetic the
    NFA scan uses, so the paths agree bit-for-bit at boundaries."""
    from pyspark.sql import Window

    flagged, order_by, ts_col, _ = prepare_flags(events, spec, id_col)
    k = len(spec.elements)
    w = Window.partitionBy(spec.partition_by).orderBy(*order_by)

    def at(col: str, j: int):
        return F.col(col) if j == 0 else F.lead(col, j).over(w)

    positions: dict[str, list[int]] = {}
    for j, e in enumerate(spec.elements):
        positions.setdefault(e.var, []).append(j)
    # SUBSET union variables: their positions are the sorted union of
    # the members' — every measure function below then works unchanged
    for name, members in spec.subsets.items():
        positions[name] = sorted(
            j for mv in members for j in positions.get(mv, [])
        )

    # one select computes every lead the filter and measures need
    proj = [F.col(spec.partition_by), *(F.col(c) for c in order_by)]
    flag_cols = []
    for j, e in enumerate(spec.elements):
        c = f"__c{j}"
        proj.append(
            F.coalesce(at(f"__m_{e.var}", j), F.lit(False)).alias(c)
        )
        flag_cols.append(c)
    mvals: list[tuple[str, object]] = []  # (measure name, source expr)
    for mi, ms in enumerate(spec.measures):
        out_t = _measure_out_type(ms, events)
        if ms.func == "MATCH_NUMBER":
            expr = None  # numbered after selection, over kept matches
        elif ms.func == "CLASSIFIER":
            # ONE ROW PER MATCH: classifier of the LAST matched row,
            # which for a singleton pattern is the last element's var
            expr = F.lit(spec.elements[-1].var)
        elif ms.func == "COUNT_STAR":
            expr = F.lit(k).cast("bigint")
        elif ms.func == "COUNT":
            expr = F.lit(len(positions[ms.var])).cast("bigint")
        else:
            pos = positions[ms.var]
            if ms.func == "FIRST":
                # logical offset: the (offset+1)-th row mapped to the
                # variable; past the variable's rows -> NULL
                expr = (
                    at(ms.col, pos[ms.offset])
                    if ms.offset < len(pos)
                    else F.lit(None)
                )
            elif ms.func in ("LAST", "VAR_COL"):
                expr = (
                    at(ms.col, pos[-1 - ms.offset])
                    if ms.offset < len(pos)
                    else F.lit(None)
                )
            elif ms.func == "SUM":
                # SQL aggregate NULL semantics (both engines): NULLs
                # are ignored, an all-NULL set sums to NULL — a plain
                # `+` chain would propagate any NULL instead
                terms = [at(ms.col, j).cast(out_t) for j in pos]
                acc = F.coalesce(terms[0], F.lit(0).cast(out_t))
                for t in terms[1:]:
                    acc = acc + F.coalesce(t, F.lit(0).cast(out_t))
                expr = F.when(
                    F.coalesce(*terms).isNull()
                    if len(terms) > 1
                    else terms[0].isNull(),
                    F.lit(None).cast(out_t),
                ).otherwise(acc)
            elif ms.func == "MIN":
                expr = (
                    at(ms.col, pos[0])
                    if len(pos) == 1
                    else F.least(*[at(ms.col, j) for j in pos])
                )
            elif ms.func == "MAX":
                expr = (
                    at(ms.col, pos[0])
                    if len(pos) == 1
                    else F.greatest(*[at(ms.col, j) for j in pos])
                )
            else:  # AVG — NULLs ignored, divide by the NON-NULL count
                terms = [at(ms.col, j).cast("double") for j in pos]
                acc = F.coalesce(terms[0], F.lit(0.0))
                nn = terms[0].isNotNull().cast("int")
                for t in terms[1:]:
                    acc = acc + F.coalesce(t, F.lit(0.0))
                    nn = nn + t.isNotNull().cast("int")
                expr = acc / F.nullif(nn.cast("double"), F.lit(0.0))
            expr = expr.cast(out_t)
        if expr is not None:
            proj.append(expr.alias(f"__mv{mi}"))
            mvals.append((ms.name, f"__mv{mi}"))
    if spec.within_s is not None and k > 1:
        proj.append(at(ts_col, k - 1).alias("__ts_last"))

    # SKIP TO FIRST/LAST <var> on a singleton pattern: every element
    # binds exactly one row at a CONSTANT offset from the anchor, so
    # the resume row is anchor + off — a fixed stride. off == 1
    # admits every later candidate (distinct anchor rows are >= 1
    # apart), i.e. selection-free like TO NEXT ROW; off > 1 needs the
    # sequential pick with nxt = anchor + off. The parse-time
    # no-advance check guarantees off >= 1, and misses are impossible
    # (singletons always bind).
    stride = k
    if spec.skip in ("to_first", "to_last"):
        pos = positions[spec.skip_var]
        stride = pos[0] if spec.skip == "to_first" else pos[-1]
    need_rn = (
        spec.skip == "past_last"
        and k > 1
        and not _anchor_disjoint(spec, events)
    ) or (spec.skip in ("to_first", "to_last") and stride > 1)
    if need_rn:
        proj.append(F.row_number().over(w).alias("__rn"))

    step = flagged.select(*proj)
    cond = F.col(flag_cols[0])
    for c in flag_cols[1:]:
        cond = cond & F.col(c)
    if spec.within_s is not None and k > 1:
        within_ns = round(spec.within_s * 1e9)
        cond = cond & (
            F.expr(
                f"timestampdiff(MICROSECOND, {ts_col}, __ts_last)"
            )
            * F.lit(1000)
            <= F.lit(within_ns)
        )
    cands = step.filter(cond)

    if need_rn:
        # sequential selection over CANDIDATES only (rows where a
        # full match starts — not the event stream): per key, in
        # anchor order, keep a candidate iff its anchor is at or past
        # the previous pick's resume row. PAST LAST ROW resumes one
        # past the span (stride k); SKIP TO FIRST/LAST <var> resumes
        # AT the variable's row (constant stride = its position).
        keep_schema = cands.schema
        _stride = stride

        def pick(pdf: pd.DataFrame) -> pd.DataFrame:
            # pre-sorted by __rn (see _pick_sorted_groups)
            keep, nxt = [], -1
            for i, rn in zip(pdf.index, pdf["__rn"]):
                if rn >= nxt:
                    keep.append(i)
                    nxt = rn + _stride
            return pdf.loc[keep]

        cands = _pick_sorted_groups(
            cands, spec.partition_by, "__rn", pick, keep_schema
        )

    mno = F.row_number().over(
        Window.partitionBy(spec.partition_by).orderBy(*order_by)
    )
    out_cols = [F.col(spec.partition_by)]
    mv = dict(mvals)
    for ms in spec.measures:
        if ms.func == "MATCH_NUMBER":
            out_cols.append(mno.cast("bigint").alias(ms.name))
        else:
            out_cols.append(F.col(mv[ms.name]).alias(ms.name))
    return cands.select(*out_cols)


# ------------------------------------------ relational run fast path


def _run_pattern_info(spec: MRSpec) -> int | None:
    """Index of the single quantified element when the pattern is a
    single-variable greedy run — ``P1..Pa Q{m,n} S1..Sb`` with every
    other element a singleton — else None.

    Why this class is relationally compilable: with one quantified
    element the greedy backtracking search degenerates — a match
    anchored at r is fully determined by the LARGEST feasible end
    position (longest Q consumption whose fixed-length suffix still
    matches), so "the NFA's answer per anchor" is an argmax over
    candidate ends, not a search tree. Exclusions: repeated variable
    names (measures would aggregate non-contiguous row sets) and
    MIN/MAX over the quantified variable (a range-min over a
    variable-length span has no prefix-sum spelling; SUM/AVG/COUNT
    do)."""
    if spec.agg_defines or spec.nav_defines:
        # running aggregates and FIRST/LAST navigation in DEFINE are
        # anchor-dependent — NFA only
        return None
    qs = [
        j
        for j, e in enumerate(spec.elements)
        if not (e.n_min == 1 and e.n_max == 1)
    ]
    if len(qs) != 1:
        return None
    names = [e.var for e in spec.elements]
    if len(set(names)) != len(names):
        return None
    qi = qs[0]
    qe = spec.elements[qi]
    if qi == len(spec.elements) - 1 and qe.n_min == 0 and qi > 0:
        # trailing OPTIONAL run (``A B*``): its c=0 matches have no
        # end row to anchor the band join on — keep the NFA
        return None
    for ms in spec.measures:
        if ms.var == qe.var and ms.func in ("MIN", "MAX"):
            return None
        if spec.rows == "all" and ms.offset > 0:
            # running FIRST/LAST with a logical offset over a growing
            # prefix has no clean lead/lag spelling — keep the NFA
            return None
        if ms.var in spec.subsets:
            # a union variable's rows straddle the anchor/end binding
            # sides — keep the NFA (the singleton compiler handles
            # SUBSET via position unions; runs do not)
            return None
    return qi


def _compile_relational_run(
    events: DataFrame, spec: MRSpec, id_col: str, qi: int
) -> DataFrame:
    """Compile ``P1..Pa Q{m,n} S1..Sb`` onto windows + one per-key
    band join — no per-event Python.

    Plan shape (the gaps-and-islands spelling the CEP operators
    already use, see ``operators.cep.match_one_or_more``):

    1. ONE keyed sort computes, per row: the total-order row number,
       the Q-island reach (first non-Q row at or after, via a
       forward-min window — island length from any position is one
       subtraction), running SUM/COUNT per aggregated measure column
       (so a Q-run aggregate is a difference of two prefix sums; the
       run is contiguous by definition, which is what makes this
       exact), and the lead/lag flag conjunctions for the fixed
       prefix/suffix.
    2. Anchors (prefix flags hold) band-join candidate ends (suffix
       flags hold) per key: ``rn_e ∈ [rn_r+a+m, rn_r+a+min(n,qlen)]``
       plus the WITHIN bound in exact integer nanoseconds. The join
       is equi on the key with a time/row band residual — the same
       bounded shape as the funnel join chain, candidate count capped
       by island reach and WITHIN, never |events|².
    3. Greedy = ``row_number() == 1`` over ends DESC per anchor (the
       NFA tries longest consumption first; with a fixed-length
       suffix the first success IS the max feasible end). A reluctant
       quantifier flips the argmax to an argmin — ends ASC — because
       the lazy NFA tries the SHORTEST consumption first; the
       candidate set is identical either way.
    4. AFTER MATCH SKIP selection, cheapest proof that applies:
       TO NEXT ROW emits every candidate (the NFA re-anchors on the
       very next row, selection-free). PAST LAST ROW: (i) all
       candidates when the anchor's DEFINE is literal-disjoint from
       every other element's (no anchor can sit inside another
       match); (ii) for runs anchored ON the quantified variable
       (a=0) with a disjoint single suffix — ``A{2,} B`` chains —
       the first feasible anchor per island end, a per-end
       ``row_number()``; (iii) a=0 with no WITHIN/upper bound:
       island-start anchors only (the island start is feasible
       whenever any in-island anchor is, and its greedy match
       swallows every later in-island candidate); (iv) otherwise the
       sequential grouped-map pick — over CANDIDATES only, the same
       bounded selection the singleton path uses.

    The ALL ROWS PER MATCH emission joins selected matches back to
    their row span (equi key + rn band, output-bounded) and rebuilds
    RUNNING measures from the same prefix sums. Fuzz-checked equal to
    the NFA on eligible patterns including boundaries
    (tests/test_match_recognize.py)."""
    from pyspark.sql import Window

    flagged, order_by, ts_col, _ = prepare_flags(events, spec, id_col)
    key = spec.partition_by
    elems = spec.elements
    k = len(elems)
    a, b = qi, k - qi - 1
    qe = elems[qi]
    m, nmax, qvar = qe.n_min, qe.n_max, qe.var
    c_lo = max(m, 1) if (a == 0 and b == 0) else m
    qflag = f"__m_{qvar}"

    w = Window.partitionBy(key).orderBy(*order_by)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wfwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    # measure columns needing prefix sums (SUM/AVG over the Q run)
    qagg_cols = sorted(
        {
            ms.col
            for ms in spec.measures
            if ms.var == qvar and ms.func in ("SUM", "AVG")
        }
    )
    base = flagged.withColumn("__rn", F.row_number().over(w))
    base = base.select(
        "*",
        F.min(F.when(~F.col(qflag), F.col("__rn"))).over(wfwd).alias(
            "__qstop"
        ),
        F.max("__rn").over(Window.partitionBy(key)).alias("__maxrn"),
        *[F.sum(c).over(wcum).alias(f"__cum_{c}") for c in qagg_cols],
        *[F.count(c).over(wcum).alias(f"__nn_{c}") for c in qagg_cols],
    )

    def at_off(col: str, off: int):
        if off == 0:
            return F.col(col)
        if off > 0:
            return F.lead(col, off).over(w)
        return F.lag(col, -off).over(w)

    # absolute row offset (from the anchor) of each singleton element;
    # the element's measure values bind on the side that can reach
    # them with a CONSTANT lead: prefix offsets from the anchor row,
    # suffix offsets from the end row
    def elem_abs(j: int) -> tuple[str, int]:
        """('a'|'e', constant offset from that side's row)."""
        if j < qi:
            return ("a", j)
        return ("e", j - qi - 1)

    # ---- anchor side -------------------------------------------------
    aproj = [
        F.col(key).alias("__ak"),
        F.col("__rn").alias("__arn"),
        F.col(ts_col).alias("__ats"),
    ]
    prefix_ok = F.lit(True)
    for j in range(a):
        prefix_ok = prefix_ok & F.coalesce(
            at_off(f"__m_{elems[j].var}", j), F.lit(False)
        )
    qlen = F.greatest(
        F.lit(0),
        F.coalesce(at_off("__qstop", a), F.col("__maxrn") + 1)
        - (F.col("__rn") + F.lit(a)),
    )
    c_hi = qlen if nmax is None else F.least(F.lit(nmax), qlen)
    aproj.append(c_hi.alias("__chi"))
    if spec.skip == "past_last" and a == 0:
        aproj.append(
            (
                F.col(qflag)
                & ~F.coalesce(F.lag(qflag, 1).over(w), F.lit(False))
            ).alias("__isl0")
        )
    # measure values bound anchor-side: prefix singletons + FIRST(Q)
    a_mvals: dict[int, str] = {}
    for mi, ms in enumerate(spec.measures):
        if ms.var is None or ms.func == "COUNT":
            continue
        if ms.var == qvar:
            if ms.func == "FIRST":
                # logical offset rides the anchor-side lead: the
                # (offset+1)-th run row is anchor + a + offset
                aproj.append(
                    at_off(ms.col, a + ms.offset).alias(f"__amv{mi}")
                )
                a_mvals[mi] = f"__amv{mi}"
            continue
        if ms.offset > 0:
            continue  # singleton var: one row, offset >= 1 -> NULL
        side, off = elem_abs(
            next(j for j, e in enumerate(elems) if e.var == ms.var)
        )
        if side == "a":
            aproj.append(at_off(ms.col, off).alias(f"__amv{mi}"))
            a_mvals[mi] = f"__amv{mi}"
    for c in qagg_cols:
        aproj.append(at_off(f"__cum_{c}", a - 1).alias(f"__acum_{c}"))
        aproj.append(at_off(f"__nn_{c}", a - 1).alias(f"__ann_{c}"))
    # window expressions must be projected before they can filter
    aproj.append(prefix_ok.alias("__pok"))
    anchors = (
        base.select(*aproj)
        .where(
            F.col("__pok") & (F.col("__chi") >= F.lit(c_lo))
            if a > 0 or m > 0
            else F.col("__pok")
        )
        .drop("__pok")
    )

    # ---- end side ----------------------------------------------------
    eproj = [F.col(key).alias("__ek")]
    e_mvals: dict[int, str] = {}
    if b > 0:
        eproj += [
            F.col("__rn").alias("__ern"),
            at_off(ts_col, b - 1).alias("__ets"),
        ]
        suffix_ok = F.lit(True)
        for i in range(b):
            suffix_ok = suffix_ok & F.coalesce(
                at_off(f"__m_{elems[qi + 1 + i].var}", i), F.lit(False)
            )
        for c in qagg_cols:
            eproj.append(at_off(f"__cum_{c}", -1).alias(f"__ecum_{c}"))
            eproj.append(at_off(f"__nn_{c}", -1).alias(f"__enn_{c}"))
        qlast_off = -1
    else:
        # the "end" is the last Q row itself; rn_e := rn_f + 1 keeps
        # the join arithmetic (c = rn_e - rn_r - a) uniform
        eproj += [
            (F.col("__rn") + F.lit(1)).alias("__ern"),
            F.col(ts_col).alias("__ets"),
        ]
        suffix_ok = F.col(qflag)
        for c in qagg_cols:
            eproj.append(F.col(f"__cum_{c}").alias(f"__ecum_{c}"))
            eproj.append(F.col(f"__nn_{c}").alias(f"__enn_{c}"))
        qlast_off = 0
    for mi, ms in enumerate(spec.measures):
        if ms.var is None or ms.func == "COUNT":
            continue
        if ms.var == qvar:
            if ms.func in ("LAST", "VAR_COL"):
                # LAST(Q, off): off rows before the run's final row
                eproj.append(
                    at_off(ms.col, qlast_off - ms.offset).alias(
                        f"__emv{mi}"
                    )
                )
                e_mvals[mi] = f"__emv{mi}"
            continue
        if ms.offset > 0:
            continue  # singleton var: one row, offset >= 1 -> NULL
        side, off = elem_abs(
            next(j for j, e in enumerate(elems) if e.var == ms.var)
        )
        if side == "e":
            eproj.append(at_off(ms.col, off).alias(f"__emv{mi}"))
            e_mvals[mi] = f"__emv{mi}"
    eproj.append(suffix_ok.alias("__sok"))
    ends = base.select(*eproj).where(F.col("__sok")).drop("__sok")

    # ---- band join + greedy (longest consumption first) --------------
    cond = (
        # null-safe: a NULL partition key is a real partition on the
        # NFA path (groupBy) and the singleton window path — plain ==
        # would silently drop its matches here, making engine='auto'
        # output depend on pattern shape for NULL-key data. <=> is
        # still an equi-join key for Catalyst (hash/sort-merge join).
        (F.col("__ak").eqNullSafe(F.col("__ek")))
        & (F.col("__ern") >= F.col("__arn") + F.lit(a + c_lo))
        & (F.col("__ern") <= F.col("__arn") + F.lit(a) + F.col("__chi"))
    )
    if spec.within_s is not None:
        within_ns = round(spec.within_s * 1e9)
        cond = cond & (
            F.expr("timestampdiff(MICROSECOND, __ats, __ets)") * F.lit(1000)
            <= F.lit(within_ns)
        )
    joined = anchors.join(ends, cond).drop("__ek")
    wpick = Window.partitionBy("__ak", "__arn").orderBy(
        F.col("__ern").asc() if qe.reluctant else F.col("__ern").desc()
    )
    cands = (
        joined.withColumn("__gk", F.row_number().over(wpick))
        .where(F.col("__gk") == 1)
        .drop("__gk")
        .withColumn("__c", (F.col("__ern") - F.col("__arn") - F.lit(a)))
        .withColumn("__lrn", F.col("__ern") + F.lit(b - 1))
    )
    if qe.reluctant and a == 0 and b == 0 and m == 0:
        # a lone reluctant optional run (``B*?`` / ``B{0,n}?``): the
        # preferred (lazy) match at EVERY anchor is the empty match,
        # which this engine omits (module doc) — and skipping past an
        # empty match advances one row, so nothing is ever emitted.
        # The NFA agrees by construction (its first complete
        # assignment is the empty one); Catalyst folds the plan to an
        # empty relation.
        cands = cands.where(F.lit(False))

    # ---- AFTER MATCH SKIP selection ----------------------------------
    if spec.skip == "to_next":
        sel = cands
    elif spec.skip in ("to_first", "to_last"):
        # variable-targeted resume: the resume row is a CONSTANT
        # offset from whichever side binds the variable — prefix
        # singleton j: anchor + j; the run itself: first Q row
        # (anchor + a) or last Q row (end - 1); suffix singleton j:
        # end + j. The sequential pick then keeps a candidate iff its
        # anchor is at or past the previous pick's resume row, with
        # the two SQL-standard runtime errors raised loudly (the
        # variable bound zero rows — only possible for an optional
        # run; resume == match start — infinite loop).
        sv = spec.skip_var
        sv_idx = next(j for j, e in enumerate(elems) if e.var == sv)
        if sv_idx < qi:
            resume_col = F.col("__arn") + F.lit(sv_idx)
        elif sv_idx == qi:
            resume_col = (
                F.col("__arn") + F.lit(a)
                if spec.skip == "to_first"
                else F.col("__ern") - F.lit(1)
            )
        else:
            resume_col = F.col("__ern") + F.lit(sv_idx - qi - 1)
        cands_r = cands.withColumn("__resume", resume_col)
        keep_schema = cands_r.schema
        miss_possible = sv_idx == qi and m == 0
        which = "FIRST" if spec.skip == "to_first" else "LAST"

        def pick_to(pdf: pd.DataFrame) -> pd.DataFrame:
            # pre-sorted by __arn (see _pick_sorted_groups)
            keep, nxt = [], -1
            for i, arn, c, res in zip(
                pdf.index, pdf["__arn"], pdf["__c"], pdf["__resume"]
            ):
                if arn < nxt:
                    continue
                if miss_possible and c == 0:
                    raise ValueError(
                        f"AFTER MATCH SKIP TO {which} {sv}: the "
                        "variable matched no rows in a match (optional "
                        "variable bound zero rows) — no row to resume at"
                    )
                if res <= arn:
                    raise ValueError(
                        f"AFTER MATCH SKIP TO {which} {sv} would resume "
                        "at the match start — infinite loop"
                    )
                keep.append(i)
                nxt = res
            return pdf.loc[keep]

        sel = _pick_sorted_groups(
            cands_r, "__ak", "__arn", pick_to, keep_schema
        ).drop("__resume")
    elif a >= 1 and _anchor_disjoint(spec, events):
        sel = cands
    elif (
        a == 0
        and m >= 1
        and b == 1
        and _vars_disjoint(spec, events, qvar, elems[qi + 1].var)
    ):
        # ends can only sit one past an island (suffix disjoint from
        # Q), so per island there is ONE end and the feasible anchors
        # for it are contiguous; the NFA keeps the FIRST feasible
        # anchor and its match covers every other in-island anchor
        wend = Window.partitionBy("__ak", "__ern").orderBy("__arn")
        sel = (
            cands.withColumn("__ek1", F.row_number().over(wend))
            .where(F.col("__ek1") == 1)
            .drop("__ek1")
        )
    elif (
        a == 0
        and m >= 1
        and b <= 1
        and spec.within_s is None
        and nmax is None
        and not qe.reluctant
    ):
        # unbounded, un-windowed GREEDY runs: the island start is
        # feasible whenever any in-island anchor is, and greedy from
        # it eats through the last feasible end — nothing later in
        # the island can match again. (A reluctant run consumes only
        # its minimum and re-anchors INSIDE the island, so this proof
        # is greedy-only; reluctant falls through to the sequential
        # pick.)
        sel = cands.where("__isl0")
    else:
        # sequential greedy selection over CANDIDATES only (one per
        # anchor, variable span): keep a candidate iff its anchor
        # starts past the previous kept match's last row
        keep_schema = cands.schema

        def pick(pdf: pd.DataFrame) -> pd.DataFrame:
            # pre-sorted by __arn (see _pick_sorted_groups)
            keep, nxt = [], -1
            for i, rn, lrn in zip(pdf.index, pdf["__arn"], pdf["__lrn"]):
                if rn >= nxt:
                    keep.append(i)
                    nxt = lrn + 1
            return pdf.loc[keep]

        sel = _pick_sorted_groups(cands, "__ak", "__arn", pick, keep_schema)

    sel = sel.withColumn(
        "__mno",
        F.row_number().over(Window.partitionBy("__ak").orderBy("__arn")),
    )
    if spec.rows == "all":
        return _emit_all_rows_run(
            base, sel, spec, events, order_by, qi, qagg_cols, w
        )

    # ---- ONE ROW PER MATCH output ------------------------------------
    # (shared with the ALL ROWS FINAL branch — _run_match_expr)
    out_cols = [F.col("__ak").alias(key)]
    for mi, ms in enumerate(spec.measures):
        out_t = _measure_out_type(ms, events)
        expr = _run_match_expr(ms, mi, out_t, elems, qi, a, b)
        out_cols.append(expr.alias(ms.name))
    return sel.select(*out_cols)


def _run_match_expr(ms, mi: int, out_t: str, elems, qi: int, a: int, b: int):
    """Whole-match value of one measure on the RUN fast path — shared
    by the ONE ROW PER MATCH output and by FINAL measures in ALL ROWS
    (the span join broadcasts the same anchor/end-side columns to
    every member row, so FINAL is this expression verbatim). Column
    naming is the compiler's convention: anchor-side values ride
    ``__amv{mi}``, end-side ``__emv{mi}``, run prefix sums
    ``__acum/__ecum`` and their non-null counts ``__ann/__enn``."""
    qvar = elems[qi].var
    c_col = F.col("__c")
    if ms.func == "MATCH_NUMBER":
        return F.col("__mno").cast("bigint")
    if ms.func == "CLASSIFIER":
        # b == 0 implies the run is last AND non-optional
        # (_run_pattern_info rejects trailing optional runs), so the
        # last matched row is always a Q row
        return F.lit(elems[-1].var if b > 0 else qvar)
    if ms.func == "COUNT_STAR":
        return (c_col + F.lit(a + b)).cast("bigint")
    if ms.func == "COUNT":
        return (c_col if ms.var == qvar else F.lit(1)).cast("bigint")
    if ms.var == qvar:
        if ms.func == "FIRST":
            expr = F.when(c_col > ms.offset, F.col(f"__amv{mi}"))
        elif ms.func in ("LAST", "VAR_COL"):
            expr = F.when(c_col > ms.offset, F.col(f"__emv{mi}"))
        else:  # SUM / AVG over the run: prefix-sum difference
            sumv = F.coalesce(F.col(f"__ecum_{ms.col}"), F.lit(0)) - (
                F.coalesce(F.col(f"__acum_{ms.col}"), F.lit(0))
            )
            nnv = F.coalesce(F.col(f"__enn_{ms.col}"), F.lit(0)) - (
                F.coalesce(F.col(f"__ann_{ms.col}"), F.lit(0))
            )
            if ms.func == "SUM":
                expr = F.when(nnv > 0, sumv)
            else:
                expr = F.when(
                    nnv > 0, sumv.cast("double") / nnv.cast("double")
                )
        return expr.cast(out_t)
    if ms.offset > 0:
        # a singleton variable binds exactly one row, so any logical
        # offset walks past it
        return F.lit(None).cast(out_t)
    j = next(i for i, e in enumerate(elems) if e.var == ms.var)
    src = f"__amv{mi}" if j < qi else f"__emv{mi}"
    return F.col(src).cast(out_t)


def _emit_all_rows_run(
    base: DataFrame,
    sel: DataFrame,
    spec: MRSpec,
    events: DataFrame,
    order_by: list[str],
    qi: int,
    qagg_cols: list[str],
    w,
) -> DataFrame:
    """ALL ROWS PER MATCH for the run fast path: join each selected
    match back to its row span (equi key + rn band — output-bounded,
    matches are short bursts) and rebuild the RUNNING measures from
    the row's own prefix sums; CLASSIFIER and per-row counts are CASE
    arithmetic on the row's offset within the match. FINAL measures
    take the ONE ROW path's whole-match expressions instead — the
    span join already broadcasts the anchor/end-side values to every
    member row."""
    key = spec.partition_by
    elems = spec.elements
    a = qi
    b = len(elems) - qi - 1
    qvar = elems[qi].var

    rows = base.select(
        F.col(key).alias("__rk"),
        F.col("__rn").alias("__rrn"),
        *[F.col(c) for c in order_by],
        *[
            F.col(c).alias(f"__rv_{c}")
            for c in sorted(
                {ms.col for ms in spec.measures if ms.col is not None}
            )
        ],
        *[F.col(f"__cum_{c}").alias(f"__rcum_{c}") for c in qagg_cols],
        *[F.col(f"__nn_{c}").alias(f"__rnn_{c}") for c in qagg_cols],
    )
    matches = sel.drop(*order_by, *[c for c in sel.columns if c == "__ats"])
    joined = rows.join(
        matches,
        # null-safe for the same reason as the band join above: the
        # NULL-key partition's rows must join back to their match
        (F.col("__rk").eqNullSafe(F.col("__ak")))
        & (F.col("__rrn") >= F.col("__arn"))
        & (F.col("__rrn") <= F.col("__lrn")),
    )
    pos = F.col("__rrn") - F.col("__arn")  # 0-based offset in match
    c_col = F.col("__c")
    in_q = (pos >= F.lit(a)) & (pos < F.lit(a) + c_col)
    after_q = pos >= F.lit(a) + c_col

    # absolute offset of each singleton element within the match
    def abs_pos(j: int):
        if j < qi:
            return F.lit(j)
        return F.lit(a) + c_col + F.lit(j - qi - 1)

    out_cols = [F.col("__rk").alias(key)] + [F.col(c) for c in order_by]
    # measure-source lookup mirrors the ONE ROW path: anchor-side
    # values carry __amv{mi}, end-side __emv{mi}
    for mi, ms in enumerate(spec.measures):
        out_t = _measure_out_type(ms, events)
        if ms.final:
            # FINAL semantics: the whole-match value on EVERY row —
            # exactly the ONE ROW path's expressions (shared helper),
            # broadcast by the span join (the anchor/end-side measure
            # columns ride on every joined row already)
            expr = _run_match_expr(ms, mi, out_t, elems, qi, a, b)
            out_cols.append(expr.alias(ms.name))
            continue
        if ms.func == "MATCH_NUMBER":
            expr = F.col("__mno").cast("bigint")
        elif ms.func == "CLASSIFIER":
            expr = None
            for j, e in enumerate(elems):
                if j == qi:
                    continue
                cnd = pos == abs_pos(j)
                expr = (
                    F.when(cnd, F.lit(e.var))
                    if expr is None
                    else expr.when(cnd, F.lit(e.var))
                )
            q_cnd = in_q
            expr = (
                F.when(q_cnd, F.lit(qvar))
                if expr is None
                else expr.when(q_cnd, F.lit(qvar))
            )
        elif ms.func == "COUNT_STAR":
            expr = (pos + F.lit(1)).cast("bigint")
        elif ms.func == "COUNT" and ms.var == qvar:
            expr = F.greatest(
                F.lit(0), F.least(pos - F.lit(a) + F.lit(1), c_col)
            ).cast("bigint")
        elif ms.func == "COUNT":
            j = next(i for i, e in enumerate(elems) if e.var == ms.var)
            expr = F.when(pos >= abs_pos(j), F.lit(1)).otherwise(
                F.lit(0)
            ).cast("bigint")
        elif ms.var == qvar:
            bound = (pos >= F.lit(a)) & (c_col > 0)
            if ms.func == "FIRST":
                expr = F.when(bound, F.col(f"__amv{mi}")).cast(out_t)
            elif ms.func in ("LAST", "VAR_COL"):
                # running LAST: inside the run it's the current row,
                # after it the run's final row
                expr = (
                    F.when(in_q, F.col(f"__rv_{ms.col}"))
                    .when(
                        after_q & (c_col > 0), F.col(f"__emv{mi}")
                    )
                    .cast(out_t)
                )
            else:  # SUM / AVG over the prefix of the run
                eff_cum = F.when(in_q, F.col(f"__rcum_{ms.col}")).otherwise(
                    F.col(f"__ecum_{ms.col}")
                )
                eff_nn = F.when(in_q, F.col(f"__rnn_{ms.col}")).otherwise(
                    F.col(f"__enn_{ms.col}")
                )
                sumv = F.coalesce(eff_cum, F.lit(0)) - F.coalesce(
                    F.col(f"__acum_{ms.col}"), F.lit(0)
                )
                nnv = F.coalesce(eff_nn, F.lit(0)) - F.coalesce(
                    F.col(f"__ann_{ms.col}"), F.lit(0)
                )
                val = (
                    F.when(nnv > 0, sumv)
                    if ms.func == "SUM"
                    else F.when(
                        nnv > 0, sumv.cast("double") / nnv.cast("double")
                    )
                )
                expr = F.when(bound, val).cast(out_t)
        else:
            j = next(i for i, e in enumerate(elems) if e.var == ms.var)
            src = f"__amv{mi}" if j < qi else f"__emv{mi}"
            expr = F.when(pos >= abs_pos(j), F.col(src)).cast(out_t)
        out_cols.append(expr.alias(ms.name))
    return joined.select(*out_cols)


# -------------------------------------------------------------- matcher


def scan_rows(
    pdf: pd.DataFrame,
    key_value,
    *,
    elements: list[
        tuple[str, int, int | None, bool, tuple | None]
    ],  # (var, n_min, n_max, reluctant, agg-constraint)
    measures: list[tuple[str, str, str | None, str | None, bool, int]],
    skip: str,
    within_s: float | None,
    var_names: list[str],
    ts_col: str,
    anchor_bound_s: float | None = None,
    match_no_start: int = 0,
    emit: str = "one",
    row_cols: tuple = (),
    subsets: dict[str, list[str]] | None = None,
    skip_var: str | None = None,
    nav_defines: dict | None = None,
) -> tuple[list[list], int, int]:
    """Shared scan core for the batch matcher and the streaming twin.

    ``pdf`` must already be sorted by the total order. Returns
    ``(out_rows, resume_idx, match_no)``: with ``anchor_bound_s`` set
    (streaming), the scan stops at the first anchor whose WITHIN
    window is not yet closed by the watermark (``ts + within >=
    bound``; a row at exactly ts == watermark is still admissible) —
    every row before ``resume_idx`` is finally decided and
    can be dropped from state, because matches only consume rows at
    or after their anchor and within its window. With it unset
    (batch), the scan runs to the end and ``resume_idx == len(pdf)``.
    """
    n = len(pdf)
    flags = {v: pdf[f"__m_{v}"].to_numpy() for v in var_names}

    # per-column numpy caches — the scan core is pure Python, and
    # pandas ``.iloc``/``.iat`` per-row access was the dominant cost
    # (one indexing-machinery call per measure per match); raw
    # ndarray indexing is ~50x cheaper. ``_raw`` keeps the column's
    # own dtype (values land in the output rows, Arrow casts to the
    # declared schema); ``_agg`` is the float64+NaN view the
    # null-skipping aggregate measures compute over (None = the
    # column is non-numeric; those fall back to the pandas path).
    _raw_arrs: dict[str, _np.ndarray] = {}
    _agg_arrs: dict[str, _np.ndarray | None] = {}

    def col_arr(col: str) -> _np.ndarray:
        a = _raw_arrs.get(col)
        if a is None:
            a = pdf[col].to_numpy()
            _raw_arrs[col] = a
        return a

    def out_val(col: str, idx: int):
        """A single column value for the output row — datetime64
        unboxes to pd.Timestamp (NaT -> None) so rows_to_frame's
        object columns convert to Arrow timestamps unambiguously."""
        a = col_arr(col)
        v = a[idx]
        if a.dtype.kind == "M":
            return None if v != v else pd.Timestamp(v)
        return v

    def agg_measure(func: str, col: str, rows) -> object:
        """SUM/MIN/MAX/AVG over a match's bound rows with SQL NULL
        semantics (NULLs skipped; zero non-null values -> NULL)."""
        if col not in _agg_arrs:
            raw = col_arr(col)
            if raw.dtype.kind in "iu":  # integers: no nulls possible
                _agg_arrs[col] = raw
            elif raw.dtype.kind == "f":
                _agg_arrs[col] = raw
            else:
                try:
                    _agg_arrs[col] = pdf[col].to_numpy(
                        dtype="float64", na_value=_np.nan
                    )
                except (TypeError, ValueError):
                    _agg_arrs[col] = None  # decimal/object: pandas path
        fa = _agg_arrs[col]
        if fa is None:
            vals = pdf[col].iloc[rows]
            return {
                "SUM": lambda: vals.sum(min_count=1),
                "MIN": vals.min,
                "MAX": vals.max,
                "AVG": vals.mean,
            }[func]()
        vals = fa[rows]
        if fa.dtype.kind in "iu":
            if func == "SUM":
                return int(vals.sum())
            if func == "MIN":
                return int(vals.min())
            if func == "MAX":
                return int(vals.max())
            return float(vals.mean())
        valid = vals[vals == vals]
        if valid.size == 0:
            return None
        if func == "SUM":
            return float(valid.sum())
        if func == "MIN":
            return float(valid.min())
        if func == "MAX":
            return float(valid.max())
        return float(valid.mean())

    # running-aggregate DEFINE constraints (one per element at most):
    # evaluated incrementally while extending that element's run —
    # SQL RUNNING semantics, the candidate row included. The prefix
    # property (every admitted prefix satisfied its check when added)
    # is what lets greedy/reluctant counts reuse one feasibility scan.
    import operator as _op

    _CMPS = {
        "<": _op.lt, "<=": _op.le, ">": _op.gt,
        ">=": _op.ge, "=": _op.eq, "<>": _op.ne,
    }

    def _make_agg_try_add(agg):
        afunc, acol, aop, alit = agg
        cmp = _CMPS[aop]
        av = (
            None
            if acol == "*"
            else pdf[acol].to_numpy(dtype="float64", na_value=float("nan"))
        )

        def try_add(st, i):
            """state = (sum, n_nonnull, min, max, n_rows); returns the
            updated state if the aggregate INCLUDING row i satisfies
            the comparison, else None (SQL NULL semantics: an
            aggregate over zero non-null values is NULL -> the
            comparison fails)."""
            s, nn, mn, mx, nr = st
            if av is None:  # COUNT(V.*)
                return (
                    (s, nn, mn, mx, nr + 1)
                    if cmp(nr + 1, alit)
                    else None
                )
            v = av[i]
            if v == v:  # non-null
                s, nn = s + v, nn + 1
                mn, mx = min(mn, v), max(mx, v)
            if afunc == "COUNT":
                cur = nn
            elif nn == 0:
                return None  # NULL aggregate never satisfies
            elif afunc == "SUM":
                cur = s
            elif afunc == "AVG":
                cur = s / nn
            elif afunc == "MIN":
                cur = mn
            else:
                cur = mx
            return (s, nn, mn, mx, nr + 1) if cmp(cur, alit) else None

        return try_add

    agg_adders = {
        elements.index(e): _make_agg_try_add(e[4])
        for e in elements
        if e[4] is not None
    }
    _AGG_ZERO = (0.0, 0, float("inf"), float("-inf"), 0)

    # FIRST/LAST navigation DEFINEs (compiled by _compile_nav_define):
    # evaluated per candidate row against the element's own run and
    # the match's fixed-prefix rows — the anchor-stateful class, like
    # the running aggregates above. The value accessor resolves a
    # column at a row index of the sorted partition, mapping the
    # pandas null family (None/NaT/NaN) to SQL NULL.
    nav_checkers: dict[int, object] = {}
    if nav_defines:

        def _nav_val(col, idx):
            if idx < 0 or idx >= n:
                return None
            a = col_arr(col)
            v = a[idx]
            k = a.dtype.kind
            if k == "M":  # datetime64: NaT -> NULL, else Timestamp
                return None if v != v else pd.Timestamp(v)
            if k == "f":
                return None if v != v else v
            if v is None or v is pd.NaT:
                return None
            if isinstance(v, float) and v != v:
                return None
            return v

        nav_checkers = {
            ei: nav_defines[e[0]]
            for ei, e in enumerate(elements)
            if e[0] in nav_defines
        }
    if within_s is not None:
        # exact integer nanoseconds (normalized regardless of the
        # Arrow-side unit, us/ns) — float-seconds comparisons can
        # misclassify a row whose span equals WITHIN exactly (float64
        # eps at 2024 epochs is ~2.4e-7 s); the relational fast path
        # compares the same integers, so the two engines agree
        # bit-for-bit at boundaries
        ts_ns = pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype(
            "int64"
        )
        within_ns = round(within_s * 1e9)
    else:
        ts_ns = None
        within_ns = None
    if anchor_bound_s is not None:
        if ts_ns is None:
            raise ValueError("streaming MATCH_RECOGNIZE requires WITHIN")
        anchor_bound_ns = round(anchor_bound_s * 1e9)

    def try_match(start: int) -> list[tuple[int, int]] | None:
        """Backtracking match anchored at row ``start``; returns
        [(row, element)] or None. Greedy elements try their longest
        feasible consumption first, reluctant (lazy) elements their
        shortest; the first complete assignment wins (regex
        backtracking order — leftmost element's preference decides
        first).

        Failed ``(pos, element)`` states are memoized per anchor:
        consumption is contiguous from the anchor, so whether a
        suffix can complete from ``(pos, ei)`` is independent of how
        earlier elements split their rows (the WITHIN window is
        anchored at ``start``, which ``pos`` equals until the first
        row is consumed). Without the memo, patterns with several
        unbounded quantifiers (``A* B* C``) enumerate every count
        split — exponential; with it, each state is visited once and
        the per-anchor cost is polynomial in the buffered run."""
        best: list[tuple[int, int]] | None = None
        failed: set[tuple[int, int]] = set()

        def rec(pos: int, ei: int, assign: list[tuple[int, int]]):
            nonlocal best
            if best is not None:
                return
            if ei == len(elements):
                best = list(assign)
                return
            if (pos, ei) in failed:
                return
            var, n_min, n_max, reluctant, _agg = elements[ei]
            fv = flags[var]
            cap = n - pos if n_max is None else min(n_max, n - pos)
            adder = agg_adders.get(ei)
            navf = nav_checkers.get(ei)
            ast = _AGG_ZERO
            run = 0
            while run < cap and fv[pos + run]:
                if ts_ns is not None:
                    if ts_ns[pos + run] - ts_ns[start] > within_ns:
                        break
                if navf is not None and navf(
                    _nav_val, start, pos, run, pos + run
                ) is not True:
                    break
                if adder is not None:
                    ast = adder(ast, pos + run)
                    if ast is None:
                        break
                run += 1
            counts = (
                range(n_min, run + 1)
                if reluctant
                else range(run, n_min - 1, -1)
            )
            for c in counts:
                keep = len(assign)
                assign.extend((pos + t, ei) for t in range(c))
                rec(pos + c, ei + 1, assign)
                del assign[keep:]
                if best is not None:
                    return
            failed.add((pos, ei))

        rec(start, 0, [])
        return best

    def rows_of(var, table):
        """A variable's bound rows — for a SUBSET union variable, the
        sorted union of its members' rows (row indices are the total
        order, so sorting restores match order)."""
        if var is None:
            return None
        if subsets and var in subsets:
            merged: list[int] = []
            for mvar in subsets[var]:
                merged.extend(table.get(mvar, []))
            return sorted(merged)
        return table.get(var, [])

    def next_scan_pos(m, table) -> int:
        """Where the scan resumes after a match — the AFTER MATCH SKIP
        strategy. Row-based modes advance unconditionally; the
        variable-targeted modes resume AT the variable's first/last
        matched row and raise loudly on the two SQL-standard error
        cases (variable bound no rows; resume row == match start,
        an infinite loop — Flink raises on both as well)."""
        if skip == "past_last":
            return m[-1][0] + 1
        if skip == "to_next":
            return m[0][0] + 1
        vrows = table.get(skip_var, [])
        which = "FIRST" if skip == "to_first" else "LAST"
        if not vrows:
            raise ValueError(
                f"AFTER MATCH SKIP TO {which} {skip_var}: the variable "
                "matched no rows in a match (optional variable bound "
                "zero rows) — no row to resume at"
            )
        r = vrows[0] if skip == "to_first" else vrows[-1]
        if r <= m[0][0]:
            raise ValueError(
                f"AFTER MATCH SKIP TO {which} {skip_var} would resume "
                "at the match start — infinite loop"
            )
        return r

    out_rows: list[list] = []
    match_no = match_no_start
    i = 0
    while i < n:
        if (
            anchor_bound_s is not None
            and ts_ns[i] + within_ns >= anchor_bound_ns
        ):
            # this anchor's window is still open — not final. ``>=``
            # because Spark drops only rows STRICTLY below the
            # watermark: a row at exactly ts == watermark can still
            # arrive, and it sits inside the inclusive WITHIN window
            # when anchor + within == watermark.
            break
        m = try_match(i)
        if not m:  # no match, or empty match — advance one row
            i += 1
            continue
        match_no += 1
        if emit == "all":
            # SQL-standard per-row emission: RUNNING measures (the
            # default) report the match prefix up to and including
            # the current row (VAR.col == running LAST(VAR.col);
            # FIRST is fixed once the variable first binds, NULL
            # before); FINAL measures report the WHOLE match on
            # every row
            full: dict[str, list[int]] = {}
            for row, ei in m:
                full.setdefault(elements[ei][0], []).append(row)
            last_var = elements[m[-1][1]][0]
            pref: dict[str, list[int]] = {}
            for p_i, (row, ei) in enumerate(m):
                cur_var = elements[ei][0]
                pref.setdefault(cur_var, []).append(row)
                rec_out = [key_value] + [
                    out_val(c, row) for c in row_cols
                ]
                for _, func, var, col, final, off in measures:
                    rows = rows_of(var, full if final else pref)
                    if func == "MATCH_NUMBER":
                        rec_out.append(match_no)
                    elif func == "CLASSIFIER":
                        rec_out.append(last_var if final else cur_var)
                    elif func == "COUNT_STAR":
                        rec_out.append(len(m) if final else p_i + 1)
                    elif func == "COUNT":
                        rec_out.append(len(rows))
                    elif not rows or off >= len(rows):
                        rec_out.append(None)  # var/offset not (yet) bound
                    elif func == "FIRST":
                        rec_out.append(out_val(col, rows[off]))
                    elif func in ("LAST", "VAR_COL"):
                        rec_out.append(out_val(col, rows[-1 - off]))
                    else:  # SUM / MIN / MAX / AVG over the row set
                        # SQL NULL semantics (all-NULL -> NULL)
                        rec_out.append(agg_measure(func, col, rows))
                out_rows.append(rec_out)
            i = next_scan_pos(m, pref)
            continue
        by_var: dict[str, list[int]] = {}
        for row, ei in m:
            by_var.setdefault(elements[ei][0], []).append(row)
        rec_out = [key_value]
        for _, func, var, col, _final, off in measures:
            # ONE ROW PER MATCH: RUNNING and FINAL coincide (measures
            # evaluate at the final row), so _final is not consulted
            rows = rows_of(var, by_var)
            if func == "MATCH_NUMBER":
                rec_out.append(match_no)
            elif func == "CLASSIFIER":
                rec_out.append(elements[m[-1][1]][0])  # last row's var
            elif func == "COUNT_STAR":
                rec_out.append(len(m))
            elif func == "COUNT":
                rec_out.append(len(rows))
            elif not rows or off >= len(rows):
                rec_out.append(None)  # var/offset matched no row
            elif func == "FIRST":
                rec_out.append(out_val(col, rows[off]))
            elif func in ("LAST", "VAR_COL"):
                rec_out.append(out_val(col, rows[-1 - off]))
            else:  # SUM / MIN / MAX / AVG — SQL NULL semantics:
                # NULLs skipped, all-NULL -> NULL
                rec_out.append(agg_measure(func, col, rows))
        out_rows.append(rec_out)
        i = next_scan_pos(m, by_var)
    return out_rows, i, match_no


def _sorted_runs(it, key_col: str):
    """The contiguous key runs of a stream of pandas batches that are
    sorted by ``key_col`` (a JVM repartition + sortWithinPartitions
    upstream): per input batch, the list of its complete runs. A
    batch's last run may continue into the next batch, so it is
    carried and yielded with the next one (or alone at the end).
    NULL keys form one run."""
    tail: pd.DataFrame | None = None
    for pdf in it:
        if tail is not None:
            pdf = pd.concat([tail, pdf], ignore_index=True)
            tail = None
        if not len(pdf):
            continue
        keys = pdf[key_col]
        prev = keys.shift()
        change = (
            (keys != prev) & ~(keys.isna() & prev.isna())
        ).to_numpy().nonzero()[0]
        starts = change if len(change) and change[0] == 0 else (
            _np.concatenate(([0], change))
        )
        tail = pdf.iloc[starts[-1]:].reset_index(drop=True)
        runs = [pdf.iloc[s:e] for s, e in zip(starts[:-1], starts[1:])]
        if runs:
            yield runs
    if tail is not None and len(tail):
        yield [tail]


def _pick_sorted_groups(
    df: DataFrame, key_col: str, sort_col: str, pick_fn, schema
) -> DataFrame:
    """``groupBy(key).applyInPandas(pick_fn)`` with the per-key
    Python overhead amortized (same strategy as the batched NFA
    dispatch): one JVM repartition + sortWithinPartitions on
    ``(key, sort_col)``, then a single mapInPandas stage over the
    key runs of :func:`_sorted_runs`. ``pick_fn`` receives each group
    ALREADY sorted by ``sort_col`` ascending (the call sites'
    row-number columns are unique per key, so the order is total)
    and returns the kept rows, columns unchanged."""
    out_cols = df.columns

    def batched(it):
        for runs in _sorted_runs(it, key_col):
            outs = [o for o in map(pick_fn, runs) if len(o)]
            if outs:
                yield pd.concat(outs, ignore_index=True)[out_cols]

    srt = df.repartition(key_col).sortWithinPartitions(key_col, sort_col)
    return srt.mapInPandas(batched, schema=schema)


def rows_to_frame(out_rows: list[list], names: list[str]) -> pd.DataFrame:
    if not out_rows:
        # object dtype: Arrow accepts empty object columns for any
        # target type (empty float64 would fail to cast to timestamp)
        return pd.DataFrame({c: pd.Series([], dtype=object) for c in names})
    return pd.DataFrame(out_rows, columns=names)


def _make_matcher(spec: MRSpec, order_by: list[str], ts_col: str):
    elements = [
        (e.var, e.n_min, e.n_max, e.reluctant,
         spec.agg_defines.get(e.var))
        for e in spec.elements
    ]
    nav_defines = {
        v: _compile_nav_define(v, nexpr, spec.elements)[0]
        for v, nexpr in spec.nav_defines.items()
    } or None
    measures = [
        (m.name, m.func, m.var, m.col, m.final, m.offset)
        for m in spec.measures
    ]
    partition_by, skip, within_s = spec.partition_by, spec.skip, spec.within_s
    skip_var = spec.skip_var
    var_names = spec.variables
    subsets = dict(spec.subsets)
    emit = spec.rows
    row_cols = tuple(order_by) if emit == "all" else ()
    names = (
        [partition_by]
        + list(row_cols)
        + [m.name for m in spec.measures]
    )

    def _scan_group(pdf: pd.DataFrame, key_value) -> list[list]:
        out_rows, _, _ = scan_rows(
            pdf,
            key_value,
            elements=elements,
            measures=measures,
            skip=skip,
            within_s=within_s,
            var_names=var_names,
            ts_col=ts_col,
            emit=emit,
            row_cols=row_cols,
            subsets=subsets,
            skip_var=skip_var,
            nav_defines=nav_defines,
        )
        return out_rows

    def match_sorted_batches(it):
        """mapInPandas matcher: the input is JVM-sorted by (partition
        key, total order) within each task (``_dispatch`` arranges the
        repartition + sortWithinPartitions), so groups are the key
        runs of :func:`_sorted_runs`: one Python call per ~10k-row
        batch, not one per key."""
        for runs in _sorted_runs(it, partition_by):
            out_rows: list[list] = []
            # plain positional slices: scan_rows reads columns via
            # to_numpy()/positional iloc, so the index need not reset
            for run in runs:
                out_rows.extend(_scan_group(run, run[partition_by].iloc[0]))
            if out_rows:
                yield rows_to_frame(out_rows, names)

    return match_sorted_batches
