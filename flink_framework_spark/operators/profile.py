"""Table profiler — per-column statistics in ONE pass (SURVEY.md §2
K6 utility): the data-quality sweep every ingestion pipeline runs
before committing a 100 TB batch.

One ``agg`` with all statistics for all columns = a single scan and a
single-row reduction; the per-column rows are then unpivoted with
``stack`` (pure plan, no second read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from flink_framework_spark.functions.helpers import round_duck
from flink_framework_spark.staging import stage


def profile_table(df: DataFrame, approx_distinct: bool = True) -> DataFrame:
    """Per-column profile: rows, nulls, distinct count, min/max/mean
    of numeric columns (rounded for stable comparison).

    The default uses HLL sketches (``approx_count_distinct``) for the
    distinct counts: exact multi-column distinct plans an Expand that
    multiplies the scanned rows by the column count — at 100 TB that
    is the profiler's whole cost, while HLL keeps it one streaming
    pass with ~2% error. Pass ``approx_distinct=False`` only when
    exact cardinalities are required (the oracle-checked
    ``q_profile_events`` does, to stay SQL-comparable).
    """
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for f in df.schema.fields:
        c = f.name
        distinct = (
            F.approx_count_distinct(c) if approx_distinct else F.countDistinct(c)
        )
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"))
        aggs.append(distinct.alias(f"__dist_{c}"))
        if isinstance(f.dataType, NumericType):
            aggs.append(round_duck(F.min(c).cast("double"), 4).alias(f"__min_{c}"))
            aggs.append(round_duck(F.max(c).cast("double"), 4).alias(f"__max_{c}"))
            aggs.append(round_duck(F.avg(c), 4).alias(f"__mean_{c}"))
    stats = df.agg(*aggs)

    cells = []
    for f in df.schema.fields:
        c = f.name
        numeric = isinstance(f.dataType, NumericType)
        cells.append(
            ", ".join(
                [
                    f"'{c}'",
                    f"'{f.dataType.simpleString()}'",
                    "__rows",
                    f"__nulls_{c}",
                    f"__dist_{c}",
                    f"__min_{c}" if numeric else "CAST(NULL AS DOUBLE)",
                    f"__max_{c}" if numeric else "CAST(NULL AS DOUBLE)",
                    f"__mean_{c}" if numeric else "CAST(NULL AS DOUBLE)",
                ]
            )
        )
    stack = f"stack({len(cells)}, {', '.join(cells)})"
    return stats.select(
        F.expr(
            stack
            + " as (column, dtype, n_rows, n_nulls, n_distinct, min, max, mean)"
        )
    )


def hll_rollup(
    df: DataFrame,
    key_col: str,
    bucket_expr: Column,
    bucket_name: str = "bucket",
) -> DataFrame:
    """Mergeable-sketch distinct rollup — the 100 TB pattern for
    distinct counts over hierarchies: build ONE DataSketches HLL
    sketch per bucket (order-independent register maxima, so the
    sketch is deterministic under any partitioning), then UNION the
    bucket sketches for the grand total instead of re-scanning the
    fact table. In a lake deployment the per-bucket sketches persist
    as a tiny summary table; any time-range's distinct count is a
    sketch union over that range — no raw scan.

    Returns one row per bucket plus an ``__all__`` row whose estimate
    comes from the sketch union (property-tested equal to the
    direct whole-table sketch)."""
    # both output branches read the per-bucket sketches; stage them so
    # the sketch pass over the fact table runs once, not once per
    # branch (the same staged-input discipline as kll_quantile_summary)
    per = stage(
        df.groupBy(bucket_expr.alias(bucket_name)).agg(
            F.hll_sketch_agg(key_col).alias("__sk")
        )
    )
    buckets = per.select(
        F.col(bucket_name).cast("string").alias(bucket_name),
        F.hll_sketch_estimate("__sk").alias("est_distinct"),
    )
    total = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("est_distinct")
    ).select(F.lit("__all__").alias(bucket_name), "est_distinct")
    return buckets.unionByName(total)


def observe_quality(df: DataFrame, cols: list[str], name: str = "quality"):
    """Piggyback data-quality counters onto whatever action consumes
    ``df`` — the Flink metrics/accumulator analogue, Spark-native:
    ``Observation`` metrics are computed inside the existing job (no
    second scan, streaming-compatible via the same ``observe`` API).
    Returns ``(df_with_observation, observation)``; after any action
    on the returned frame, ``observation.get`` yields ``n_rows`` and
    a ``nulls_<col>`` counter per requested column.

    At 100 TB this is the difference between "profile then load" (two
    scans) and "load, observing" (one)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in cols
    ]
    return df.observe(obs, *metrics), obs


def kll_quantile_summary(
    df: DataFrame,
    value_col: str,
    bucket_expr: Column,
    bucket_name: str = "bucket",
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Mergeable quantile summaries (DataSketches KLL): one sketch per
    bucket, plus an ``__all__`` row whose quantiles come from MERGING
    the bucket sketches — the summary-table pattern for latency/size
    percentiles over hierarchies without re-scanning facts. KLL
    compaction is randomized, so results carry rank-error guarantees
    rather than exact values (property-tested against exact
    percentiles); use ``percentile_approx``/exact percentiles when a
    value-reproducible answer is required."""
    # both output branches (per-bucket rows AND the merged __all__
    # row) read the per-bucket sketches; without staging, the sketch
    # pass over the fact table runs once PER BRANCH (Spark does not
    # dedupe common subplans) — the staged frame is tiny (one sketch
    # blob per bucket)
    per = stage(
        df.groupBy(bucket_expr.alias(bucket_name)).agg(
            F.kll_sketch_agg_double(value_col).alias("__sk")
        )
    )

    def qcols(sk):
        return [
            F.kll_sketch_get_quantile_double(sk, F.lit(q)).alias(
                f"p{int(q * 100)}"
            )
            for q in quantiles
        ]

    buckets = per.select(
        F.col(bucket_name).cast("string").alias(bucket_name), *qcols(F.col("__sk"))
    )
    # kll_sketch_merge is a BINARY scalar: fold the (small) list of
    # bucket sketches — the merge tree a summary-table rollup runs
    merged = F.aggregate(
        F.slice(F.col("__l"), 2, F.greatest(F.size("__l") - 1, F.lit(0))),
        F.element_at(F.col("__l"), 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    total = per.agg(F.collect_list("__sk").alias("__l")).select(
        F.lit("__all__").alias(bucket_name), *qcols(merged)
    )
    return buckets.unionByName(total)


def cms_build(
    items: DataFrame,
    key_col: str = "term",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a count-min sketch over a key column: ``depth x width``
    counters, one DataFrame row per non-empty cell.

    Hashing is md5-derived (row seed || ':' || key), so the sketch is
    deterministic under any partitioning AND reproducible in ANSI SQL
    — the DuckDB oracle builds the bit-identical sketch. The sketch is
    MERGEABLE by construction: cell counts are sums, so partial
    aggregation combines map-side and sketches from separate corpus
    shards/days union+sum into the sketch of the union — the
    fixed-size (depth*width cells) summary a 100 TB frequency monitor
    actually ships around, vs. a full term->count table that grows
    with the vocabulary.
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":", F.lit(str(d)), F.col(key_col)
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("b"),
            )
            for d in range(depth)
        ]
    )
    return (
        items.select(F.explode(rows).alias("x"))
        .groupBy(F.col("x.d").alias("d"), F.col("x.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str = "term",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Probe a count-min sketch: for each key, min over the depth rows
    of its cell counts (the classic upward-biased CMS estimate). The
    probe explodes each key to its ``depth`` cells and equi-joins the
    sketch — the sketch side is depth*width rows at most, so Catalyst
    broadcasts it; no corpus rescan."""
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":", F.lit(str(d)), F.col(key_col)
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("b"),
            )
            for d in range(depth)
        ]
    )
    probe = keys.select(key_col, F.explode(cells).alias("x")).select(
        key_col, F.col("x.d").alias("d"), F.col("x.b").alias("b")
    )
    return (
        probe.join(F.broadcast(cms), ["d", "b"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("cms_est"))
    )


# -- portable (cross-engine verifiable) HLL ---------------------------

#: registers = 2^12; the standard HLL alpha for m = 4096, times
#: m^2 * 2^53 so the estimate is one double division away from the
#: EXACT integer harmonic sum (see hll_rollup_portable)
_HLL_P = 12
_HLL_M = 1 << _HLL_P
_HLL_ALPHA_NUM = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(1 << 53)


#: (threshold, rho) pairs shared VERBATIM by the Spark when-chain and
#: the DuckDB CASE text: rho = r iff the 52-bit window w >= 2^(52-r),
#: else 53 (all-zero window). One generator, two dialects — the
#: cascade cannot drift between engines.
_RHO52_STEPS = [(1 << (52 - r), r) for r in range(1, 53)]


def _rho52_col(w: Column) -> Column:
    """rho (leading-zero count of a 52-bit window + 1) as a Spark
    when-cascade over the shared integer thresholds — exact integer
    comparisons, no float log."""
    c = None
    for threshold, r in _RHO52_STEPS:
        c = (
            F.when(w >= F.lit(threshold), F.lit(r))
            if c is None
            else c.when(w >= F.lit(threshold), F.lit(r))
        )
    return c.otherwise(F.lit(53))


def rho52_case_sql(w: str) -> str:
    """The same cascade as :func:`_rho52_col`, rendered as DuckDB CASE
    text for the oracle side."""
    whens = " ".join(
        f"WHEN {w} >= {threshold} THEN {r}" for threshold, r in _RHO52_STEPS
    )
    return f"CASE {whens} ELSE 53 END"


def _hll_fast_registers(
    df: DataFrame, key_col: str, bucket_expr: Column, bucket_name: str
) -> DataFrame:
    """(bucket, slot, M) register maxima for INTEGER keys — one
    ``xxhash64`` builtin plus bit ops, all inside whole-stage codegen,
    no md5/string work. Portable: XXH64 of an 8-byte value has a
    closed form (single lane + avalanche, Collet's reference spec)
    that the DuckDB oracle replays exactly in HUGEINT modular
    arithmetic (queries.aggregates._hll_oracle_sql; validated against
    an independent Python reference in tests/test_hll.py), so the
    registers — and hence the estimate — stay bit-reproducible across
    engines while the Spark side pays integer-hash cost (the round-9
    md5 spelling cost 3.6x the native path on string/hex ops; this
    path restores the fast default WITHOUT giving up the live oracle).

    slot = low 12 bits of the hash; rho = leading-zero count of the
    TOP 52 bits + 1 (same register geometry as the md5 spelling, so
    the estimator is shared).

    The rho cascade runs PER REGISTER, not per row: bitlen is
    monotone in w, so max(rho) = 53 - bitlen(min(w)) — the grouped
    MIN(w) feeds one 52-branch CASE per (bucket, slot) group (<= 4096
    rows/bucket) instead of one per input row, leaving the per-row
    work at hash + mask + shift."""
    h = F.xxhash64(F.col(key_col).cast("long"))
    slot = h.bitwiseAND(F.lit(4095)).cast("int")
    w = F.shiftrightunsigned(h, 12)
    return (
        df.select(
            bucket_expr.cast("string").alias(bucket_name),
            slot.alias("__slot"),
            w.alias("__w"),
        )
        .groupBy(bucket_name, "__slot")
        .agg(F.min("__w").alias("__wmin"))
        .select(
            bucket_name,
            "__slot",
            _rho52_col(F.col("__wmin")).alias("__m"),
        )
    )


def _hll_md5_rows(
    df: DataFrame, key_col: str, bucket_expr: Column, bucket_name: str
) -> DataFrame:
    """(bucket, __slot, __v=rho) per input row — the md5 register
    spelling for non-integer keys (see :func:`_hll_portable_registers`
    for the grouped form and the geometry notes)."""
    hexd = F.md5(F.col(key_col).cast("string"))
    slot = F.conv(F.substring(hexd, 30, 3), 16, 10).cast("int")
    w_hex = F.regexp_replace(F.substring(hexd, 1, 13), "^0+", "")
    nz = F.length(w_hex)
    first = F.substring(w_hex, 1, 1)
    lead_in_digit = (
        F.when(first == "1", F.lit(3))
        .when(first.isin("2", "3"), F.lit(2))
        .when(first.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )
    rho = F.when(nz == 0, F.lit(53)).otherwise(
        (F.lit(13) - nz) * 4 + lead_in_digit + 1
    )
    return df.select(
        bucket_expr.cast("string").alias(bucket_name),
        slot.alias("__slot"),
        rho.alias("__v"),
    )


def _hll_portable_registers(
    df: DataFrame, key_col: str, bucket_expr: Column, bucket_name: str
) -> DataFrame:
    """(bucket, slot, M): md5-derived HLL register maxima — pure
    string/integer ops shared verbatim by the DuckDB oracle, so the
    registers (and hence the estimate) are bit-reproducible across
    engines. slot = low 12 bits of the md5; rho = leading-zero count
    of the next 52 bits + 1, read off the HEX digits (exact integer
    arithmetic, no float log)."""
    hexd = F.md5(F.col(key_col).cast("string"))
    slot = F.conv(F.substring(hexd, 30, 3), 16, 10).cast("int")
    w_hex = F.regexp_replace(F.substring(hexd, 1, 13), "^0+", "")
    nz = F.length(w_hex)
    first = F.substring(w_hex, 1, 1)
    lead_in_digit = (
        F.when(first == "1", F.lit(3))
        .when(first.isin("2", "3"), F.lit(2))
        .when(first.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )
    rho = F.when(nz == 0, F.lit(53)).otherwise(
        (F.lit(13) - nz) * 4 + lead_in_digit + 1
    )
    return (
        df.select(
            bucket_expr.cast("string").alias(bucket_name),
            slot.alias("__slot"),
            rho.alias("__rho"),
        )
        .groupBy(bucket_name, "__slot")
        .agg(F.max("__rho").alias("__m"))
    )


def _hll_portable_estimate(regs: DataFrame, bucket_name: str) -> DataFrame:
    """Register maxima -> HLL estimate. The harmonic sum is computed
    EXACTLY: sum(2^-Mj) scaled by 2^53 is an integer (shiftleft into
    DECIMAL(38,0)), empty registers contribute 2^53 each — so the
    only float steps are one division and the linear-counting ln,
    identical under IEEE round-to-nearest in both engines (the
    oracle rounds to 2 decimals like every float aggregate here)."""
    agg = regs.groupBy(bucket_name).agg(
        F.sum(
            F.expr("CAST(shiftleft(1L, 53 - __m) AS DECIMAL(38,0))")
        ).alias("__s_present"),
        F.count(F.lit(1)).alias("__n_slots"),
    )
    zeros = F.lit(_HLL_M) - F.col("__n_slots")
    s_exact = (
        F.col("__s_present")
        + zeros.cast("decimal(38,0)") * F.lit(1 << 53).cast("decimal(38,0)")
    )
    e_raw = F.lit(_HLL_ALPHA_NUM) / s_exact.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (zeros > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        bucket_name, F.round(est, 2).alias("est_distinct")
    )


def hll_rollup_portable(
    df: DataFrame,
    key_col: str,
    bucket_expr: Column,
    bucket_name: str = "bucket",
) -> DataFrame:
    """:func:`hll_rollup` with a PORTABLE register spelling — md5
    slot/rho registers instead of the JVM DataSketches sketch — so a
    DuckDB (or any-engine) oracle can recompute the estimate exactly
    and the driver slot carries a LIVE value-hash check instead of a
    frozen golden. Same output contract: one row per bucket plus the
    ``__all__`` row whose estimate comes from the register-maxima
    UNION across buckets (the mergeable-sketch property, now stated
    as plain relational algebra: max of maxima). The DataSketches
    form stays the production-native path (binary sketch columns,
    lgK tuning); this is the verification-grade twin — same
    100 TB shape (one grouped pass builds registers; the grand total
    re-aggregates 4096-row register summaries, never the fact
    table).

    Register spelling dispatches on the key's type: integer keys take
    the xxhash64 fast path (JVM builtin hash, no per-row string work;
    the oracle replays XXH64-of-a-long in HUGEINT arithmetic, see
    :func:`_hll_fast_registers` for the standalone register builder
    the tests pin), everything else the md5 hex spelling (md5 is the
    only portable hash with a cross-engine builtin for arbitrary
    strings). Both produce the same register geometry (12-bit slot,
    52-bit rho window), so the estimator is shared.

    The per-bucket registers AND the ``__all__`` union registers come
    out of ONE aggregation pass via GROUPING SETS ((bucket, slot),
    (slot)) — the union register is exactly the (slot)-only set, and
    under the integer fast path the register value rho(MIN(w)) is
    preserved by the coarser grouping because bitlen is monotone
    (max over buckets of rho(min w per bucket) == rho(min w over all
    buckets)); the md5 path aggregates MAX(rho) where the identity is
    immediate. One shuffle over the fact rows, one tiny estimate agg,
    no persisted intermediate (the previous two-branch union cost a
    cache + two estimate jobs — fixed overhead that dominated the
    sub-second query)."""
    key_type = dict(df.dtypes).get(key_col)
    fast = key_type in ("bigint", "int", "smallint", "tinyint")
    if fast:
        h = F.xxhash64(F.col(key_col).cast("long"))
        rows = df.select(
            bucket_expr.cast("string").alias(bucket_name),
            h.bitwiseAND(F.lit(4095)).cast("int").alias("__slot"),
            F.shiftrightunsigned(h, 12).alias("__v"),
        )
        agg = F.min("__v").alias("__a")
    else:
        rows = _hll_md5_rows(df, key_col, bucket_expr, bucket_name)
        agg = F.max("__v").alias("__a")
    g = rows.groupingSets(
        [[F.col(bucket_name), F.col("__slot")], [F.col("__slot")]],
        F.col(bucket_name),
        F.col("__slot"),
    )
    regs = g.agg(agg, F.grouping(bucket_name).alias("__g")).select(
        F.when(F.col("__g") == 1, F.lit("__all__"))
        .otherwise(F.col(bucket_name))
        .alias(bucket_name),
        "__slot",
        (_rho52_col(F.col("__a")) if fast else F.col("__a")).alias("__m"),
    )
    return _hll_portable_estimate(regs, bucket_name)
