"""D. Aggregations — the reference's ``keyBy().aggregate()`` surface
(SURVEY.md §2 D1-D12 [F]) as hash aggregates.

Catalyst plans every ``groupBy().agg`` as partial (map-side) + final
aggregation automatically, so these scale without explicit combiners.
Oracle SQL carries explicit BIGINT casts wherever DuckDB would widen
to HUGEINT (SUM of integers) so value types match Spark's longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_framework_spark.functions.helpers import round_duck
from flink_framework_spark.io import table
from flink_framework_spark.registry import register
from flink_framework_spark.staging import stage


@register(
    "q_agg_pricing",
    family="D",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 2) AS avg_price,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: multi-agg grouped hash aggregate."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-01")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        round_duck(F.sum("l_quantity"), 2).alias("sum_qty"),
        round_duck(F.sum("l_extendedprice"), 2).alias("sum_base"),
        round_duck(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc"
        ),
        round_duck(F.avg("l_quantity"), 4).alias("avg_qty"),
        round_duck(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_agg_distinct",
    family="D",
    oracle="""
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supp
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count per group (expand + two-phase agg under the hood)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )


@register(
    "q_agg_rollup",
    family="D",
    oracle="""
SELECT r.r_name, n.n_name, COUNT(c.c_custkey) AS n_cust
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total)."""
    cu = table(spark, sf_dir, "customer")
    na = table(spark, sf_dir, "nation")
    re = table(spark, sf_dir, "region")
    joined = cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey).join(
        F.broadcast(re), na.n_regionkey == re.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("c_custkey").alias("n_cust")
    )


@register(
    "q_agg_cube",
    family="D",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    od = table(spark, sf_dir, "orders")
    return od.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        round_duck(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q_agg_grouping_sets",
    family="D",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the native DataFrame API (Spark 4)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_agg_filtered",
    family="D",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       COUNT(*) FILTER (WHERE value > 100) AS n_big,
       ROUND(SUM(value) FILTER (WHERE value > 100), 2) AS sum_big
FROM events GROUP BY event_type
""",
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (FILTER'd) aggregates."""
    ev = table(spark, sf_dir, "events")
    big = F.col("value") > 100
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(big, 1)).alias("n_big"),
        round_duck(F.sum(F.when(big, F.col("value"))), 2).alias("sum_big"),
    )


@register(
    "q_agg_stats",
    family="D",
    oracle="""
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_extendedprice), 2) AS sd,
       ROUND(VAR_SAMP(l_extendedprice), 2) AS var,
       ROUND(AVG(l_extendedprice), 2) AS mean,
       MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev/variance)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_duck(F.stddev_samp("l_extendedprice"), 2).alias("sd"),
        round_duck(F.var_samp("l_extendedprice"), 2).alias("var"),
        round_duck(F.avg("l_extendedprice"), 2).alias("mean"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )


@register(
    "q_agg_collect",
    family="D",
    oracle="""
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv
FROM events GROUP BY user_id
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-set per group, stringified for stable hashing."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "types_csv"
        )
    )


@register(
    "q_agg_median",
    family="D",
    oracle="""
SELECT l_returnflag,
       ROUND(MEDIAN(l_quantity), 2) AS med_qty,
       ROUND(QUANTILE_CONT(l_quantity, 0.9), 2) AS p90_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). The approx twin (D11) is property-
    tested in the suite since approx sketches differ by design."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_duck(F.percentile("l_quantity", 0.5), 2).alias("med_qty"),
        round_duck(F.percentile("l_quantity", 0.9), 2).alias("p90_qty"),
    )


def _hll_oracle_sql() -> str:
    """DuckDB oracle for q_hll_rollup's xxhash64 fast register path
    (round-10: the round-9 md5 spelling made the oracle live but cost
    3.6x the native path per row; this keeps the oracle live at native
    cost). XXH64 of an 8-byte value is a closed form — one lane round
    plus the avalanche (Collet's reference spec) — replayed here in
    HUGEINT arithmetic with every multiply split into 32-bit partial
    products mod 2^64 (the same machinery as the simhash128 oracle,
    queries.dedup_ext). Validated step-for-step against an independent
    Python XXH64 reference AND Spark's builtin in tests/test_hll.py.
    The rho cascade text comes from the SAME threshold list the Spark
    side compiles (operators.profile._RHO52_STEPS), so the two
    dialects cannot drift. The estimator tail is unchanged: exact
    2^53-scaled decimal harmonic sum; the only float steps are one
    division and the linear-counting ln, rounded to 2 decimals."""
    from flink_framework_spark.operators.profile import rho52_case_sql

    M = 1 << 64
    P1 = 11400714785074694791
    P2 = 14029467366897019727
    P3 = 1609587929392839161
    P4 = 9650029242287828579
    P5 = 2870177450012600261
    C0 = (42 + P5 + 8) % M  # seed=42 (Spark's fixed seed) + P5 + len

    def mm(u: str, c: int) -> str:
        # (u * c) mod 2^64 without overflowing HUGEINT: split u into
        # 32-bit halves, recombine the partial products mod 2^64
        return (
            f"CAST((((CAST({u} AS HUGEINT) & 4294967295) * {c} "
            f"+ ((((CAST({u} AS HUGEINT) >> 32) * {c}) % 4294967296)"
            f" * 4294967296)) % {M}) AS UBIGINT)"
        )

    def madd(u: str, c: int) -> str:
        return f"CAST((CAST({u} AS HUGEINT) + {c}) % {M} AS UBIGINT)"

    def rotl(u: str, r: int) -> str:
        # disjoint bit ranges, so + is |
        return (
            f"CAST(((CAST({u} AS HUGEINT) * {1 << r}) % {M} "
            f"+ (CAST({u} AS HUGEINT) >> {64 - r})) AS UBIGINT)"
        )

    return f"""
WITH h AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
         CAST(CAST(user_id AS HUGEINT)
              + CASE WHEN user_id < 0 THEN {M} ELSE 0 END AS UBIGINT) AS u
  FROM events),
x1 AS (SELECT bucket, {mm("u", P2)} AS k1 FROM h),
x2 AS (SELECT bucket, {rotl("k1", 31)} AS k1r FROM x1),
x3 AS (SELECT bucket, {mm("k1r", P1)} AS k1f FROM x2),
x4 AS (SELECT bucket, xor(CAST({C0} AS UBIGINT), k1f) AS h1 FROM x3),
x5 AS (SELECT bucket, {rotl("h1", 27)} AS h1r FROM x4),
x6 AS (SELECT bucket, {madd(mm("h1r", P1), P4)} AS h2 FROM x5),
a1 AS (SELECT bucket, xor(h2, h2 >> 33) AS v1 FROM x6),
a2 AS (SELECT bucket, {mm("v1", P2)} AS v2 FROM a1),
a3 AS (SELECT bucket, xor(v2, v2 >> 29) AS v3 FROM a2),
a4 AS (SELECT bucket, {mm("v3", P3)} AS v4 FROM a3),
hv AS (SELECT bucket, xor(v4, v4 >> 32) AS hash64 FROM a4),
r AS (
  SELECT bucket,
         CAST(hash64 % 4096 AS INTEGER) AS slot,
         hash64 >> 12 AS w
  FROM hv),
wmin AS (
  SELECT bucket, slot, MIN(w) AS w FROM r GROUP BY 1, 2),
regs AS (
  SELECT bucket, slot, {rho52_case_sql("w")} AS m FROM wmin),"""


@register(
    "q_hll_rollup",
    family="D",
    # LIVE oracle at NATIVE cost (round-10): integer keys hash with
    # Spark's builtin xxhash64 — no per-row md5/string work — and the
    # oracle replays XXH64-of-a-long in HUGEINT arithmetic (see
    # _hll_oracle_sql). DataSketches hll_rollup remains the
    # production-native operator (golden-free property tests in
    # tests/test_hll.py pin its determinism and 5%-of-exact bound).
    oracle=_hll_oracle_sql()
    + """
u AS (
  SELECT * FROM regs
  UNION ALL
  SELECT '__all__', slot, MAX(m) FROM regs GROUP BY 2),
est AS (
  SELECT bucket,
         SUM(CAST(1::BIGINT << (53 - m) AS DECIMAL(38,0)))
           + CAST(4096 - COUNT(*) AS DECIMAL(38,0))
             * CAST(9007199254740992 AS DECIMAL(38,0)) AS s_exact,
         4096 - COUNT(*) AS zeros
  FROM u GROUP BY 1)
SELECT bucket AS day,
       ROUND(CASE WHEN 1.0897106820939319e+23 / CAST(s_exact AS DOUBLE)
                       <= 10240.0 AND zeros > 0
                  THEN 4096.0 * ln(4096.0 / zeros)
                  ELSE 1.0897106820939319e+23 / CAST(s_exact AS DOUBLE)
             END, 2) AS est_distinct
FROM est
""",
)
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct users per day + register-union grand
    total (operators.profile.hll_rollup_portable) — distinct counts
    over hierarchies without re-scanning the fact table, with the
    register maxima spelled portably (md5 slot/rho) so the DuckDB
    oracle recomputes the estimate EXACTLY (live value-hash check;
    the DataSketches-native form stays available as
    operators.profile.hll_rollup)."""
    from flink_framework_spark.operators.profile import hll_rollup_portable

    ev = table(spark, sf_dir, "events")
    return hll_rollup_portable(
        ev, "user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"), "day"
    )


@register(
    "q_pivot",
    family="D",
    oracle="""
SELECT user_id,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
FROM events
GROUP BY user_id
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts spread into one column per event
    type. The value list is passed EXPLICITLY — with an implicit list
    Spark must first scan for distinct values (an extra job) and the
    output schema becomes data-dependent, which breaks both schema
    checks and incremental runs; explicit values keep it a single
    grouped aggregate."""
    ev = table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types]
    )


@register(
    "q_theta_sets",
    family="D",
    oracle="""
WITH a AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'purchase' AND value >= 150),
b AS (SELECT DISTINCT user_id FROM events
      WHERE event_type = 'click' AND value >= 150)
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS est_a,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS est_b,
       CAST((SELECT COUNT(*) FROM a WHERE user_id IN (SELECT user_id FROM b))
            AS BIGINT) AS est_inter,
       CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b) u)
            AS BIGINT) AS est_union,
       CAST((SELECT COUNT(*) FROM a WHERE user_id NOT IN (SELECT user_id FROM b))
            AS BIGINT) AS est_diff
""",
)
def q_theta_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: distinct-user sets (big purchasers vs
    big clickers) built as mergeable sketches, then intersected /
    unioned / differenced WITHOUT touching raw data again — the
    summary-table pattern for audience-overlap questions that HLL
    cannot answer (HLL only unions). At fixture scale the sketches sit
    in exact mode (< 4096 retained hashes) so the DuckDB oracle checks
    exact values; at 100 TB the same plan degrades gracefully to
    estimation."""
    ev = table(spark, sf_dir, "events")
    a = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= 150)
    ).agg(F.theta_sketch_agg("user_id").alias("sa"))
    b = ev.filter(
        (F.col("event_type") == "click") & (F.col("value") >= 150)
    ).agg(F.theta_sketch_agg("user_id").alias("sb"))
    return a.crossJoin(b).select(
        F.theta_sketch_estimate(F.col("sa")).alias("est_a"),
        F.theta_sketch_estimate(F.col("sb")).alias("est_b"),
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb")).alias("est_inter"),
        F.theta_sketch_estimate(F.theta_union("sa", "sb")).alias("est_union"),
        F.theta_sketch_estimate(F.theta_difference("sa", "sb")).alias("est_diff"),
    )


@register(
    "q_kll_quantiles",
    family="D",
    # KLL compaction is randomized (rank-error guarantees, not value
    # reproducibility -- verified: three fresh sessions hash three
    # ways), so the raw estimates can't be value-checked. What IS
    # deterministic is the sketch's rank-error CONTRACT: the exact
    # rank of each estimate must sit within +-5% of its target (~3x
    # the 99%-confidence bound for the default k=200 sketch, so a
    # contract flake is astronomically unlikely). The benched query is
    # the PRODUCTION shape -- one sketch pass plus the rank-contract
    # pass -- and the oracle asserts kll_ok=TRUE per (bucket, stat).
    # The exact-percentile comparison that used to ride inside this
    # query (a non-mergeable global sort pass, pure verification
    # harness) lives in tests/test_hll.py where it belongs.
    oracle="""
WITH b AS (
  SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket
  FROM events
  UNION ALL SELECT '__all__')
SELECT bucket, stat, TRUE AS kll_ok
FROM b CROSS JOIN (VALUES ('p50'), ('p95'), ('p99')) s(stat)
""",
)
def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day + global KLL quantile estimates, emitted as the
    deterministic rank-error-contract boolean per (bucket, stat) --
    the production profiler shape: ship the sketch, assert its
    guarantee.

    Scale shape: two scans, no sort, no wide shuffle. Pass 1 is the
    sketch pass -- each row explodes to its (day, '__all__') bucket
    pair feeding ONE grouped sketch agg (map-side partial: KLL
    updates combine before the shuffle; the global bucket is built in
    the same pass, no merge step) -- and its ~3*buckets estimate rows
    are read back (a bounded summary-table read: rows scale with
    buckets, never with facts; the exact pattern a lake profiler uses
    when it writes the sketch table then validates it). Pass 2 is the
    rank pass: one scan with 13 conditional partial-agg sums per day
    group -- the day thresholds ride in on a broadcast of the
    collected summary, the global thresholds inline as literals -- so
    the contract booleans cost a count-style aggregate, not a join
    explosion. The mergeable lake-rollup variant (per-bucket sketches
    persisted and MERGED for arbitrary ranges) is
    operators.profile.kll_quantile_summary, rank-contract +
    merge-consistency tested in tests/test_hll.py."""
    tol = 0.05
    stats = (("p50", 0.50), ("p95", 0.95), ("p99", 0.99))
    ev = table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    exploded = ev.select(
        "value",
        F.explode(F.array(F.col("day"), F.lit("__all__"))).alias("bucket"),
    )
    est_rows = (
        exploded.groupBy("bucket")
        .agg(F.kll_sketch_agg_double("value").alias("__sk"))
        .select(
            "bucket",
            *[
                F.kll_sketch_get_quantile_double("__sk", F.lit(q)).alias(s)
                for s, q in stats
            ],
        )
        .collect()
    )
    import math

    # inline the bounded summary as a VALUES relation (a pure-SQL
    # LocalRelation, not a parallelized local RDD — keeps the plan
    # inside Catalyst and the no-RDD-scan invariant); repr() of a
    # FINITE float round-trips exactly through Spark's <digits>D
    # literal, so guard the two cases that would string-build broken
    # SQL: no day buckets at all (empty VALUES list) and non-finite
    # estimates (an all-NaN value column renders as `nanD`)
    # a NULL ts yields a NULL day bucket: those rows still feed the
    # '__all__' sketch but have no day to profile — exclude the NULL
    # bucket from the day table instead of rendering a phantom 'None'
    day_rows = [
        r
        for r in est_rows
        if r["bucket"] is not None and r["bucket"] != "__all__"
    ]
    if not day_rows:
        raise ValueError(
            "q_kll_quantiles: events has no day buckets — nothing to "
            "profile (empty or all-NULL ts column)"
        )
    glob = next(r for r in est_rows if r["bucket"] == "__all__")
    for r in day_rows + [glob]:
        for s, _ in stats:
            if r[s] is None or not math.isfinite(r[s]):
                raise ValueError(
                    f"q_kll_quantiles: non-finite {s} estimate for "
                    f"bucket {r['bucket']!r} — value column is empty or "
                    "all-NaN for that day"
                )
    vals = ", ".join(
        f"('{r['bucket']}', {r['p50']!r}D, {r['p95']!r}D, {r['p99']!r}D)"
        for r in day_rows
    )
    thr = spark.sql(
        f"SELECT * FROM VALUES {vals} AS t(bucket, t50, t95, t99)"
    )

    def _lt(c, strict):
        op = F.col("value") < c if strict else F.col("value") <= c
        return F.sum(op.cast("long"))

    aggs = [F.count(F.lit(1)).alias("cnt")]
    for s, _ in stats:
        aggs += [
            _lt(F.col(f"t{s[1:]}"), True).alias(f"lt_{s}"),
            _lt(F.col(f"t{s[1:]}"), False).alias(f"le_{s}"),
            _lt(F.lit(glob[s]), True).alias(f"ltg_{s}"),
            _lt(F.lit(glob[s]), False).alias(f"leg_{s}"),
        ]
    per = (
        ev.join(F.broadcast(thr), ev.day == thr.bucket)
        .rollup("day")
        .agg(*aggs, F.grouping("day").alias("__g"))
    )

    # ONE rollup aggregate yields the day groups AND the grand-total
    # row (the global rank sums ride the ltg_/leg_ columns), so both
    # output branches read a single scan -- no recompute, no persist
    q_of = (
        F.when(F.col("stat") == "p50", 0.50)
        .when(F.col("stat") == "p95", 0.95)
        .otherwise(0.99)
    )
    is_total = F.col("__g") == 1
    cells = per.select(
        F.when(is_total, F.lit("__all__")).otherwise(F.col("day")).alias(
            "bucket"
        ),
        F.expr(
            "stack(3, "
            + ", ".join(
                f"'{s}', if(__g = 1, ltg_{s}, lt_{s}),"
                f" if(__g = 1, leg_{s}, le_{s})"
                for s, _ in stats
            )
            + ") as (stat, lt, le)"
        ),
        "cnt",
    )
    return cells.select(
        "bucket",
        "stat",
        # the estimate's true-rank interval [rank_lt, rank_le] (ties
        # make it an interval) must meet [q-tol, q+tol]
        (
            ((F.col("lt") / F.col("cnt")) <= q_of + tol)
            & ((F.col("le") / F.col("cnt")) >= q_of - tol)
        ).alias("kll_ok"),
    )



@register(
    "q_unpivot",
    family="D",
    oracle="""
WITH a AS (
  SELECT l_returnflag,
         ROUND(SUM(l_quantity), 2) AS sum_qty,
         ROUND(SUM(l_extendedprice), 2) AS sum_price,
         ROUND(AVG(l_discount), 4) AS avg_disc
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM a
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM a
UNION ALL
SELECT l_returnflag, 'avg_disc', avg_disc FROM a
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the q_pivot inverse: wide per-flag measures fold
    back to (flag, measure, val) rows via ``DataFrame.unpivot`` (one
    Expand node, rows x n_measures, no shuffle beyond the aggregate
    that feeds it). Measures are rounded BEFORE the melt so the
    union'd double column compares exactly."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        round_duck(F.sum("l_quantity"), 2).alias("sum_qty"),
        round_duck(F.sum("l_extendedprice"), 2).alias("sum_price"),
        round_duck(F.avg("l_discount"), 4).alias("avg_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "q_cms_heavy",
    family="D",
    oracle="""
WITH tok AS (
  SELECT UNNEST(string_split(trim(text), ' ')) AS term FROM documents),
cms AS (
  SELECT s.d,
         CAST(('0x' || substring(md5(CAST(s.d AS VARCHAR) || ':' || term),
                                 1, 8)) AS BIGINT) % 256 AS b,
         COUNT(*) AS cnt
  FROM tok, UNNEST([0, 1, 2, 3]) AS s(d) GROUP BY 1, 2),
top AS (
  SELECT term, COUNT(*) AS exact_cnt FROM tok GROUP BY 1
  ORDER BY exact_cnt DESC, term LIMIT 10)
SELECT t.term, t.exact_cnt, MIN(c.cnt) AS cms_est,
       ROUND(MIN(c.cnt) / CAST(t.exact_cnt AS DOUBLE), 4) AS over_ratio
FROM top t, UNNEST([0, 1, 2, 3]) AS s(d)
JOIN cms c ON c.d = s.d
  AND c.b = CAST(('0x' || substring(md5(CAST(s.d AS VARCHAR) || ':'
                                        || t.term), 1, 8)) AS BIGINT) % 256
GROUP BY 1, 2
""",
)
def q_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through a count-min sketch: build a 4x256
    md5-derived CMS over the document token stream (fixed-size,
    mergeable, partitioning-independent), probe it for the exact
    top-10 terms, and report estimate vs truth. The tokenized corpus
    is staged once for both the sketch and the exact top-k; the probe
    broadcasts the 1024-cell sketch (operators.profile.cms_build /
    cms_estimate)."""
    from flink_framework_spark.operators.profile import (
        cms_build,
        cms_estimate,
    )

    tok = stage(
        table(spark, sf_dir, "documents").select(
            F.explode(F.split(F.trim("text"), " ")).alias("term")
        )
    )
    cms = cms_build(tok)
    top = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "term")
        .limit(10)
    )
    est = cms_estimate(cms, top.select("term"))
    return top.join(est, "term").select(
        "term",
        "exact_cnt",
        "cms_est",
        round_duck(
            F.col("cms_est") / F.col("exact_cnt").cast("double"), 4
        ).alias("over_ratio"),
    )
