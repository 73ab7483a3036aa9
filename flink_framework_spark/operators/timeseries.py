"""Time-series gap filling and interpolation (hypertable-style).

The continuous-aggregate rollup (``streaming_ops.hierarchical_rollup``)
re-aggregates the buckets that EXIST; a downstream consumer (chart,
forecast model, SLA monitor) also needs the buckets that DON'T — a
dense time spine per series with carried-forward values. This is
TimescaleDB's ``time_bucket_gapfill`` + ``locf()`` re-expressed as a
Spark plan:

1. bucket the facts once (hash aggregate),
2. derive the spine bounds FROM the aggregate (one-row agg — never a
   driver collect),
3. ``explode(sequence(min, max, interval))`` against the distinct
   series keys to densify,
4. left-join the observed buckets onto the spine and carry the last
   observation forward with ``last(value, ignorenulls=True)`` over an
   unbounded-preceding row window.

Scale posture: the spine has exactly ``n_series x n_buckets`` rows —
the same order of magnitude as the bucketed aggregate it joins (both
shuffle on the series key), never the raw facts. The LOCF window is
sequential per series, which parallelizes across series; a deployment
with FEW series and YEARS of buckets would range-chunk the window
(bucket date as a secondary partition key, carrying the last value of
each chunk forward once) — noted here because the fixture's 5 series
do not exercise that shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_framework_spark.functions.helpers import round_duck
from flink_framework_spark.staging import stage


def gap_fill_locf(
    events: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    grain: str = "hour",
) -> DataFrame:
    """Dense per-series time spine at ``grain`` with LOCF interpolation.

    Returns one row per (series, bucket) for EVERY bucket between the
    global min and max, with:

    - ``n_events``  — observed rows in the bucket (0 for gaps),
    - ``avg_value`` — the bucket average, gaps carried forward from
      the most recent observed bucket of the same series (null until
      a series' first observation),
    - ``is_gap``    — whether this bucket was synthesized.

    The bucketed aggregate feeds both the spine bounds and the join,
    so it is staged (persisted) once — the self-join-branch rule from
    SCALING.md; it holds one row per (series, bucket), not facts.
    """
    b = stage(
        events.groupBy(
            F.col(series_col).alias("series"),
            F.date_trunc(grain, F.col(ts_col)).alias("bucket"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg(value_col).alias("avg_v"),
        )
    )
    bounds = b.groupBy().agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    spine = (
        b.select("series")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "series",
            F.explode(
                F.expr(f"sequence(mn, mx, interval 1 {grain})")
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("series")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(b, ["series", "bucket"], "left")
        .select(
            "series",
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            round_duck(F.last("avg_v", ignorenulls=True).over(w), 4).alias(
                "avg_value"
            ),
            F.col("avg_v").isNull().alias("is_gap"),
        )
    )
