"""Streaming scale sweep for the round-10 additions (VERDICT r10 #6):
the reorder-buffered DISORDER driver and the where() pre-filter
conditioned-quantifier lowering, at 1x / 10x / 30x offered rows per
micro-batch.

A streaming operator's 100 TB question is not one wall time but how
per-batch cost grows with batch size: alpha = dlog(batch_ms p50) /
dlog(rows_per_batch). alpha ~ 1 means linear per-row cost (the keyed
state machine touches each row once); alpha > 1 means the buffer /
prefilter adds superlinear work at depth. rows/s per tile is printed
too (it should RISE with batch size while the per-batch fixed cost —
Python-worker task setup, Arrow batch setup, state-store commits —
amortizes; tools/pyworker_profile.py splits the worker part).

Scenarios (both the keyed Arrow-state family):
- cep_times_disorder: times(2,3) with 1% of rows rewound 5 s under a
  10 s allowance — the park/release reorder buffer layered on the
  times quantifier core (streaming/stateful.py make_disorder_step);
- cep_where_quant: Pattern click{2,3} -> purchase with where() on
  BOTH steps — the r10 pre-filter lowering ahead of the quantifier
  machine (operators/pattern.py _stream_where_prefilter).

Usage: python tools/stream_scale_bench.py   (prints one JSON line;
rows recorded in SCALING.md's streaming section)
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_framework_spark.session import get_spark  # noqa: E402

KEYS = 25_000
TILES = (10_000, 100_000, 300_000)  # rows per micro-batch: 1x/10x/30x


def rate_mb(spark, rows_per_batch: int, partitions: int = 8):
    from pyspark.sql import functions as F  # noqa: F401

    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", partitions)
        .load()
    )


def disorder_scenario(spark, rpb: int):
    from pyspark.sql import functions as F

    from flink_framework_spark.streaming.stateful import times_matches

    src = rate_mb(spark, rpb).select(
        (F.col("value") % KEYS).alias("user_id"),
        F.when(
            F.col("value") % 100 == 0,
            F.col("timestamp") - F.expr("INTERVAL 5 SECONDS"),
        )
        .otherwise(F.col("timestamp"))
        .alias("ts"),
        F.col("value").alias("event_id"),
        F.when((F.col("value") / KEYS).cast("long") % 3 < 2, "click")
        .otherwise("purchase")
        .alias("event_type"),
    )
    return times_matches(src, 2, 3, horizon_s=60.0, disorder_s=10.0), "update"


def where_quant_scenario(spark, rpb: int):
    from pyspark.sql import functions as F

    from flink_framework_spark.operators.pattern import Pattern

    src = rate_mb(spark, rpb).select(
        (F.col("value") % KEYS).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.col("value").alias("event_id"),
        F.when((F.col("value") / KEYS).cast("long") % 3 < 2, "click")
        .otherwise("purchase")
        .alias("event_type"),
        (F.pmod(F.col("value"), F.lit(10)) / 10.0).alias("value"),
    )
    p = (
        Pattern.begin("click")
        .where("value > 0.3")
        .times(2, 3)
        .followed_by("purchase")
        .where("value > 0.3")
        .within("2 minutes")
    )
    return p.match_stream(src, watermark="10 seconds"), "update"


def main() -> None:
    spark = get_spark(app_name="stream-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)) + "/..")
    from bench import _run_stream_scenario

    out: dict = {}
    for name, build in (
        ("cep_times_disorder", disorder_scenario),
        ("cep_where_quant", where_quant_scenario),
    ):
        tiles = {}
        for rpb in TILES:
            df, mode = build(spark, rpb)
            tiles[str(rpb)] = _run_stream_scenario(
                df, mode, seconds=16.0, runs=2, min_batches=6
            )
        out[name] = tiles
        a, b, c = (tiles[str(t)]["batch_ms_p50"] for t in TILES)
        out[name]["alpha_1x_10x"] = round(math.log(b / a) / math.log(10), 2)
        out[name]["alpha_10x_30x"] = round(math.log(c / b) / math.log(3), 2)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
