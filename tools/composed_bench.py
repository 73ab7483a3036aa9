"""Composed-pipeline scale evidence (SCALING.md): one Spark
APPLICATION running the three LLM-pipeline families a real curation
job chains — the five-stage curation funnel, the celled embedding
near-dup, and the BM25 index/top-k — sequentially in ONE shared
session against a scale tile.

Why this exists: every family is swept individually in
tools/scale_bench.py, but a 100 TB job composes them, and session-
shared state (AQE coalescing history, broadcast thresholds, cached
exchange reuse, Python worker pool) could in principle change a
stage's plan or cost when another stage ran before it. This harness
measures exactly that: per-stage wall clock, cumulative shuffle
read/write bytes per stage (from the Spark status REST API), and a
plan audit per stage (broadcast joins present where expected, no
cartesian products, Python stages only where sanctioned) — run both
composed (one session) and, for the interaction check, compared
against the per-family sweeps' isolated numbers.

Usage: python tools/composed_bench.py [tile_dir]   (default t100)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from flink_framework_spark.session import configure_session  # noqa: E402

UI_PORT = 4049


def _build_spark() -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (
        SparkSession.builder.appName("ffs-composed-bench")
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UI on: the status REST API is the shuffle-bytes source
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .getOrCreate()
    )
    return configure_session(spark)


def _shuffle_totals(spark) -> tuple[int, int, int]:
    """(total shuffle write bytes, total read bytes, peak per-stage
    write) across all completed stages so far, via the status API.
    The base URL comes from the context (Spark silently retries
    4050+ when the configured port is bound — a constant would then
    query the wrong app)."""
    app_id = spark.sparkContext.applicationId
    base = spark.sparkContext.uiWebUrl
    url = f"{base}/api/v1/applications/{app_id}/stages"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    w = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    peak = max((s.get("shuffleWriteBytes", 0) for s in stages), default=0)
    return w, rd, peak


def _plan_audit(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoop"),
        "python_stages": sum(
            plan.count(s)
            for s in (
                "FlatMapGroupsInPandas",
                "ArrowEvalPython",
                "BatchEvalPython",
                "MapInPandas",
            )
        ),
    }


def main() -> None:
    tile = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scaledata/t100"
    spark = _build_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from flink_framework_spark.registry import all_queries

    qs = all_queries()
    stages = [
        ("curation_funnel", "q_curation_pipeline"),
        ("embed_near_dup_cells", "q_dedup_embed_cells"),
        ("bm25_index_topk", "q_bm25_topk"),
    ]
    out: dict = {"tile": tile, "stages": {}}
    prev_w = prev_r = 0
    for label, qname in stages:
        df = qs[qname].fn(spark, tile)
        audit = _plan_audit(df)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 2)
        w, rd, peak = _shuffle_totals(spark)
        out["stages"][label] = {
            "query": qname,
            "sec": dt,
            "shuffle_write_mb": round((w - prev_w) / 1e6, 1),
            "shuffle_read_mb": round((rd - prev_r) / 1e6, 1),
            **audit,
        }
        prev_w, prev_r = w, rd
        spark.catalog.clearCache()
    w, rd, peak = _shuffle_totals(spark)
    out["total_sec"] = round(
        sum(s["sec"] for s in out["stages"].values()), 2
    )
    out["total_shuffle_write_mb"] = round(w / 1e6, 1)
    out["peak_stage_shuffle_write_mb"] = round(peak / 1e6, 1)
    spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
