"""A staged frame is stored in data-sized partitions: AQE coalesces the
last shuffle of a persisted plan, so a stage that scans a small staged
frame runs at most ``defaultParallelism`` tasks, not one per shuffle
partition (see the ``session`` module docstring)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from flink_framework_spark.operators.dedup import _staged
from flink_framework_spark.session import configure_session

CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _stage_tasks(spark, action) -> list[int]:
    """Tasks run by each stage of the jobs of ``action`` (0 for a
    skipped stage)."""
    sc = spark.sparkContext
    group = f"staged-partitions-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return [
        tracker.getStageInfo(stage).numCompletedTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    ]


def test_staged_aggregate_is_scanned_in_few_tasks(spark):
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parallelism = spark.sparkContext.defaultParallelism
    # so a scan of every shuffle partition would break the bound below
    assert shuffle > parallelism
    staged = _staged(
        spark.range(2000)
        .withColumn("k", F.col("id") % 50)
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    )
    try:
        assert staged.count() == 50
        tasks = _stage_tasks(spark, staged.collect)
        assert tasks
        assert max(tasks) <= parallelism
        assert sorted((r.k, r.n) for r in staged.collect()) == [
            (k, 40) for k in range(50)
        ]
    finally:
        staged.unpersist()


def test_configure_session_lets_aqe_coalesce_cached_plans(spark):
    spark.conf.set(CONF, "false")
    try:
        configure_session(spark)
        assert spark.conf.get(CONF) == "true"
    finally:
        spark.conf.set(CONF, "true")
