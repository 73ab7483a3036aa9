"""Generated code is compiled once per JVM: a rerun of a query, or the
same pipeline at another whole-stage codegen stage id, hits Spark's
generated-class cache instead of running Janino again (see the
``session`` module docstring)."""

from __future__ import annotations

import time

from flink_framework_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    configure_session,
)


def _compiles(spark) -> int:
    """Janino compiles (generated-class cache misses) so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compiles_during(spark, action) -> int:
    before = _compiles(spark)
    action()
    return _compiles(spark) - before


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipelines_rerun_hits_codegen_cache(spark, sf_dir):
    """The ``perfbench`` pipelines pair generates more classes than
    Spark's default 100-entry cache holds (twice each in local mode:
    driver and executor class loaders), so with the default a rerun
    recompiles most of them (129 compiles on a rerun). A rerun may
    still meet a plan variant for the first time: q_pagerank builds one
    join pipeline with a nullable or a non-null stream-side key, varying
    from run to run; such a first sighting is a class or two, each
    compiled for both loaders."""
    from flink_framework_spark.registry import all_queries

    queries = all_queries()

    def run():
        for name in ("q_pagerank", "q_curation_pipeline"):
            try:
                queries[name].fn(spark, sf_dir).toPandas()
            finally:
                spark.catalog.clearCache()

    run()
    run()
    assert _compiles_during(spark, run) <= 4


def test_pipeline_at_two_stage_ids_compiles_once(spark):
    # a literal no earlier query in this JVM used, so the first run
    # must compile
    salt = time.time_ns()

    def pipeline():
        return spark.range(1000).selectExpr(
            f"id * 7 + {salt} AS x"
        ).where("x % 3 = 0")

    other = spark.range(10).selectExpr("id + 1 AS x")
    other.collect()
    alone = pipeline()
    # a union does not generate code: its children are stages 1 and 2
    unioned = other.unionByName(pipeline())
    assert "*(1) Filter" in _executed_plan(alone)
    assert "*(2) Filter" in _executed_plan(unioned)
    assert _compiles_during(spark, alone.collect) > 0
    assert _compiles_during(spark, unioned.collect) == 0


def test_engine_sessions_reuse_generated_classes(spark):
    key = "spark.sql.codegen.useIdInClassName"
    spark.conf.set(key, "true")
    try:
        configure_session(spark)
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, "false")
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
