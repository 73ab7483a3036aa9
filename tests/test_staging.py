"""Staged frames are freed by the operator that made them.

Every operator that stages or cuts a frame releases, before it returns,
each one its result does not read (``flink_framework_spark.staging``).
``spark.catalog.clearCache`` frees staged frames but not cuts, so after
a run plus ``clearCache`` the only RDDs an operator leaves registered
are the cuts its result reads, and the result still reads the same
rows. A guard keeps ``staging`` the only module that persists, cuts or
frees a frame.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from flink_framework_spark.operators.cep import match_combinations
from flink_framework_spark.operators.iterative import (
    connected_components,
    coreness,
    kmeans_lloyd,
    pagerank,
    triangle_counts,
)
from flink_framework_spark.operators.skew import salted_join_targeted
from flink_framework_spark.streaming.late import LateSideOutputProcessor
from flink_framework_spark.streaming.sideout import DEFAULT_TAG, SideOutputRouter

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "flink_framework_spark"

# a 12-node path, a triangle with a tail, and a pair: labels and core
# numbers settle over several rounds, so each loop cuts several frames
EDGES = [(i, i + 1) for i in range(1, 12)] + [
    (20, 21), (21, 22), (22, 20), (22, 23), (30, 31)
]


def _edges(spark, a="src", b="dst"):
    return spark.createDataFrame(EDGES, f"{a} long, {b} long")


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _clicks(spark):
    return _events(
        spark,
        [
            (1, "2024-01-01 00:01:00", 0, "click"),
            (1, "2024-01-01 00:02:00", 1, "click"),
            (1, "2024-01-01 00:04:00", 5, "purchase"),
            (2, "2024-01-01 00:01:00", 6, "click"),
            (2, "2024-01-01 00:05:00", 7, "purchase"),
        ],
    )


def _null_key_clicks(spark):
    """Three null-key clicks push the window bound past ``level_cap``
    = 2, so the per-level probing loop runs; a null key joins nothing,
    so it ends at level 2 without raising."""
    rows = [(None, f"2024-01-01 00:0{i}:00", 10 + i, "click") for i in range(3)]
    rows += [(1, "2024-01-01 00:01:00", 0, "click"),
             (1, "2024-01-01 00:04:00", 5, "purchase")]
    return _events(spark, rows)


def _late_batch(spark):
    proc = LateSideOutputProcessor(order_cols=("arrival", "event_id"))
    batch = spark.createDataFrame(
        [(0, 0, "2024-01-01 01:00:00"), (1, 1, "2024-01-01 00:30:00"),
         (2, 2, "2024-01-01 00:55:00"), (3, 3, "2024-01-01 01:10:00")],
        "arrival long, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    proc(batch, 0)
    return lambda: sorted(proc.on_time_rows + proc.late_rows)


def _routed_batch(spark):
    router = SideOutputRouter({"even": F.col("id") % 2 == 0})
    router(spark.range(20), 0)
    return lambda: sorted(router.rows["even"] + router.rows[DEFAULT_TAG])


def _rows(df):
    return lambda: sorted(df.collect())


# (case, run(spark) -> collect(), cut frames the result reads)
CASES = [
    ("pagerank", lambda s: _rows(pagerank(_edges(s), n_iter=3)), 1),
    ("connected_components", lambda s: _rows(connected_components(_edges(s))), 1),
    (
        "connected_components_vertices",
        lambda s: _rows(connected_components(_edges(s), vertices=s.range(40))),
        1,
    ),
    # the initial degree state and the final state
    ("coreness", lambda s: _rows(coreness(_edges(s, "u", "v"))), 2),
    ("triangle_counts", lambda s: _rows(triangle_counts(_edges(s, "u", "v"))), 0),
    (
        "kmeans_lloyd",
        lambda s: _rows(
            kmeans_lloyd(
                s.createDataFrame(
                    [(i, [float(i % 5), float(i // 5)]) for i in range(20)],
                    "vec_id long, embedding array<double>",
                ),
                k=3,
                n_iter=2,
            )
        ),
        0,
    ),
    (
        "match_combinations_window_bound",
        lambda s: _rows(
            match_combinations(
                _clicks(s), step="click", then_step="purchase", within="30 MINUTES"
            )
        ),
        0,
    ),
    (
        "match_combinations_level_probes",
        lambda s: _rows(
            match_combinations(
                _null_key_clicks(s),
                step="click",
                then_step="purchase",
                within="30 MINUTES",
                level_cap=2,
            )
        ),
        0,
    ),
    (
        "skew_hot_keys_detected",
        lambda s: _rows(
            salted_join_targeted(
                s.range(200).select((F.col("id") % 3).alias("k"), "id"),
                s.range(3).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
                ["k"],
                salt=4,
                sample_frac=1.0,
            )
        ),
        0,
    ),
    ("late_side_output_batch", _late_batch, 0),
    ("side_output_router_batch", _routed_batch, 0),
]


@pytest.mark.parametrize(
    "run, cuts_read", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_operator_leaves_only_the_cuts_its_result_reads(spark, run, cuts_read):
    jsc = spark.sparkContext._jsc

    def registered() -> set[int]:
        return set(jsc.getPersistentRDDs().keys())

    before = registered()
    collect = run(spark)
    rows = collect()
    assert rows
    spark.catalog.clearCache()
    assert len(registered() - before) == cuts_read
    assert collect() == rows


def test_match_combinations_level_probes_return_the_combinations(spark):
    out = match_combinations(
        _null_key_clicks(spark),
        step="click",
        then_step="purchase",
        within="30 MINUTES",
        level_cap=2,
    )
    assert [(r.user_id, r.ids) for r in out.collect()] == [(1, [0])]


# the spellings that persist, cut or free a frame
STAGING_NAMES = {"persist", "cache", "checkpoint", "localCheckpoint", "unpersist"}


def test_only_staging_persists_cuts_or_frees():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "staging.py" and path.parent == PACKAGE:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            if name == "StorageLevel" or (
                name in STAGING_NAMES and isinstance(node, ast.Attribute)
            ):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {name}")
    assert not found, found
