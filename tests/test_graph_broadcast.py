"""The graph loops size their node-sized join sides from exact node
counts (``operators.iterative._broadcast_if_fits``): broadcast while
they fit the session's ``spark.sql.autoBroadcastJoinThreshold``, so the
static edge frame is never shuffled per round; the sort-merge plan a
large graph keeps must return the same rows."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from flink_framework_spark.operators.iterative import (
    _broadcast_if_fits,
    connected_components,
    coreness,
    pagerank,
    triangle_counts,
)

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

# q_pagerank's build on the sf0.001 fixture: 8 SQL executions (edge and
# out-degree checkpoints, the node count, five rounds, the first of
# which also stages the partitioned edge frame) in 23 jobs, 21 once the
# session has built it before; with every node-sized join side planned
# as a sort-merge join and a shuffle per round it ran 50
PAGERANK_BUILD_JOBS = 23


def test_pagerank_build_jobs_pinned(spark, sf_dir, group_jobs):
    from flink_framework_spark.registry import all_queries

    q = all_queries()["q_pagerank"]
    try:
        jobs = group_jobs(lambda: q.fn(spark, sf_dir))
    finally:
        spark.catalog.clearCache()
    assert len(jobs) <= PAGERANK_BUILD_JOBS


def _with_threshold(spark, value, fn):
    before = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        return fn()
    finally:
        spark.conf.set(THRESHOLD, before)


def test_broadcast_rule_follows_session_threshold(spark):
    df = spark.range(10).select("id", (F.col("id") * 2).alias("r"))
    size = 10 * (8 + 8 + 8)  # rows x (row overhead + two bigint fields)

    def hinted(threshold: int) -> bool:
        return _with_threshold(
            spark, str(threshold), lambda: _broadcast_if_fits(df, 10) is not df
        )

    assert hinted(size)
    assert not hinted(size - 1)
    assert not hinted(0)
    assert not hinted(-1)


@pytest.fixture(scope="module")
def graph(spark):
    """A deterministic random graph: distinct (u < v) pairs over 60
    nodes."""
    rng = random.Random(11)
    pairs = sorted(
        {tuple(sorted(rng.sample(range(60), 2))) for _ in range(180)}
    )
    return pairs, spark.createDataFrame(pairs, "u long, v long")


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "run",
    [
        lambda g: pagerank(g.select(F.col("u").alias("src"),
                                    F.col("v").alias("dst")), n_iter=4),
        lambda g: pagerank(
            g.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            n_iter=4, handle_dangling=False,
        ),
        lambda g: connected_components(
            g.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        ),
        lambda g: connected_components(
            g.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            vertices=g.sparkSession.range(70),
        ),
        lambda g: coreness(g),
        lambda g: triangle_counts(g),
    ],
    ids=["pagerank", "pagerank_no_dangling", "connected_components",
         "connected_components_vertices", "coreness", "triangle_counts"],
)
def test_graph_loops_equal_without_broadcast(spark, graph, run):
    _, g = graph
    try:
        default = _rows(run(g))
        never = _with_threshold(spark, "-1", lambda: _rows(run(g)))
    finally:
        spark.catalog.clearCache()
    assert default
    assert never == default


def _fixed_point_pagerank_sources_only(edges, n_iter, damping=85):
    """``pagerank(handle_dangling=False)``'s row set and values: the
    nodes are the sources, an edge into a node without out-edges
    carries no rank, and every division floors."""
    scale = 10**12
    nodes = sorted({s for s, _ in edges})
    n = len(nodes)
    od = {s: sum(1 for a, _ in edges if a == s) for s in nodes}
    base = ((100 - damping) * scale) // (100 * n)
    r = dict.fromkeys(nodes, scale // n)
    for _ in range(n_iter):
        s_in = dict.fromkeys(nodes, 0)
        for s, d in edges:
            if d in s_in:
                s_in[d] += r[s] // od[s]
        r = {v: base + (damping * s_in[v]) // 100 for v in nodes}
    return {v: round(r[v] / scale, 6) for v in nodes}


def test_pagerank_without_dangling_keeps_source_rows(spark):
    # 7 has no out-edge and 4 no in-edge: 7 gets no row, 4 keeps one
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (3, 7), (4, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, n_iter=3, handle_dangling=False).collect()
    }
    assert got == _fixed_point_pagerank_sources_only(edges, n_iter=3)
    assert set(got) == {1, 2, 3, 4}
