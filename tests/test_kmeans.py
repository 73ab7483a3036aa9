"""Distributed Lloyd's k-means (operators.iterative.kmeans_lloyd):
exact-recovery on separable blobs, determinism across partitioning,
empty-cluster behavior."""

from __future__ import annotations

import pytest

from flink_framework_spark.operators.iterative import kmeans_lloyd


def _blobs(spark, centers, n_per, spread=0.05):
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for j in range(n_per):
            # deterministic jitter, alternating sign per dim
            vec = [
                x + spread * ((-1) ** (vid + d)) * ((j % 5) / 5.0)
                for d, x in enumerate(c)
            ]
            rows.append((vid, vec, ci))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding", "blob"])


def test_kmeans_recovers_separated_blobs(spark):
    centers = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0]]
    df = _blobs(spark, centers, n_per=20)
    out = kmeans_lloyd(df, k=3, n_iter=4).toPandas()
    truth = df.select("vec_id", "blob").toPandas()
    m = out.merge(truth, on="vec_id")
    # each blob maps to exactly one cluster and vice versa
    mapping = m.groupby("blob")["cluster"].nunique()
    assert (mapping == 1).all()
    assert m["cluster"].nunique() == 3
    # tight blobs: every point within spread of its centroid
    assert (m["d2"] < 1.0).all()


def test_kmeans_deterministic_across_partitioning(spark, sf_dir):
    from flink_framework_spark.io import table

    emb = table(spark, sf_dir, "embeddings")
    a = (
        kmeans_lloyd(emb.repartition(3), k=4, n_iter=2)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    b = (
        kmeans_lloyd(emb.repartition(17), k=4, n_iter=2)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_kmeans_empty_cluster_keeps_seed_centroid(spark):
    # two distinct points, k=3: the third seed never wins any point,
    # its cluster stays empty and the loop must not crash
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [5.0, 5.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_lloyd(df, k=3, n_iter=3).toPandas()
    assert len(out) == 4
    assert set(out["cluster"]) <= {0, 1, 2}
    assert (out["d2"] == 0.0).all()


def test_kmeans_empty_input_raises(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        kmeans_lloyd(df, k=2, n_iter=1)


def test_kmeans_kernel_bitwise_matches_expression_at_large_k(spark, sf_dir):
    """Large-k safety: at k=256 over the embeddings fixture (more
    centroids than the literal-centroid expression is meant for,
    small enough to run it) every k-means pass is the expression
    form's struct-min bit for bit — the kernel's (cell, d) on the
    final centroids equals ``array_min(_cell_dists(...))``, and the
    operator's (cluster, d2) output is that pick. Both k=256 and the
    golden-pinned k=8 plan the kernel as an ArrowEvalPython stage,
    never BatchEvalPython."""
    import struct as st

    from pyspark.sql import functions as F

    from flink_framework_spark.functions.helpers import round_duck
    from flink_framework_spark.io import table
    from flink_framework_spark.operators.similarity import (
        _cell_dists,
        _nearest_cell,
        to_double_array,
    )

    emb = table(spark, sf_dir, "embeddings")
    out, cents = kmeans_lloyd(emb, k=256, n_iter=2, return_centroids=True)
    assert len(cents) == 256
    staged = emb.select("vec_id", to_double_array("embedding").alias("__v"))
    expr = staged.select(
        "vec_id", F.array_min(_cell_dists(F.col("__v"), cents)).alias("b")
    )
    kern = staged.select("vec_id", _nearest_cell(cents)(F.col("__v")).alias("b"))
    e = {r["vec_id"]: r["b"] for r in expr.collect()}
    kv = {r["vec_id"]: r["b"] for r in kern.collect()}
    assert set(e) == set(kv)
    for i in e:
        assert e[i]["cell"] == kv[i]["cell"], i
        assert st.pack("<d", e[i]["d"]) == st.pack("<d", kv[i]["d"]), i
    want = {
        r["vec_id"]: (r["c"], r["d"])
        for r in expr.select(
            "vec_id",
            F.col("b.cell").cast("long").alias("c"),
            round_duck(F.col("b.d"), 4).alias("d"),
        ).collect()
    }
    got = {r["vec_id"]: (r["cluster"], r["d2"]) for r in out.collect()}
    assert got == want
    for k in (256, 8):
        plan = kmeans_lloyd(
            emb, k=k, n_iter=1
        )._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan, k
        assert "BatchEvalPython" not in plan, k


def test_seq_kernel_bitwise_matches_expression(spark, sf_dir):
    """The Arrow replacement for the literal-centroid expression
    must be BIT-IDENTICAL, not merely close: _seq_d2 reproduces the
    expression's fold-left summation order, so (cell, d) agree
    bitwise on real fixture vectors — the invariant that lets the
    frozen trajectories and live oracles pin the expression form
    while the plan runs the kernel."""
    import struct as st

    from pyspark.sql import functions as F

    from flink_framework_spark.io import table
    from flink_framework_spark.operators.similarity import (
        _cell_dists,
        _nearest_cell,
        to_double_array,
    )

    emb = table(spark, sf_dir, "embeddings")
    staged = emb.select("vec_id", to_double_array("embedding").alias("__v"))
    rows = staged.orderBy("vec_id").limit(8).collect()
    cents = [(i, list(r["__v"])) for i, r in enumerate(rows)]
    expr = {
        r["vec_id"]: (r["__b"]["cell"], r["__b"]["d"])
        for r in staged.select(
            "vec_id",
            F.array_min(_cell_dists(F.col("__v"), cents)).alias("__b"),
        ).collect()
    }
    kern = {
        r["vec_id"]: (r["__b"]["cell"], r["__b"]["d"])
        for r in staged.select(
            "vec_id",
            _nearest_cell(cents)(F.col("__v")).alias("__b"),
        ).collect()
    }
    assert set(expr) == set(kern)
    for k in expr:
        assert int(expr[k][0]) == int(kern[k][0]), k
        assert st.pack("<d", expr[k][1]) == st.pack("<d", kern[k][1]), k


def test_cell_only_kernel_matches_expression_corners(spark):
    """_cell_assign (the cell-only use of the _nearest_cell kernel)
    must replicate the expression form on the corners too: NULL
    vector -> lowest cell id (null d sorts first in array_min), NaN
    vector -> lowest cell id (NaN sorts last, all-NaN picks position
    0), ties -> lowest id; with a NaN centroid, a number or an inf
    distance beats its NaN distance."""
    from pyspark.sql import functions as F

    from flink_framework_spark.operators.similarity import (
        _cell_assign,
        _cell_dists,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None), (3, [nan, 1.0]),
         (4, [5.0, 4.9]), (5, [0.5, 1.0]), (6, [1.0, 0.0]),
         (7, [1e200, 0.0])],
        "id long, v array<double>",
    )
    for cents in (
        [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0])],
        [(0, [nan, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0])],
    ):
        expr = {
            r["id"]: r["cell"]
            for r in df.select(
                "id",
                F.coalesce(
                    F.array_min(_cell_dists(F.col("v"), cents)).getField(
                        "cell"
                    ),
                    F.lit(-1),
                ).alias("cell"),
            ).collect()
        }
        kern = {
            r["id"]: r["cell"]
            for r in _cell_assign(df, cents, "v", "cell").collect()
        }
        assert expr == kern, cents
