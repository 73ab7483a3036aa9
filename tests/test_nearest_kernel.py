"""The one nearest-centroid kernel (``similarity._seq_d2`` +
``_nearest``, wrapped by the ``_nearest_cell`` pandas UDF) against its
reference, the ``array_min`` of the ``_cell_dists`` expression's
``struct(d, cell)`` array.

The corners are the ones where summation order or the tie/NaN rule
decides the pick: a NaN centroid beside an inf distance (NaN sorts
after inf), a NULL vector (null d sorts first: lowest cell, d null),
an all-NaN row (lowest cell, d NaN) and exact ties (lowest cell id).
Every entry point that assigns cells is then checked against the same
reference on a frame whose centroids hold a NaN (``_cell_assign``'s
corners are pinned in tests/test_kmeans.py).
"""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from flink_framework_spark.functions.helpers import round_duck, to_double_array
from flink_framework_spark.operators.similarity import (
    _cell_dists,
    _nearest_cell,
    semantic_dedup,
)

NAN = float("nan")

# cell ids deliberately out of order: the struct-min is by (d, cell)
# whatever order the centroids come in. Cells 2 and 3 are the same
# point (exact ties); cell 0 has a NaN component.
CENTS = [(3, [3.0, 4.0]), (0, [NAN, 0.0]), (1, [0.0, 0.0]), (2, [3.0, 4.0])]
VECS = [
    (1, [1.0, 0.0]),    # d(0) NaN, d(1) 1: the number wins
    (2, [1e200, 0.0]),  # d(0) NaN, d(1) overflows to inf: inf wins
    (3, None),          # NULL vector: all d null -> lowest cell, d null
    (4, [NAN, NAN]),    # all-NaN row: lowest cell, d NaN
    (5, [3.0, 4.0]),    # exact tie 2/3 at d 0 -> cell 2
    (6, [1.5, 2.0]),    # exact tie 1/2/3 at d 6.25 -> cell 1
]


def _bits(d):
    if d is None:
        return None
    return "nan" if math.isnan(d) else struct.pack("<d", d)


def _frame(spark, with_null=True):
    rows = [r for r in VECS if with_null or r[1] is not None]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _picks(df, b):
    """vec_id -> (cell, d bits) of the struct<cell, d> column ``b``."""
    return {
        r["vec_id"]: (r["c"], _bits(r["d"]))
        for r in df.select(
            "vec_id", b.getField("cell").alias("c"), b.getField("d").alias("d")
        ).collect()
    }


def _reference(df, cents):
    """The expression form's picks."""
    return _picks(
        df, F.array_min(_cell_dists(to_double_array("embedding"), cents))
    )


def test_nearest_cell_matches_expression_corners(spark):
    df = _frame(spark)
    want = _reference(df, CENTS)
    got = _picks(df, _nearest_cell(CENTS)(to_double_array("embedding")))
    assert got == want
    # the corners above, spelled out
    assert {k: c for k, (c, _) in want.items()} == {
        1: 1, 2: 1, 3: 0, 4: 0, 5: 2, 6: 1
    }
    assert want[3][1] is None and want[4][1] == "nan"


def test_semantic_dedup_cells_match_expression_on_nan_centroids(spark):
    df = _frame(spark, with_null=False)
    want = {k: c for k, (c, _) in _reference(df, CENTS).items()}
    got = {r["vec_id"]: r["cell"] for r in semantic_dedup(df, CENTS).collect()}
    assert got == want


@pytest.mark.parametrize("k", [8, 256])
def test_kmeans_pass_matches_expression_on_nan_frame(spark, sf_dir, k):
    """A NaN vector in the init sample becomes a NaN centroid (the
    farthest-first seeding picks it second), so every round and the
    final pass assign against it; the output must be the expression
    form's pick on the final centroids."""
    from flink_framework_spark.io import table
    from flink_framework_spark.operators.iterative import kmeans_lloyd

    em = table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("embedding")
    )
    poisoned = em.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10**6).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(NAN)).alias("embedding"),
    )
    df = em.unionByName(poisoned)
    out, cents = kmeans_lloyd(df, k=k, n_iter=2, return_centroids=True)
    assert any(math.isnan(x) for _, c in cents for x in c)
    b = F.array_min(_cell_dists(F.col("embedding"), cents))
    want = {
        r["vec_id"]: (r["c"], _bits(r["d"]))
        for r in df.select(
            "vec_id",
            b.getField("cell").cast("long").alias("c"),
            round_duck(b.getField("d"), 4).alias("d"),
        ).collect()
    }
    got = {r["vec_id"]: (r["cluster"], _bits(r["d2"])) for r in out.collect()}
    assert got == want


# two 2-dim half codebooks (IMI) == an m=2 PQ codebook set, each with a
# NaN code, an exact tie and a plain code
BOOKS = [
    [[NAN, 0.0], [0.0, 0.0], [3.0, 4.0], [3.0, 4.0]],
    [[1.0, 1.0], [NAN, NAN], [0.0, 0.0]],
]
HALF_VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [1e200, 0.0, 1e200, 1e200]),
    (3, [NAN, NAN, 1.0, 1.0]),
    (4, [3.0, 4.0, 0.5, 0.5]),
    (5, [1.5, 2.0, NAN, 0.0]),
]


def _half_frame(spark):
    return spark.createDataFrame(HALF_VECS, "vec_id long, v array<double>")


def _half_codes(df, books):
    """vec_id -> per-half expression-form codes."""
    dsub = len(books[0][0])
    cols = [
        F.array_min(
            _cell_dists(F.slice("v", s * dsub + 1, dsub), list(enumerate(b)))
        ).getField("cell").alias(f"c{s}")
        for s, b in enumerate(books)
    ]
    return {
        r["vec_id"]: tuple(r[f"c{s}"] for s in range(len(books)))
        for r in df.select("vec_id", *cols).collect()
    }


def test_imi_halves_match_expression_on_nan_codes(spark):
    from flink_framework_spark.operators.similarity import imi_assign_vec

    df = _half_frame(spark)
    k1 = len(BOOKS[1])
    want = {i: c0 * k1 + c1 for i, (c0, c1) in _half_codes(df, BOOKS).items()}
    got = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id", imi_assign_vec(BOOKS)(F.col("v")).alias("cell")
        ).collect()
    }
    assert got == want


def test_imi_first_probe_is_assigned_cell(spark, sf_dir):
    """The probe kernel's nearest product cell is the assignment
    kernel's cell (both read _seq_d2 half distances; d0 + d1 is the
    product-centroid distance)."""
    from flink_framework_spark.io import table
    from flink_framework_spark.operators.similarity import (
        _imi_probes_vec,
        imi_assign_vec,
        train_imi,
    )

    em = table(spark, sf_dir, "embeddings")
    books = train_imi(em, k_per_half=4)
    v = to_double_array("embedding")
    rows = em.select(
        imi_assign_vec(books)(v).alias("cell"),
        _imi_probes_vec(books, 3)(v).alias("p"),
    ).collect()
    assert rows and all(r["p"][0] == r["cell"] for r in rows)


def test_pq_codes_and_lut_match_expression_on_nan_codes(spark):
    from flink_framework_spark.operators.pq import (
        _adc_lut,
        _adc_lut_vec,
        pq_codes,
        pq_codes_vec,
    )

    df = _half_frame(spark)
    rows = df.select(
        "vec_id",
        pq_codes_vec(BOOKS)(F.col("v")).alias("kv"),
        pq_codes(F.col("v"), BOOKS).alias("ke"),
        _adc_lut_vec(BOOKS)(F.col("v")).alias("lv"),
        _adc_lut(F.col("v"), BOOKS).alias("le"),
    ).collect()
    want = _half_codes(df, BOOKS)
    for r in rows:
        assert tuple(r["kv"]) == tuple(r["ke"]) == want[r["vec_id"]]
        # Arrow's pandas conversion reads a NaN inside a nested list
        # as null, so the vec LUT carries null where the expression
        # has NaN; every other entry is the same double
        for tv, te in zip(r["lv"], r["le"]):
            assert [None if _bits(e) == "nan" else _bits(v)
                    for v, e in zip(tv, te)] == [
                None if _bits(e) == "nan" else _bits(e) for e in te
            ]
