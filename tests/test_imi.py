"""Inverted multi-index (IMI) coarse quantizer for SemDeDup.

The cell id is pure structure (code0 * k1 + code1), so the strongest
check is independent recomputation: rebuild both half-argmins with the
literal-codebook expression form (``_cell_dists`` over each half) from
the returned codebooks and require every assigned cell to match.
The pruning stage is ``_semantic_prune`` — the exact code path the
flat-IVF SemDeDup golden and its DuckDB recheck already pin — so the
tests here focus on the quantizer and the end-to-end dedup contract
(planted duplicates must drop regardless of which product cell they
land in).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_framework_spark.io import table
from flink_framework_spark.operators.similarity import (
    _cell_dists,
    imi_assign_vec,
    semantic_dedup,
    semantic_dedup_imi,
    train_imi,
    train_ivf_centroids,
)


def test_train_imi_deterministic_and_shaped(spark, sf_dir):
    em = table(spark, sf_dir, "embeddings")
    books = train_imi(em, k_per_half=3)
    assert len(books) == 2
    assert all(len(b) == 3 for b in books)
    dim = len(em.select("embedding").first()[0])
    assert all(len(c) == dim // 2 for b in books for c in b)
    assert train_imi(em, k_per_half=3) == books


def test_imi_cells_match_expression_form(spark, sf_dir):
    em = table(spark, sf_dir, "embeddings")
    books = train_imi(em, k_per_half=4)
    dsub = len(books[0][0])

    def half(s):
        return F.array_min(
            _cell_dists(
                F.slice("v", s * dsub + 1, dsub), list(enumerate(books[s]))
            )
        ).getField("cell")

    rows = (
        em.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("cell", imi_assign_vec(books)(F.col("v")))
        .withColumn("want", half(0) * len(books[1]) + half(1))
        .collect()
    )
    assert rows and all(r.cell == r.want for r in rows)


def test_semantic_dedup_imi_drops_planted_duplicates(spark, sf_dir):
    """Exact duplicate vectors quantize identically in both halves, so
    they must land in the same product cell and drop with dup_of
    pointing at the lower-id original."""
    em = table(spark, sf_dir, "embeddings")
    n = em.count()
    planted = em.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = em.unionByName(planted)
    books = train_imi(em, k_per_half=3)
    out = semantic_dedup_imi(corpus, books, eps=0.35)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == n + 20
    for i in range(20):
        r = rows[100000 + i]
        assert r.kept == 0
        assert r.dup_of is not None and r.dup_of <= i
        assert rows[i].cell == r.cell


def test_ivf_cells_bitwise_match_expression_form(spark, sf_dir):
    """IVF corpus cells at n_cells 8 and 64 are the literal-centroid
    expression's struct-min bit for bit: the kernel's (cell, d) equals
    ``array_min(_cell_dists(...))`` and ``_cell_assign`` (the cells
    ``ivf_topk`` joins on) returns that cell."""
    import struct as st

    from flink_framework_spark.functions.helpers import to_double_array
    from flink_framework_spark.io import table as t
    from flink_framework_spark.operators.similarity import (
        _cell_assign,
        _nearest_cell,
    )

    em = t(spark, sf_dir, "embeddings")
    v = to_double_array("embedding")
    for n_cells in (8, 64):
        cents = train_ivf_centroids(em, n_cells=n_cells)
        assert len(cents) == n_cells
        rows = em.select(
            "vec_id",
            F.array_min(_cell_dists(v, cents)).alias("e"),
            _nearest_cell(cents)(v).alias("k"),
        ).collect()
        expr = {r.vec_id: r.e.cell for r in rows}
        for r in rows:
            assert r.e.cell == r.k.cell, (n_cells, r.vec_id)
            assert st.pack("<d", r.e.d) == st.pack("<d", r.k.d), r.vec_id
        assigned = {
            r.vec_id: r.c
            for r in _cell_assign(em, cents, "embedding", "c")
            .select("vec_id", "c")
            .collect()
        }
        assert assigned == expr, n_cells


def test_imi_topk_recall_vs_brute_force(spark, sf_dir):
    """IMI-celled kNN recall against exact brute force at two probe
    depths (measured 0.84/0.92 at sf0.001, 0.64/0.90 at sf0.01 —
    floors leave margin), every query returning exactly k rows, and
    scores exact (the scoring kernel is the same exact cosine)."""
    from collections import Counter

    from flink_framework_spark.operators.similarity import (
        brute_force_topk,
        imi_topk,
    )

    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 10)
    books = train_imi(em, k_per_half=3)
    exact = {
        (r.query_id, r.neighbor_id): r.cosim
        for r in brute_force_topk(q, em, k=50).collect()
    }
    e5 = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, em, k=5).collect()
    }
    for nprobe, floor in ((4, 0.6), (6, 0.8)):
        rows = imi_topk(q, em, books, k=5, nprobe=nprobe).collect()
        a = {(r.query_id, r.neighbor_id) for r in rows}
        assert len(a & e5) / len(e5) >= floor, (nprobe, len(a & e5))
        per_q = Counter(p for p, _ in a)
        assert set(per_q.values()) == {5}
        for r in rows:
            if (r.query_id, r.neighbor_id) in exact:
                assert abs(r.cosim - exact[(r.query_id, r.neighbor_id)]) < 1e-9


def test_imi_topk_deterministic_under_partitioning(spark, sf_dir):
    from flink_framework_spark.operators.similarity import imi_topk

    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 10)
    books = train_imi(em, k_per_half=3)
    a = sorted(tuple(r) for r in imi_topk(q, em, books).collect())
    b = sorted(
        tuple(r) for r in imi_topk(q, em.repartition(7), books).collect()
    )
    assert a == b


def test_imi_and_flat_prune_agree_given_same_cells(spark, sf_dir):
    """Sanity cross-check of the refactor: the flat-IVF SemDeDup
    (whose golden + DuckDB recheck pin `_semantic_prune`) and the IMI
    form run THE SAME prune stage, so restricting both outputs to
    vectors that happen to share a cell partner set gives identical
    keep decisions. Verified indirectly: every drop in each output is
    witnessed by a same-cell lower id at cosine >= eps in numpy."""
    em = table(spark, sf_dir, "embeddings")
    books = train_imi(em, k_per_half=3)
    cents = train_ivf_centroids(em, n_cells=8)
    vecs = {
        r.vec_id: np.asarray(r.v, dtype=np.float64)
        for r in em.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).collect()
    }

    def check(out):
        rows = out.collect()
        by_cell: dict[int, list] = {}
        for r in rows:
            by_cell.setdefault(r.cell, []).append(r.vec_id)
        for r in rows:
            mates = [
                i for i in by_cell[r.cell] if i < r.vec_id
            ]
            v = vecs[r.vec_id]
            v = v / np.linalg.norm(v)
            best = None
            for i in sorted(mates):
                u = vecs[i] / np.linalg.norm(vecs[i])
                if float(u @ v) >= 0.35:
                    best = i
                    break
            if best is None:
                assert r.kept == 1 and r.dup_of is None, r
            else:
                assert r.kept == 0 and r.dup_of == best, r

    check(semantic_dedup_imi(em, books, eps=0.35))
    check(semantic_dedup(em, cents, eps=0.35))


def test_train_imi_rejects_odd_dimension(spark):
    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1), float(i + 2)]) for i in range(8)],
        "vec_id int, embedding array<float>",
    )
    with pytest.raises(ValueError, match="odd"):
        train_imi(df, k_per_half=2)
