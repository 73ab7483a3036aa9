"""Measure empirical scaling exponents: run the most expensive / most
scale-critical queries at 1x (sf0.1), 3x, and 10x tiled data
(tools/make_scale_data.py) and fit alpha in t ~ n^alpha from the
3x -> 10x segment (the 1x point is dominated by fixed per-query
overhead at these sizes). alpha <= ~1.1 = linear scale-out shape;
alpha near 2 = a quadratic blowup that would kill the operator at
100 TB. Results are recorded in SCALING.md.

Usage: python tools/scale_bench.py [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_framework_spark.registry import all_queries  # noqa: E402
from flink_framework_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = [
    "q_scan_counts",
    "q_agg_pricing",
    "q_join_multi",
    "q_win_topn",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_dedup_simhash128",
    "q_jaccard_topk",
    "q_sim_topk_ivf",
    "q_sim_topk_ivfpq",
    "q_retrieval_suite",
    "q_pagerank",
    "q_kcore",
    "q_triangles",
    "q_kmeans",
    "q_text_repetition",
    "q_text_tokens",
    "q_curation_suite",
    "q_dedup_spans",
    "q_dsir_weights",
    "q_curation_pipeline",
    "q_dedup_semantic@scaled_cells",
    "q_dedup_semantic_imi@scaled_cells",
    "q_sim_topk_ivf@scaled_cells",
    "q_sim_topk_imi@scaled_cells",
]


def _semantic_scaled(spark, sf_dir: str, tiles: int):
    """semantic_dedup under the documented deployment discipline:
    n_cells grows with the corpus (here 8 per tile) so per-cell
    pairwise work stays bounded — the registered query's fixed
    n_cells=8 would measure the k-too-small regime (pairs ~ N^2/k),
    a configuration artifact rather than the operator's scaling."""
    from flink_framework_spark.io import table
    from flink_framework_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    em = table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(em, n_cells=8 * tiles)
    return semantic_dedup(em, cents, eps=0.35)


def _semantic_imi_scaled(spark, sf_dir: str, tiles: int):
    """The IMI twin of _semantic_scaled at the SAME total cell count
    (k_per_half = ceil(sqrt(8 * tiles))): measures the claim that the
    two-level quantizer turns the flat O(N*k), k ∝ N assignment term
    into O(N*sqrt(k)) while the pruning stage stays identical."""
    import math

    from flink_framework_spark.io import table
    from flink_framework_spark.operators.similarity import (
        semantic_dedup_imi,
        train_imi,
    )

    em = table(spark, sf_dir, "embeddings")
    books = train_imi(em, k_per_half=math.ceil(math.sqrt(8 * tiles)))
    return semantic_dedup_imi(em, books, eps=0.35)


def _ivf_scaled(spark, sf_dir: str, tiles: int):
    """ivf_topk under the deployment discipline (n_cells ∝ N, fixed
    nprobe): per-query candidate count is then bounded by nprobe x
    target-cell-size regardless of corpus growth — the registered
    query's fixed n_cells=8 instead measures cells that grow linearly
    with the corpus (cost ∝ N even for a fixed query set)."""
    from flink_framework_spark.io import table
    from flink_framework_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )
    import pyspark.sql.functions as F

    em = table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(em, n_cells=8 * tiles)
    return ivf_topk(
        em.filter(F.col("vec_id") < 10),
        em,
        cents,
        k=5,
        nprobe=2,
    )


def _imi_topk_scaled(spark, sf_dir: str, tiles: int):
    """imi_topk under n_cells ∝ N (k_per_half = ceil(sqrt(8*tiles)))
    — the IMI twin of _ivf_scaled: same probed-cell budget, corpus
    assignment O(N*sqrt(k)) instead of O(N*k)."""
    import math

    from flink_framework_spark.io import table
    from flink_framework_spark.operators.similarity import (
        imi_topk,
        train_imi,
    )
    import pyspark.sql.functions as F

    em = table(spark, sf_dir, "embeddings")
    books = train_imi(em, k_per_half=math.ceil(math.sqrt(8 * tiles)))
    return imi_topk(
        em.filter(F.col("vec_id") < 10), em, books, k=5, nprobe=4
    )


def _semantic_inc_scaled(spark, sf_dir: str, tiles: int):
    """Rolling-ingest shape at scale: the LAST tile is the incoming
    batch, everything before it the accumulated corpus, n_cells sized
    to the combined volume. Measures the contract that per-round cost
    is |new| x cell-occupancy, not corpus x corpus."""
    from flink_framework_spark.io import table
    from flink_framework_spark.operators.similarity import (
        semantic_dedup_incremental,
        train_ivf_centroids,
    )
    import pyspark.sql.functions as F

    em = table(spark, sf_dir, "embeddings")
    # last tile = incoming batch (tile offset from make_scale_data);
    # at 1x split the single tile 3:1 instead
    cut = (tiles - 1) * 100_000 if tiles > 1 else 1500
    corpus = em.filter(F.col("vec_id") < cut)
    new = em.filter(F.col("vec_id") >= cut)
    cents = train_ivf_centroids(corpus, n_cells=8 * tiles)
    return semantic_dedup_incremental(new, corpus, cents, eps=0.35)


# name -> fn(spark, sf_dir, tiles); measured alongside the registered
# queries when the sweep needs a scale-aware configuration
CUSTOM = {
    "q_dedup_semantic@scaled_cells": _semantic_scaled,
    "q_dedup_semantic_imi@scaled_cells": _semantic_imi_scaled,
    "q_dedup_semantic_inc@scaled": _semantic_inc_scaled,
    "q_sim_topk_ivf@scaled_cells": _ivf_scaled,
    "q_sim_topk_imi@scaled_cells": _imi_topk_scaled,
}

SCALES = [
    ("/root/testdata/sf0.1", 1),
    ("/tmp/scaledata/t3", 3),
    ("/tmp/scaledata/t10", 10),
]
# deeper tiles are opt-in (generate with make_scale_data.py; picked up
# automatically when present) — t30 is 18M lineitem rows locally.
# SCALE_BENCH_MAX_TILE caps the sweep depth (e.g. 30 for the wide
# driver-50 table, where the 3->10->30 exponents are the deliverable
# and a 100x pass per query would dominate wall-clock).
_MAX_TILE = int(os.environ.get("SCALE_BENCH_MAX_TILE", "100"))
for _t in (30, 100):
    _d = f"/tmp/scaledata/t{_t}"
    if os.path.isdir(_d) and _t <= _MAX_TILE:
        SCALES.append((_d, _t))


def main() -> None:
    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark(app_name="scale-bench")
    qs = all_queries()
    # warm the JVM + Arrow workers like bench.py does
    qs["q_join_multi"].fn(spark, SCALES[0][0]).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, dict] = {}
    for name in names:
        row: dict = {"t": {}}
        for sf_dir, tiles in SCALES:
            t0 = time.perf_counter()
            frame = (
                CUSTOM[name](spark, sf_dir, tiles)
                if name in CUSTOM
                else qs[name].fn(spark, sf_dir)
            )
            frame.write.format("noop").mode("overwrite").save()
            row["t"][tiles] = round(time.perf_counter() - t0, 3)
            # per-query staged frames must not contaminate the next
            # measurement (same discipline as bench.py)
            spark.catalog.clearCache()
        t3, t10 = row["t"][3], row["t"][10]
        row["alpha_3_10"] = round(
            math.log(max(t10, 1e-3) / max(t3, 1e-3)) / math.log(10 / 3), 2
        )
        if 30 in row["t"]:
            row["alpha_10_30"] = round(
                math.log(max(row["t"][30], 1e-3) / max(t10, 1e-3))
                / math.log(3),
                2,
            )
        if 100 in row["t"] and 30 in row["t"]:
            row["alpha_30_100"] = round(
                math.log(max(row["t"][100], 1e-3) / max(row["t"][30], 1e-3))
                / math.log(100 / 30),
                2,
            )
        out[name] = row
        print(json.dumps({name: row}))
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
