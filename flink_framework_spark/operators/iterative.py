"""Iterative computation — the Flink ``iterate()`` surface (SURVEY.md
§2 [F]: DataStream/DataSet iterations) in Spark's model: a
driver-coordinated loop of declarative steps with a convergence check,
lineage cut per round (``localCheckpoint``) so plans don't grow
unboundedly — the standard Pregel-lite shape on Spark.

``connected_components``: min-label propagation over an undirected
edge list. Per round: one shuffle join (labels ⋈ edges) + one
aggregation; rounds ≤ graph diameter. At 100 TB-scale graphs one adds
large-star/small-star optimizations, but the loop skeleton is the
same.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_framework_spark.functions.helpers import round_duck


@contextmanager
def _shuffle_sized_to(spark, n_rows: int, rows_per_task: int = 150_000):
    """Temporarily size ``spark.sql.shuffle.partitions`` to the loop's
    measured per-round data volume (never above the session setting),
    restoring it on exit.

    Iterative loops here eagerly materialize every round inside the
    operator (``localCheckpoint``), so all sized shuffles happen while
    the override is active; the escaping result frame is a narrow
    projection. Why this exists: the per-round frames are usually tiny
    (node/label tables), and AQE's default
    ``coalescePartitions.parallelismFirst=true`` deliberately keeps
    tiny shuffles at full parallelism — 32 near-empty tasks per
    exchange, several exchanges per round, which at local[32]/sf0.1
    made fixed task-scheduling latency ~half of PageRank's wall clock
    (measured 6.8 s -> 3.7 s with sized shuffles, bit-identical
    output). On a 100 TB graph ``n_rows`` is huge, the cap at the
    session setting wins, and this is a no-op — the knob only ever
    *removes* empty tasks, mirroring how a cluster deployment sizes
    shuffle partitions to data volume.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    p = max(1, min(int(old), (n_rows + rows_per_task - 1) // rows_per_task))
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        yield p
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    vertices: DataFrame | None = None,
    vertex_id: str = "id",
) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``edges`` is an undirected edge list (long ids). Returns
    ``(id, component)``. Converges in at most ``max_iter`` rounds or
    raises if the diameter exceeds it.

    Every endpoint appearing in ``edges`` is labeled — including nodes
    whose only edges are self-loops (singleton components). Nodes with
    no edges at all cannot be discovered from the edge list; pass the
    optional ``vertices`` DataFrame to label isolated nodes as
    singleton components too.
    """
    from flink_framework_spark.operators.dedup import _staged

    # the union references `edges` in BOTH branches — without staging,
    # Spark executes the caller's whole upstream pipeline twice (for
    # dedup_clusters that is the full MinHash pass; measured ~2x at
    # the 30x tile). Same branch-duplication rule as SCALING.md.
    e = _staged(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # seed labels from BOTH endpoints before dropping self-loops, so
    # self-loop-only nodes still appear (as singletons)
    seeds = und.select(F.col("a").alias("id"))
    if vertices is not None:
        seeds = seeds.unionByName(vertices.select(F.col(vertex_id).alias("id")))
    und = und.filter(F.col("a") != F.col("b")).distinct().localCheckpoint()

    with _shuffle_sized_to(edges.sparkSession, und.count()):
        labels = (
            seeds.distinct()
            .withColumn("component", F.col("id"))
            .localCheckpoint()
        )
        # both consumers of the staged edge frame (und, labels) are
        # checkpointed now — drop the cache so repeated calls in a
        # long-lived session don't accumulate dead storage
        e.unpersist()

        # NOTE (r12): batching two rounds per probe — the move that
        # helped coreness — was A/B'd here and measured SLOWER (min-of-4
        # on the q_dedup_clusters edge set: 1.89 s per-round vs 2.32 s
        # batched): min-label propagation converges in very few rounds
        # on near-dup graphs, so block overshoot wastes proportionally
        # more than the probe it saves. Keep per-round probes.
        for _ in range(max_iter):
            neighbor_min = (
                und.join(labels, und.b == labels.id)
                .groupBy(F.col("a").alias("id"))
                .agg(F.min("component").alias("nbr_min"))
            )
            # Carry the previous label alongside the new one so the
            # convergence check is a narrow filter-count over the already
            # checkpointed rows (1 tiny job) instead of a second shuffle
            # join against the old labels (which doubled per-round cost).
            stepped = (
                labels.join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.col("component").alias("__prev"),
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_min", F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint()
            )
            changed = stepped.filter(
                F.col("component") != F.col("__prev")
            ).count()
            labels = stepped.drop("__prev")
            if changed == 0:
                return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    return_centroids: bool = False,
) -> DataFrame | tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Distributed Lloyd's k-means over a vector column — the classic
    dataset-iteration example, in Spark's model: per round one narrow
    assignment map (literal centroids, no join/shuffle — the same
    nearest-centroid kernel the IVF index uses) plus one
    shuffle aggregate of k*dim partial sums; the k*dim centroid
    update is the only driver round-trip (bounded, independent of
    corpus size).

    Fully deterministic — golden-snapshot safe:

    - init: farthest-first traversal (maxmin seeding) from the
      lowest-id vector, computed driver-side over a BOUNDED
      deterministic sample (lowest ``init_cap`` ids — the same
      train_cap discipline as ``train_ivf_centroids``): no RNG, it
      cannot seed every centroid inside one cluster, and it costs
      one capped collect instead of k passes over the corpus;
    - a fixed ``n_iter`` rounds (no data-dependent stopping);
    - centroid updates sum components as DECIMAL, which Spark
      aggregates exactly (order-independent), so the result does not
      depend on partitioning — a plain double sum would drift by ulps
      between runs and flip boundary assignments;
    - the final division happens driver-side in ``decimal.Decimal``.

    Returns (id, cluster, d2) — final assignment and its squared L2
    distance, rounded. Every distance — seeding, rounds, final pass —
    is ``similarity._seq_d2``'s sequential fold, bit-identical to the
    ``_cell_dists`` expression at any k.
    """
    from flink_framework_spark.operators.similarity import (
        _nearest_cell,
        _seq_d2,
        to_double_array,
    )

    import numpy as np

    init_cap = 4096
    # every Lloyd round re-reads this narrow (id, vector) projection —
    # n_iter + 2 passes total (init sample, per-round assignment, the
    # final assignment). Persist it so the parquet scan + array
    # conversion run once (r11, guide §5 caching: genuinely reused,
    # compact — ids + fixed-width arrays; same discipline as
    # operators.dedup._staged, reclaimed by the caller's clearCache).
    from pyspark import StorageLevel

    staged = df.select(
        F.col(id_col), to_double_array(vec_col).alias("__v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sample = staged.orderBy(id_col).limit(init_cap).collect()
    if not sample:
        raise ValueError("cannot run k-means on an empty input")
    X = np.array([r["__v"] for r in sample], dtype=np.float64)
    picked = [0]
    dmin = _seq_d2(X, X[:1])[:, 0]
    while len(picked) < min(k, len(X)):
        dmin[picked[-1]] = -np.inf  # a seed is never picked again
        # argmax: a NaN distance (a NaN vector) is the farthest, and
        # ties go to the lowest index
        nxt = int(dmin.argmax())
        picked.append(nxt)
        # fmin: a NaN seed's distances must not erase everyone else's
        dmin = np.fmin(dmin, _seq_d2(X, X[nxt : nxt + 1])[:, 0])
    centroids = [
        (i, [float(x) for x in X[p]]) for i, p in enumerate(picked)
    ]

    # the per-round stats shuffle carries k*dim partially-aggregated
    # rows per map task — size its reduce side to that volume, not the
    # session default (r11; same rationale as _shuffle_sized_to's
    # docstring: the override only ever removes near-empty tasks)
    dim = len(centroids[0][1]) if centroids else 1
    ctx = _shuffle_sized_to(df.sparkSession, k * dim)
    with ctx:
        for _ in range(n_iter):
            assigned = staged.withColumn(
                "__c", _nearest_cell(centroids)(F.col("__v")).getField("cell")
            )
            stats = (
                assigned.select(
                    "__c", F.posexplode("__v").alias("__pos", "__val")
                )
                .groupBy("__c", "__pos")
                .agg(
                    F.sum(F.col("__val").cast("decimal(28,14)")).alias("__s"),
                    F.count(F.lit(1)).alias("__n"),
                )
                .collect()
            )
            dims: dict[int, dict[int, float]] = {}
            for r in stats:
                dims.setdefault(r["__c"], {})[r["__pos"]] = float(
                    r["__s"] / r["__n"]
                )
            centroids = [
                (
                    c,
                    [dims[c][p] for p in range(len(old))]
                    if c in dims  # empty cluster keeps its old centroid
                    else old,
                )
                for c, old in centroids
            ]

    # two-step select so the kernel is evaluated once per row
    best = staged.select(
        F.col(id_col), _nearest_cell(centroids)(F.col("__v")).alias("__best")
    )
    result = best.select(
        F.col(id_col),
        F.col("__best.cell").cast("long").alias("cluster"),
        round_duck(F.col("__best.d"), 4).alias("d2"),
    )
    if return_centroids:
        # expose the final (cell, centroid) artifact so independent
        # checkers (tests/test_oracle_independent.py) can re-verify
        # assignment optimality in a different engine
        return result, centroids
    return result


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping: int = 85,
    handle_dangling: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """PageRank power iteration over a directed edge list, in exact
    fixed-point arithmetic so the result is deterministic under any
    partitioning (golden-snapshot safe).

    Ranks are carried as int64 scaled by 1e12: integer sums are exact
    and order-independent, and every division is a floor div — the
    per-op bias is ~1e-12, invisible at the 6-decimal output rounding
    but (unlike double summation) identical on every run.

    Per round: one join of the static (src, dst, outdeg) edge frame
    against the current ranks (Catalyst broadcasts the small rank
    side; the big edge frame never moves), a partial-aggregated sum
    per destination, and a lineage-cut ``localCheckpoint``. With
    ``handle_dangling`` the mass of nodes without out-edges is
    redistributed uniformly (one extra 1-row aggregate per round);
    pass ``False`` for graphs where every node has an out-edge (e.g.
    bidirectional edge lists) to skip that job AND derive the node
    set from sources only (halves the node-dedup shuffle).
    ``assume_distinct`` skips the defensive edge dedup for callers
    whose edge list is already distinct.

    Returns (id, rank) with rank rounded to 6 decimals; ranks sum to
    ~1 over the node set.
    """
    SCALE = 10**12
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if not assume_distinct:  # callers that pre-deduped skip a full shuffle
        e = e.distinct()
    # Stage the edge list ONCE before fanning out (r11, guide §2.4):
    # outdeg, the static joined frame, and the node set each consume
    # ``e`` — unstaged, the caller's whole upstream (for q_pagerank:
    # orders x lineitem -> distinct -> union, the most expensive part
    # of the query) executed once PER consumer; measured ~4 full
    # recomputations inside the setup at sf0.1.
    e = e.localCheckpoint()
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    e2 = e.join(outdeg, "s").localCheckpoint()
    # handle_dangling=False asserts every node has an out-edge, so the
    # node set is exactly outdeg's key column — already distinct by
    # construction, no dedup shuffle at all (r11; previously a
    # distinct over the full source column).
    node_src = (
        outdeg.select(F.col("s").alias("id"))
        if not handle_dangling
        else e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
    )
    with _shuffle_sized_to(edges.sparkSession, e2.count()):
        nodes = node_src.localCheckpoint()
        n = nodes.count()
        if n == 0:
            raise ValueError("cannot run pagerank on an empty edge list")
        base = ((100 - damping) * SCALE) // (100 * n)
        ranks = nodes.withColumn("r", F.lit(SCALE // n).cast("long"))

        for _ in range(n_iter):
            if handle_dangling:
                dang = (
                    ranks.join(outdeg, ranks.id == outdeg.s, "left_anti")
                    .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long"))
                    .collect()[0][0]
                )
            else:
                dang = 0
            contrib = e2.join(ranks, e2.s == ranks.id).select(
                F.col("d").alias("id"), F.expr("r div od").alias("c")
            )
            in_sum = contrib.groupBy("id").agg(F.sum("c").alias("s_in"))
            ranks = nodes.join(in_sum, "id", "left").select(
                "id",
                F.expr(
                    f"{base}L + (({damping}L * (coalesce(s_in, 0L)"
                    f" + {dang // n}L)) div 100)"
                ).alias("r"),
            )
            # Lineage policy (r12, reverting r11's lazy 8-round
            # chaining on MEASUREMENT): cut per round. The r11 chain
            # (one lazy plan over all rounds) was guide-conformant on
            # paper but measured SLOWER in every run — q_pagerank
            # 5.28 s chained vs 3.63 s eager in the same-session A/B
            # (min of 3, this machine; VERDICT r11 flagged the same
            # regression across three independent runs). With eager
            # per-round checkpoints each round's rank side carries
            # accurate materialized stats, so every round's join
            # plans broadcast immediately instead of making AQE
            # re-derive the whole multi-round pipeline's stages.
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "id", round_duck(F.col("r").cast("double") / SCALE, 6).alias("rank")
    )


def coreness(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
    max_iter: int = 50,
) -> DataFrame:
    """k-core decomposition: label every node with its core number
    (the largest k such that the node survives in the k-core).

    Algorithm: distributed h-index iteration (Lü et al., "The H-index
    of a network node", 2016 — public result): start from degrees and
    repeatedly replace each node's value with the H-index of its
    neighbors' values; the fixpoint is exactly the core number. Unlike
    sequential peeling (inherently serial: one minimum-degree node at
    a time), every round here is two shuffles — neighbor-value join +
    per-node H-index — and all nodes update in parallel; values are
    monotone non-increasing integers, so convergence is a changed==0
    count and the result is deterministic under any partitioning
    (golden-snapshot safe; no floating point anywhere).

    The per-node H-index is computed without collecting neighbor
    lists: rank neighbor values descending per node (window), then
    ``max(rank where value >= rank)`` — hub nodes cost a sort of
    their degree, never a driver- or executor-side materialized list.

    ``edges``: undirected distinct pairs (any orientation). Returns
    ``(node, degree, core)``.
    """
    # both orientations via ONE explode — a two-branch union would
    # re-execute the caller's upstream (for q_kcore: the supplier
    # co-occurrence self-join) once per branch (r11, guide §2.4)
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(u).alias("a"), F.col(v).alias("b")),
                    F.struct(F.col(v).alias("a"), F.col(u).alias("b")),
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    from pyspark.sql import Window

    changed = -1  # sentinel for max_iter == 0 (warning path below)
    with _shuffle_sized_to(edges.sparkSession, und.count()):
        deg = und.groupBy(F.col("a").alias("id")).agg(
            F.count(F.lit(1)).alias("h")
        )
        state = deg.localCheckpoint()
        degrees = state.select("id", F.col("h").alias("degree"))

        w = Window.partitionBy("a").orderBy(F.desc("nh"), "b")

        def step(st: DataFrame) -> DataFrame:
            nbr = und.join(st, und.b == st.id).select(
                "a", "b", F.col("h").alias("nh")
            )
            hindex = (
                nbr.withColumn("rn", F.row_number().over(w))
                .groupBy(F.col("a").alias("id"))
                .agg(
                    F.coalesce(
                        F.max(F.when(F.col("nh") >= F.col("rn"), F.col("rn"))),
                        F.lit(0),
                    ).alias("h_new")
                )
            )
            return st.join(hindex, "id").select(
                "id",
                F.coalesce("__prev", F.col("h")).alias("__prev"),
                F.least("h", "h_new").alias("h"),
            )

        # r12 (guide §1.2/§2.4 — fewer driver round-trips dominate at
        # small per-round volume): run TWO rounds per materialization/
        # convergence probe instead of one. The iteration is monotone
        # and stationary at the fixpoint, so probing every other round
        # at worst runs one extra (no-op) round — output identical —
        # while halving the per-round fixed cost (checkpoint job +
        # count job) that dominates when rounds are tiny. Same-session
        # A/B (q_kcore, min of 3): 4.94 s per-round probes -> 4.41 s.
        it = 0
        while it < max_iter:
            block = min(2, max_iter - it)
            stepped = state.withColumn("__prev", F.lit(None).cast("long"))
            for _ in range(block):
                stepped = step(stepped)
            stepped = stepped.localCheckpoint()
            it += block
            changed = stepped.filter(F.col("h") != F.col("__prev")).count()
            state = stepped.drop("__prev")
            if changed == 0:
                break
    if changed != 0:
        # The h-index sequence is a monotone non-increasing upper
        # bound on the true core number at every round, so a
        # non-converged state is still a valid (slightly loose)
        # bound — large-diameter graphs can legitimately need more
        # rounds than the default. Warn and return the bound rather
        # than turning a slow-but-correct computation into a hard
        # failure; callers needing the exact fixpoint size max_iter
        # to the graph (tests do, and fixture graphs converge in
        # far fewer rounds).
        import warnings

        warnings.warn(
            f"coreness: h-index iteration still changing after "
            f"{max_iter} rounds ({changed} nodes); returning the "
            "monotone upper-bound state",
            RuntimeWarning,
            stacklevel=2,
        )
    return degrees.join(state, "id").select(
        F.col("id").alias("node"),
        "degree",
        F.col("h").cast("long").alias("core"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph given as distinct ``(u, v)`` pairs with u < v.

    Algorithm: degree-ordered edge orientation (Schank's node-
    iterator++ / the standard MR triangle algorithm). Every edge is
    oriented from its lower-(degree, id) endpoint to the higher one;
    wedges are enumerated by self-joining oriented edges on the source
    and closed by an equi-join back onto the oriented edge list. The
    orientation bounds every node's out-degree by O(sqrt(m)) on any
    graph (arboricity bound) — the wedge join that would blow up on a
    skewed hub (degree d -> d^2 wedges) instead does sum(outdeg^2) <=
    O(m^1.5) work, the best known for exact counting. All joins are
    equi-joins; no node ever sees the whole graph.

    Returns (node, degree, tri, lcc): triangles through the node and
    2*tri / (deg*(deg-1)) rounded to 4 dp (0.0 for degree-1 nodes).

    r12 (guide §2.2/§1.2): the whole computation runs under a shuffle
    sizing derived from the edge count — the wedge stage's work is
    bounded by O(m^1.5) (the orientation's arboricity bound), so
    partitions are sized to that, never above the session setting (a
    100 TB graph keeps the cluster's own sizing; locally this removes
    the ~30 near-empty tasks per exchange that dominated wall clock —
    measured 3.24 s -> 1.75 s interleaved min-of-3 at sf0.1). The
    result is eagerly staged (persist + count, pure-SQL plan) so the
    sized setting is in force when the shuffles actually run.
    """
    from flink_framework_spark.operators.dedup import _staged

    e = _staged(edges.select(F.col("u").cast("long"), F.col("v").cast("long")))
    m = e.count()
    ctx = _shuffle_sized_to(edges.sparkSession, int(m**1.5) + 1)
    with ctx:
        result = _staged(_triangle_counts_body(e))
        result.count()
    return result


def _triangle_counts_body(e: DataFrame) -> DataFrame:
    from flink_framework_spark.operators.dedup import _staged
    deg = _staged(
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ke = (
        e.join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = _staged(
        ke.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
        )
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    dst_order = (F.col("o1.ddst") < F.col("o2.ddst")) | (
        (F.col("o1.ddst") == F.col("o2.ddst"))
        & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = o1.join(o2, (F.col("o1.src") == F.col("o2.src")) & dst_order).select(
        F.col("o1.src").alias("a"),
        F.col("o1.dst").alias("b"),
        F.col("o2.dst").alias("c"),
    )
    # the closing edge b-c is oriented b -> c because b precedes c in
    # the same (degree, id) order the wedge condition just enforced
    tri = wedges.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    return (
        deg.join(per_node, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("deg").alias("degree"),
            F.coalesce("tri", F.lit(0)).alias("tri"),
            round_duck(
                F.when(
                    F.col("deg") > 1,
                    2.0
                    * F.coalesce("tri", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - F.lit(1))).cast("double"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("lcc"),
        )
    )
