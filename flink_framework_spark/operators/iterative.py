"""Iterative computation — the Flink ``iterate()`` surface (SURVEY.md
§2 [F]: DataStream/DataSet iterations) in Spark's model: a
driver-coordinated loop of declarative steps with a convergence check,
lineage cut per round (``staging.cut``) so plans don't grow
unboundedly — the standard Pregel-lite shape on Spark. Each round
releases the previous round's cut; only the cuts the returned plan
reads stay stored.

The graph loops shuffle their edge frame once: it is hash-partitioned
by the node each round aggregates on, and staged (a staged frame
keeps its partitioning, a cut does not). Every per-round join
of that frame with a node-sized frame (ranks, labels, h-index state)
would still plan as a sort-merge join: a checkpointed frame keeps
Catalyst's pre-execution size estimate, which for these loops is
terabytes, and AQE turns the join into a broadcast only after both
sides have been shuffled. Each loop therefore counts its node set once
and broadcasts the node-sized side while that exact count fits the
session's broadcast threshold (``_broadcast_if_fits``). A round then
runs no shuffle at all: the broadcast join keeps the edge frame's
partitioning, and the aggregate by node reads it in place. The few
joins of two node-sized frames are left to AQE.

``connected_components``: min-label propagation over an undirected
edge list with a self pair per node. Per round: the edges joined to
the broadcast labels and one minimum per node; the labels have
converged when their sum stops falling; rounds ≤ graph diameter. At
100 TB-scale graphs one adds large-star/small-star optimizations, but
the loop skeleton is the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_framework_spark.functions.helpers import round_duck
from flink_framework_spark.staging import cut, release, stage


def _broadcast_if_fits(df: DataFrame, rows: int) -> DataFrame:
    """``F.broadcast(df)`` when ``rows`` rows of ``df`` fit the session's
    ``spark.sql.autoBroadcastJoinThreshold``, each row sized at 8 bytes
    plus each field's default size (a string field counts 20 bytes,
    whatever its length); ``df`` unchanged otherwise, and always when
    the threshold is 0 or less.

    ``rows`` is an exact count (or a bound) the caller already has. The
    rule sizes this side only: callers apply it where the other side
    is the edge frame, which holds at least as many rows of the same
    width. A graph too large to broadcast keeps the sort-merge plan."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    threshold = conf.autoBroadcastJoinThreshold()
    width = 8 + df._jdf.schema().defaultSize()
    return F.broadcast(df) if 0 < threshold and rows * width <= threshold else df


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
    singleton components too. They are attached after the loop, so the
    per-round label frame holds edge endpoints only.
    """
    # Both orientations plus a self pair per endpoint via ONE explode:
    # a two-branch union would run the caller's upstream (for
    # dedup_clusters the full MinHash pass) once per branch. With the
    # self pairs a node's next label is one minimum over itself and its
    # neighbours, and a node whose only edges are self-loops is still
    # labeled (a singleton).
    a, b = F.col(src), F.col(dst)
    und = stage(
        edges.select(
            F.explode(
                F.array(
                    *(
                        F.struct(x.alias("a"), y.alias("b"))
                        for x, y in ((a, b), (b, a), (a, a), (b, b))
                    )
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        # the edge frame's one shuffle: the dedup, the seed labels and
        # every round's minimum by ``a`` read it in this partitioning
        # (a staged frame keeps it, a cut would not)
        .repartition("a")
        .distinct()
    )
    labels = None
    try:
        labels = cut(
            und.select(F.col("a").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
        )
        # a label never rises, so the labels are unchanged exactly when
        # their sum is (decimal: a sum of long ids may overflow a long)
        total = F.sum(F.col("component").cast("decimal(38,0)"))
        n, before = labels.agg(F.count(F.lit(1)), total).first()

        # one probe per round: two rounds per probe measured slower on
        # near-dup graphs (1.89 s vs 2.32 s, q_dedup_clusters edge set)
        for _ in range(max_iter):
            # ``und`` holds every label's node at least once (its self
            # pair)
            lab = _broadcast_if_fits(labels, n)
            prev, labels = labels, cut(
                und.join(lab, und.b == lab.id)
                .groupBy(F.col("a").alias("id"))
                .agg(F.min("component").alias("component"))
            )
            release(prev)
            after = labels.agg(total).first()[0]
            if after == before:
                break
            before = after
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    except BaseException:
        release(labels)
        raise
    finally:
        release(und)
    if vertices is None:
        return labels
    isolated = (
        vertices.select(F.col(vertex_id).alias("id"))
        .distinct()
        .join(labels, "id", "left_anti")
    )
    return labels.unionByName(isolated.withColumn("component", F.col("id")))


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
    # final assignment). Stage it so the parquet scan + array
    # conversion run once (r11, guide §5 caching: genuinely reused,
    # compact — ids + fixed-width arrays). The result reads it, so it
    # is the caller's clearCache that reclaims it.
    staged = stage(df.select(F.col(id_col), to_double_array(vec_col).alias("__v")))
    sample = staged.orderBy(id_col).limit(init_cap).collect()
    if not sample:
        release(staged)
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

    The static (src, dst, outdeg) edge frame is built once, with one
    extra null-source row per node, hash-partitioned by destination and
    persisted. Per round: a left join of that frame with the current
    ranks, one aggregate that sums each destination's contributions
    (the null-source row joins no rank and contributes 0, so a node
    without in-edges keeps its row), then a lineage-cut
    ``staging.cut``. The rank frame has exactly one row per node,
    and the node count is known, so it is broadcast whenever it fits
    the session's broadcast threshold (``_broadcast_if_fits``): the
    edge frame never moves, and the aggregate reads it in its
    destination partitioning, so a round runs no shuffle at all. With
    ``handle_dangling`` the mass of nodes without out-edges is
    redistributed uniformly (one extra 1-row aggregate per round);
    pass ``False`` for graphs where every node has an out-edge (e.g.
    bidirectional edge lists) to skip that job AND derive the node
    set from sources only (halves the node-dedup shuffle). The node
    set is then the sources, and edges into a node without out-edges
    are dropped once at setup, so such a node gets no rank row.
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
    e = cut(e)
    outdeg = nodes = e2 = ranks = None
    try:
        outdeg = cut(e.groupBy("s").agg(F.count(F.lit(1)).alias("od")))
        # handle_dangling=False asserts every node has an out-edge, so
        # the node set is exactly outdeg's key column — already
        # distinct by construction, no dedup shuffle at all (r11;
        # previously a distinct over the full source column).
        nodes = (
            outdeg.select(F.col("s").alias("id"))
            if not handle_dangling
            else cut(
                e.select(F.col("s").alias("id"))
                .unionByName(e.select(F.col("d").alias("id")))
                .distinct()
            )
        )
        n = nodes.count()
        if n == 0:
            raise ValueError("cannot run pagerank on an empty edge list")
        od = _broadcast_if_fits(outdeg, n)  # at most one row per node
        e2 = e.join(od, "s")
        if not handle_dangling:
            # every destination must be a node, so each round's sum
            # yields exactly the node set's rows
            nd = _broadcast_if_fits(nodes, n)
            e2 = e2.join(nd, e2.d == nd.id, "left_semi")
        # the one shuffle of the edge frame: a staged frame keeps its
        # hash partitioning (a cut would not), so each round's sum by
        # destination needs no exchange
        e2 = stage(
            e2.unionByName(
                nodes.select(
                    F.lit(None).cast(e.schema["s"].dataType).alias("s"),
                    F.col("id").alias("d"),
                    F.lit(1).cast("long").alias("od"),
                )
            ).repartition("d")
        )
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
            rk = _broadcast_if_fits(ranks, n)
            # cut per round: one lazy plan over all rounds measured
            # slower (q_pagerank 5.28 s vs 3.63 s). A cut keeps Catalyst's
            # pre-execution estimate, so the next round's join is
            # broadcast from the exact node count.
            prev, ranks = ranks, cut(
                e2.join(rk, e2.s == rk.id, "left")
                .groupBy(F.col("d").alias("id"))
                .agg(
                    F.sum(F.coalesce(F.expr("r div od"), F.lit(0))).alias("s_in")
                )
                .select(
                    "id",
                    F.expr(
                        f"{base}L + (({damping}L * (s_in + {dang // n}L)) div 100)"
                    ).alias("r"),
                )
            )
            release(prev)
    except BaseException:
        release(e, outdeg, nodes, e2, ranks)
        raise
    # until a round has run, the ranks read the node set
    release(e, e2, *((outdeg, nodes) if n_iter > 0 else ()))
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
    a time), all nodes update in parallel. The edge frame is shuffled
    once, by node, and persisted; a round then runs no shuffle: the
    node-sized state is broadcast into its join with the edges while it
    fits (``_broadcast_if_fits``), and the H-index window and aggregate
    read the edges where they are. Values are monotone non-increasing
    integers, so convergence is an unchanged sum and the result is
    deterministic under any partitioning (golden-snapshot safe; no
    floating point anywhere).

    The per-node H-index is computed without collecting neighbor
    lists: rank neighbor values descending per node (window), then
    ``max(rank where value >= rank)`` — hub nodes cost a sort of
    their degree, never a driver- or executor-side materialized list.

    ``edges``: undirected distinct pairs (any orientation). Returns
    ``(node, degree, core)``.
    """
    from pyspark.sql import Window

    # both orientations via ONE explode — a two-branch union would
    # re-execute the caller's upstream (for q_kcore: the supplier
    # co-occurrence self-join) once per branch (r11, guide §2.4)
    und = stage(
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
        # the edge frame's one shuffle: the dedup, the degrees and every
        # round's window and H-index by ``a`` read it in this
        # partitioning (a staged frame keeps it, a cut would not)
        .repartition("a")
        .distinct()
    )
    w = Window.partitionBy("a").orderBy(F.desc("nh"), "b")

    def step(st: DataFrame) -> DataFrame:
        # Every node has a neighbour, so the H-index rows are the node
        # set, and the H-index of values that never rose never rises:
        # it is the node's next value, with no join back to ``st``.
        sb = _broadcast_if_fits(st, n)
        nbr = und.join(sb, und.b == sb.id).select("a", "b", F.col("h").alias("nh"))
        return (
            nbr.withColumn("rn", F.row_number().over(w))
            .groupBy(F.col("a").alias("id"))
            .agg(
                F.coalesce(
                    F.max(F.when(F.col("nh") >= F.col("rn"), F.col("rn"))),
                    F.lit(0),
                )
                .cast("long")
                .alias("h")
            )
        )

    changed = -1  # sentinel for max_iter == 0 (warning path below)
    deg = state = None
    try:
        # the initial state: the result reads it for the degrees, so it
        # is the one earlier cut that is never released
        deg = state = cut(
            und.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("h"))
        )
        # every value is non-increasing, so the state is unchanged
        # exactly when its sum is
        total = F.coalesce(F.sum("h"), F.lit(0))
        n, before = state.agg(F.count(F.lit(1)), total).first()
        degrees = state.select("id", F.col("h").alias("degree"))

        # two rounds per cut and probe: the iteration is stationary at
        # the fixpoint, so at worst one extra no-op round runs, and the
        # per-probe jobs halve (q_kcore 4.94 s -> 4.41 s, min of 3)
        it = 0
        while it < max_iter:
            block = min(2, max_iter - it)
            nxt = state
            for _ in range(block):
                nxt = step(nxt)
            prev, state = state, cut(nxt)
            if prev is not deg:
                release(prev)
            it += block
            after = state.agg(total).first()[0]
            changed, before = before - after, after
            if changed == 0:
                break
    except BaseException:
        release(deg, state)
        raise
    finally:
        release(und)
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
            f"{max_iter} rounds (values fell by {changed} in the last "
            "probe); returning the monotone upper-bound state",
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

    The degree table is counted once, and both its joins onto the edge
    list broadcast it while it fits (``_broadcast_if_fits``). Staging
    uses ``staging.stage``, so the returned plan stays pure SQL.
    """
    e = stage(edges.select(F.col("u").cast("long"), F.col("v").cast("long")))
    deg = stage(
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    n = deg.count()
    db = _broadcast_if_fits(deg, n)
    ke = (
        e.join(db.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(db.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = stage(
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
