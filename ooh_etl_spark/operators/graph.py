"""Iterative algorithms: connected components via min-label propagation.

The canonical dedup post-processing step: near-dup PAIRS (from Jaccard/
MinHash/SimHash) become CLUSTERS, so each group keeps one canonical
document. An iterative driver loop of joins — Spark's native shape for
fixpoint algorithms (each iteration is a distributed join + aggregate;
``localCheckpoint`` truncates the growing lineage so plan size stays
constant).

Convergence: min-label propagation needs O(component diameter)
iterations; near-dup clusters are shallow (diameter ≤ a few hops), and
the loop stops at the first unchanged iteration anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ooh_etl_spark.stages import materialize


def symmetrize(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Both orientations of every edge as (src, dst) — via ONE explode,
    not a self-union: Spark does not share non-cached subtrees across
    Union branches, so ``pairs.select(a,b).union(pairs.select(b,a))``
    executes the (possibly expensive) pair-generation pipeline TWICE
    (the q296 Union-recompute class). The explode form runs it once."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def connected_components(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """(id, cluster) for every node in ``pairs``; cluster = min node id
    of the component."""
    # Materialize the edge list once — every iteration joins against it,
    # and without the checkpoint each join would re-derive the (possibly
    # expensive) upstream pair-generation pipeline.
    edges = materialize(symmetrize(pairs, src, dst).distinct())
    labels = materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    # Each round interleaves one edge-propagation step with one
    # POINTER-JUMPING step (label := label-of-label — Shiloach-Vishkin
    # style shortcutting), so convergence is O(log diameter) rounds,
    # not O(diameter): plain neighbor-min propagation silently returns
    # WRONG labels when a long-thin component's diameter exceeds
    # max_iter (caught by q194's DBSCAN oracle on the density-warped
    # point field, whose gradient chains run hundreds of hops).
    # Min-label propagation monotonically decreases sum(label), so the
    # fixpoint test is one scalar aggregate, not a join.
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        msgs = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), "label"
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        parent = labels.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        labels = materialize(
            labels.join(parent, labels.label == parent.p_id, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                ).alias("label"),
            )
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("id", F.col("label").alias("cluster"))


def k_core(
    pairs: DataFrame, k: int, src: str = "id_a", dst: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """(node, core_degree) for the k-core: the maximal induced subgraph
    where every node keeps degree >= k (Seidman 1983, 'Network
    structure and minimum degree'). Computed by the standard peel: drop
    all nodes of degree < k, recompute degrees on the induced subgraph,
    repeat to fixpoint — each round is one join + one aggregate, the
    same distributed shape as connected_components, with
    ``localCheckpoint`` pinning the shrinking edge list so lineage (and
    plan size) stays constant across rounds.

    Convergence: the node set shrinks monotonically, so the fixpoint
    test is a scalar count per round (the only driver-side data) and
    the loop runs at most O(peeling depth) rounds — at 100 TB each
    round costs one degree aggregate + one semi-join of edges against
    the surviving nodes, both keyed shuffles; no step ever materializes
    more than the current induced edge list."""
    edges = materialize(symmetrize(pairs, src, dst).distinct())
    prev_n = None
    for _ in range(max_iter):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        n = keep.count()
        if n == prev_n:
            break
        prev_n = n
        edges = materialize(
            edges.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
        )
    return (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
        .select(F.col("src").alias("node"), "core_degree")
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol_micro: int = 100,
    max_iter: int = 30,
) -> DataFrame:
    """(node, rank) at convergence: power iteration of the PageRank
    recurrence rank' = (1-d)/n + d * sum_in(rank/outdeg) (Page et al.
    1999), with DANGLING MASS redistributed uniformly so the ranks stay
    a probability distribution (sum = 1) every iteration. The loop is
    the engine's standard iterative shape (q49, k_core): each round is
    two keyed joins + one aggregate, ``localCheckpoint`` pins lineage,
    and convergence is the L1 residual — a single scalar aggregate in
    integer micro-units per round, the only driver-side data.

    100 TB notes: ranks and edges co-key on the node id, so every
    round's shuffles hit the same partitioning; dangling mass is a
    1-row aggregate broadcast back as a literal. max_iter bounds the
    worst case; the residual test usually exits in O(log(1/tol) /
    log(1/d)) rounds."""
    e = materialize(edges.select("src", "dst").distinct())
    # endpoint census via explode (one pass over the checkpointed edges,
    # not two union branches)
    nodes = materialize(
        e.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
    )
    n = nodes.count()
    outdeg = materialize(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    ranks = materialize(nodes.withColumn("rank", F.lit(1.0 / n)))
    base = (1.0 - damping) / n
    for _ in range(max_iter):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        new_ranks = materialize(
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + damping * (F.coalesce(F.col("inflow"), F.lit(0.0)) + dangling / n)
                ).alias("rank"),
            )
        )
        residual = (
            ranks.select("node", F.col("rank").alias("old"))
            .join(new_ranks, "node")
            .agg(F.sum(F.abs(F.col("rank") - F.col("old"))))
            .collect()[0][0]
        )
        ranks = new_ranks
        if residual * 1_000_000 < tol_micro:
            break
    return ranks


def sssp(
    edges: DataFrame,
    seed: int,
    weight_col: str | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """(node, dist) single-source shortest paths by distributed
    Bellman-Ford relaxation (the Pregel formulation): every round
    relaxes all edges at once — dist'[v] = min(dist[v], min_u(dist[u]
    + w(u, v))) — as one join + one aggregate, checkpointed; the
    fixpoint test is the monotone scalar sum(dist) (relaxation only
    ever lowers distances). With ``weight_col`` None, weights are 1
    and the result is BFS hop distance — pytest pins that equivalence
    against an independent reference.

    Convergence: at most (longest shortest path in hops) rounds —
    graph diameter for unit weights; max_iter bounds adversarial
    weight structures. 100 TB shape: identical to the q49 loop — keyed
    join + min-aggregate per round, co-partitioned on node id, scalar
    driver traffic only. Unreachable nodes carry NULL (absent rows)."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    e = materialize(edges.select("src", "dst", w.alias("w")))
    dist = e.sparkSession.createDataFrame([(seed, 0)], "node long, dist long")
    prev_sum = 0
    for _ in range(max_iter):
        relaxed = materialize(
            e.join(dist, e.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        agg = relaxed.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).collect()[0]
        dist_n, dist_s = agg.n, agg.s
        if (dist_n, dist_s) == prev_sum:
            break
        prev_sum = (dist_n, dist_s)
        dist = relaxed
    return dist
