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


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id, cluster) for every node of the ``(id_a, id_b)`` edge list
    ``pairs``; cluster = min node id of the component. At most 25
    rounds."""
    # Materialize the edge list once — every iteration joins against it,
    # and without the checkpoint each join would re-derive the (possibly
    # expensive) upstream pair-generation pipeline.
    edges = materialize(symmetrize(pairs, "id_a", "id_b").distinct())
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
    # the round cap (caught by q194's DBSCAN oracle on the density-warped
    # point field, whose gradient chains run hundreds of hops).
    # Min-label propagation monotonically decreases sum(label), so the
    # fixpoint test is one scalar aggregate, not a join.
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(25):
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


def k_core(pairs: DataFrame, k: int) -> DataFrame:
    """(node, core_degree) for the k-core of the ``(id_a, id_b)`` edge
    list ``pairs``: the maximal induced subgraph where every node keeps
    degree >= k (Seidman 1983, 'Network structure and minimum
    degree'). Computed by the standard peel: drop all nodes of degree
    < k, recompute degrees on the induced subgraph, repeat to
    fixpoint — each round is one join + one aggregate, the
    same distributed shape as connected_components, with
    ``localCheckpoint`` pinning the shrinking edge list so lineage (and
    plan size) stays constant across rounds.

    Convergence: the node set shrinks monotonically, so the fixpoint
    test is a scalar count per round (the only driver-side data) and
    the loop runs at most O(peeling depth) rounds, capped at 50 — at
    100 TB each round costs one degree aggregate + one semi-join of
    edges against the surviving nodes, both keyed shuffles; no step
    ever materializes more than the current induced edge list."""
    edges = materialize(symmetrize(pairs, "id_a", "id_b").distinct())
    prev_n = None
    for _ in range(50):
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
