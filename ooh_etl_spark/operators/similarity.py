"""Similarity search over embedding columns (ArrayType(FloatType)), and
the one home of the package's double-precision vector arithmetic.

BASELINE.json:6 mandates ANN over embeddings. Two tiers:

- ``knn_brute_force``: exact top-k cosine. The query set is broadcast;
  the corpus is scanned once (narrow), scored per-row with JVM
  higher-order functions, and ranked with one shuffle on query id.
  Right answer when |queries| is small — even at 100 TB of corpus.
- ``lsh_ann_pairs``: BucketedRandomProjectionLSH bucket join — the
  scale path when BOTH sides are large (corpus×corpus linkage).

The fold contract. ``dot``, ``sq_dist`` and ``l2_norm`` are left folds
that start from the double 0.0 and add one element term at a time in
array order — the order of DuckDB's ``list_dot_product`` and of the
oracles' ``list_aggregate(..., 'sum')``. Floating-point addition is not
associative, so that order is what makes an e6-quantized cosine and its
id tie-break come out identical in both engines. Float arrays widen to
double with the plain ``cast("array<double>")`` (a codegen ``Cast``, no
lambda) before any fold whose terms must be double products: float→
double is exact, so the widened terms are the oracle's ``::DOUBLE[]``
terms. ``zip_with`` pads the shorter array with NULL, so arrays of
unequal length give NULL, as does any NULL element.

``centroid_d2`` and ``nearest_centroid`` build the e6-quantised
nearest-centroid assignment over a broadcast panel on ``sq_dist``.

Every such fold in the package calls these builders, and
``tests/test_repo_hygiene.py::test_vector_folds_live_in_one_module``
fails on a hand-written copy anywhere else: one spelling of the order
to keep right, and one site for a lambda-free rewrite to replace.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean distance ``sum((a_i - b_i)^2)``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = a.cast("array<double>"), b.cast("array<double>")
    return dot(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def centroid_d2(e: Column, panel: Column) -> Column:
    """The e6-quantised squared distance from ``e`` to each centroid of a
    broadcast panel (``array<struct<cid, ce>>``), as
    ``array<struct<d2: bigint, cid>>`` in panel order.

    Quantising before any comparison makes the nearest centroid the
    same in both engines, and ``d2`` leading ``cid`` in the struct is
    the tie rule: ``array_min`` of this array, or of any filter of it,
    is the nearest centroid with ties to the smaller cid, the oracles'
    ``ORDER BY d2, cid``."""
    return F.transform(
        panel,
        lambda c: F.struct(
            quantise(sq_dist(e, c["ce"]), 6).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )


def nearest_centroid(e: Column, panel: Column) -> Column:
    """The ``struct<d2, cid>`` of the centroid nearest ``e`` in the
    panel (:func:`centroid_d2`'s rule: ties to the smaller cid)."""
    return F.array_min(centroid_d2(e, panel))


def knn_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector of an
    ``embeddings``-shaped (``vec_id``, ``embedding``) table.

    queries (small) is broadcast; scoring is a per-row expression over
    the corpus scan; ranking shuffles only (query_id, score) pairs.

    r13 opt: both sides pre-cast to double and carry their l2 norm as
    a per-ROW column, so each scored pair evaluates one
    zip_with+aggregate dot and a scalar divide instead of re-deriving
    two casts and two norms per pair (HOF lambdas are interpreted —
    CodegenFallback — so array passes per pair are the cost driver).
    The float sequence is bit-identical: same fold order, same
    |q|*|c| product order as cosine().
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("q_vec"),
        ).withColumn("qn", l2_norm(F.col("q_vec")))
    )
    from ooh_etl_spark.tables import parallelize_rows

    c = parallelize_rows(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    ).withColumn("cn", l2_norm(F.col("c_vec")))
    scored = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("q_vec"), F.col("c_vec")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos_sim"), "rank")
    )


def lsh_ann_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 1.0,
) -> DataFrame:
    """Approximate neighbor pairs of ``embeddings``-shaped (``vec_id``,
    ``embedding``) tables via random-projection LSH (euclidean; bucket
    length 2.0, 4 hash tables).

    Bucket join: only vectors sharing a hash bucket are compared — the
    corpus×corpus path where brute force is quadratic."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    prep = lambda df, label: df.select(  # noqa: E731
        F.col("vec_id").alias(label),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("v"),
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="h", bucketLength=2.0, numHashTables=4, seed=42,
    )
    cf = prep(corpus, "corpus_id")
    model = brp.fit(cf)
    pairs = model.approxSimilarityJoin(prep(queries, "query_id"), cf, threshold, "dist")
    return pairs.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.corpus_id").alias("neighbor_id"),
        F.round("dist", 4).alias("l2_dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
