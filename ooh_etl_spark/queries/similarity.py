"""Similarity-search queries over ``embeddings`` (BASELINE.json:6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.operators.similarity import (
    cosine,
    dot,
    knn_brute_force,
    l2_norm,
    lsh_ann_pairs,
)
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table, parallelize_rows

_DUCK_KNN = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM embeddings),
         scored AS (
      SELECT query_id, neighbor_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      FROM q JOIN c ON query_id != neighbor_id)
    SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
"""


@register("q30_knn_cosine", _DUCK_KNN)
def q30_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine: 5 query vectors BROADCAST against the corpus
    (scoring is a per-row fold in the scan stage), per-query top-5 via
    window — brute force is correct at fixed query-set size; the
    full-corpus path is q31/q53."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_brute_force(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 5), k=5
    )


@register("q31_ann_lsh", None)  # random-projection LSH → rows-only
def q31_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: sign-bit buckets, candidates only
    within buckets — the sublinear path. Rows-only; recall vs q30's
    exact answer is asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_pairs(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 5), threshold=1.2
    )


_EVAL_NQ = 50  # query set size
_EVAL_K = 10  # rank cutoff


@register(
    "q236_retrieval_eval",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qy,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {_EVAL_NQ}),
         c AS (SELECT vec_id AS neighbor_id, label AS ny,
                      embedding::DOUBLE[] AS cv
               FROM embeddings),
         ranked AS (
      SELECT query_id, qy, ny,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))) DESC,
                                neighbor_id) AS rank
      FROM q JOIN c ON query_id != neighbor_id),
         per_q AS (
      SELECT query_id,
             coalesce(CAST(round(1000000.0
               / min(CASE WHEN qy = ny THEN rank END)) AS BIGINT), 0)
               AS rr_e6,
             sum(CASE WHEN qy = ny AND rank <= 5 THEN 1 ELSE 0 END)
               AS hits5
      FROM ranked WHERE rank <= {_EVAL_K}
      GROUP BY query_id)
    SELECT count(*) AS n_queries,
           CAST(FLOOR(avg(rr_e6)) AS BIGINT) AS mrr_at{_EVAL_K}_e6,
           CAST(FLOOR(10000.0 * sum(hits5) / (5 * count(*))) AS BIGINT)
             AS p_at5_bp
    FROM per_q
    """,
)
def q236_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the exact kNN path: MRR@10 and
    precision@5 with same-label neighbors as relevance — the eval loop
    every embedding-search deployment runs after re-training (q30
    produces rankings; this scores them). Reciprocal ranks quantize
    to 1e-6 PER QUERY before averaging (order-free integer mean, the
    cents policy applied to an IR metric); queries with no relevant
    neighbor in the top-10 contribute 0, the standard MRR@k cutoff
    convention.

    Shape: the 50-query set broadcasts (knn_brute_force's contract —
    fixed panel size, corpus never shuffles for scoring); ranking is a
    per-query window over the panel x corpus score table; both metric
    reductions are one tiny aggregate. Scaling the PANEL (not the
    corpus) is the production knob, and recall of the ANN paths
    (q31/q53) against these exact rankings is already pinned in tests.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    top = knn_brute_force(
        corpus=emb, queries=emb.filter(F.col("vec_id") < _EVAL_NQ), k=_EVAL_K
    )
    j = (
        top.join(
            labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qy")),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("ny")
            ),
            "neighbor_id",
        )
    )
    per_q = j.groupBy("query_id").agg(
        F.coalesce(
            F.round(
                1000000.0
                / F.min(F.when(F.col("qy") == F.col("ny"), F.col("rank")))
            ).cast("bigint"),
            F.lit(0),
        ).alias("rr_e6"),
        F.sum(
            ((F.col("qy") == F.col("ny")) & (F.col("rank") <= 5)).cast("int")
        ).alias("hits5"),
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.floor(F.avg("rr_e6")).cast("bigint").alias(f"mrr_at{_EVAL_K}_e6"),
        F.floor(10000.0 * F.sum("hits5") / (5 * F.count(F.lit(1))))
        .cast("bigint")
        .alias("p_at5_bp"),
    )


@register(
    "q243_ndcg_eval",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qy,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {_EVAL_NQ}),
         c AS (SELECT vec_id AS neighbor_id, label AS ny,
                      embedding::DOUBLE[] AS cv
               FROM embeddings),
         ranked AS (
      SELECT query_id, qy, ny,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))) DESC,
                                neighbor_id) AS rank
      FROM q JOIN c ON query_id != neighbor_id),
         gains AS (
      SELECT query_id,
             CAST(round(1000000.0 * sum(
               (CASE WHEN qy = ny THEN 1.0 ELSE 0.0 END)
               / (ln(rank + 1.0) / ln(2.0)))) AS BIGINT) AS dcg_e6,
             sum(CASE WHEN qy = ny THEN 1 ELSE 0 END) AS n_rel
      FROM ranked WHERE rank <= {_EVAL_K}
      GROUP BY query_id),
         ideal AS (
      SELECT query_id, n_rel, dcg_e6,
             CAST(round(1000000.0 * (
               SELECT sum(1.0 / (ln(g.r + 1.0) / ln(2.0)))
               FROM generate_series(1, {_EVAL_K}) AS g(r)
               WHERE g.r <= n_rel)) AS BIGINT) AS idcg_e6
      FROM gains)
    SELECT count(*) AS n_queries,
           CAST(FLOOR(avg(CASE WHEN idcg_e6 > 0
                               THEN FLOOR(10000.0 * dcg_e6 / idcg_e6)
                               ELSE 0 END)) AS BIGINT) AS ndcg_at10_bp
    FROM ideal
    """,
)
def q243_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 over the exact kNN rankings (Järvelin & Kekäläinen
    2002), completing the IR-eval trio with q236's MRR/P@5: DCG
    discounts each relevant hit by 1/log2(1+rank), and normalizing by
    the ideal DCG (all n_rel hits packed at the top) makes scores
    comparable across queries with different relevant-neighbor counts
    — the property P@k lacks. Binary same-label relevance; per-query
    DCG and IDCG quantize to 1e-6 and the per-query NDCG to basis
    points BEFORE the mean (order-free integer average, the q236
    contract; log2 evaluates on exact integer ranks so both engines
    agree term-wise).

    Shape identical to q236: broadcast panel, per-query window over
    the panel x corpus scores, then register-sized arithmetic — the
    IDCG needs only n_rel and the rank grid, a bounded generate
    sequence.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    top = knn_brute_force(
        corpus=emb, queries=emb.filter(F.col("vec_id") < _EVAL_NQ), k=_EVAL_K
    )
    j = (
        top.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("qy")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("ny")
            ),
            "neighbor_id",
        )
    )
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))
    gains = j.groupBy("query_id").agg(
        quantise(
            F.sum(
              F.when(F.col("qy") == F.col("ny"), 1.0).otherwise(0.0)
              / log2(F.col("rank") + 1.0)
          ),
            6,
        )
        .alias("dcg_e6"),
        F.sum((F.col("qy") == F.col("ny")).cast("int")).alias("n_rel"),
    )
    ideal = gains.select(
        "query_id",
        "dcg_e6",
        quantise(
            F.aggregate(
              F.sequence(F.lit(1), F.lit(_EVAL_K)),
              F.lit(0.0),
              lambda acc, r: acc
              + F.when(r <= F.col("n_rel"), 1.0 / log2(r + 1.0)).otherwise(
                  0.0
              ),
          ),
            6,
        )
        .alias("idcg_e6"),
    )
    return ideal.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.floor(
            F.avg(
                F.when(
                    F.col("idcg_e6") > 0,
                    F.floor(10000.0 * F.col("dcg_e6") / F.col("idcg_e6")),
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("ndcg_at10_bp"),
    )


# --- round-10 wave: q437 IVF nprobe recall curve ---------------------------

_RC_C = 8  # coarse centroids: the first 8 vec_ids (q53's deterministic rule)
_RC_NQ = 5  # query panel: vec_id < 5 (q30's convention)
_RC_K = 10  # rank cutoff for recall@k
_RC_PROBES = (1, 2, 4, 8)

_DUCK_RECALL_CURVE = f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < {_RC_C}),
         corpus AS (
      SELECT vec_id AS nid, embedding::DOUBLE[] AS nv FROM embeddings),
         q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_RC_NQ}),
         ca AS (
      SELECT nid, cell FROM (
        SELECT nid, cent_id AS cell,
               row_number() OVER (PARTITION BY nid ORDER BY
                 CAST(round(1000000 * list_dot_product(nv, cv)
                   / (sqrt(list_dot_product(nv, nv))
                      * sqrt(list_dot_product(cv, cv)))) AS BIGINT) DESC,
                 cent_id) AS rn
        FROM corpus CROSS JOIN cents)
      WHERE rn = 1),
         qc AS (
      SELECT qid, cent_id AS cell,
             row_number() OVER (PARTITION BY qid ORDER BY
               CAST(round(1000000 * list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv)))) AS BIGINT) DESC,
               cent_id) AS probe_rank
      FROM q CROSS JOIN cents),
         truth AS (
      SELECT qid, nid FROM (
        SELECT q.qid, corpus.nid,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 CAST(round(1000000 * list_dot_product(qv, nv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(nv, nv)))) AS BIGINT) DESC,
                 corpus.nid) AS rank
        FROM q JOIN corpus ON qid != nid)
      WHERE rank <= {_RC_K}),
         probes (nprobe) AS (
      VALUES {", ".join(f"({p})" for p in _RC_PROBES)}),
         cand AS (
      SELECT probes.nprobe, q.qid, ca.nid,
             CAST(round(1000000 * list_dot_product(qv, nv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(nv, nv)))) AS BIGINT) AS cos_e6
      FROM probes
      JOIN qc ON qc.probe_rank <= probes.nprobe
      JOIN ca ON ca.cell = qc.cell
      JOIN q ON q.qid = qc.qid
      JOIN corpus ON corpus.nid = ca.nid
      WHERE q.qid != ca.nid),
         ann AS (
      SELECT nprobe, qid, nid FROM (
        SELECT nprobe, qid, nid,
               row_number() OVER (PARTITION BY nprobe, qid
                                  ORDER BY cos_e6 DESC, nid) AS rank
        FROM cand)
      WHERE rank <= {_RC_K}),
         agg AS (
      SELECT ann.nprobe,
             count(truth.nid) AS hits
      FROM ann LEFT JOIN truth
        ON ann.qid = truth.qid AND ann.nid = truth.nid
      GROUP BY ann.nprobe),
         vol AS (
      SELECT nprobe, count(*) AS n_candidates FROM cand GROUP BY nprobe)
    SELECT vol.nprobe,
           CAST(vol.n_candidates AS BIGINT) AS n_candidates,
           CAST(agg.hits AS BIGINT) AS hits,
           CAST((10000 * agg.hits) // ({_RC_NQ} * {_RC_K}) AS BIGINT)
             AS recall_bp
    FROM vol JOIN agg USING (nprobe)
    ORDER BY nprobe
"""


@register("q437_ivf_recall_curve", _DUCK_RECALL_CURVE)
def q437_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning curve: recall@10 (vs exact brute force) and
    candidate volume at nprobe in {1,2,4,8} over q53's deterministic
    IVF (centroids = first 8 vec_ids). THE knob every 100 TB ANN
    deployment tunes — how many inverted lists to probe buys how much
    recall for how much scan — here measured as a query, so the
    engine can answer it on the actual corpus instead of folklore. At
    nprobe = C the candidate set is the whole corpus minus self and
    recall is 10000 bp by construction (pinned in tests alongside
    monotonicity in nprobe).

    Exactness: EVERY ranking (cell assignment, probe order, truth,
    ANN) ranks on e6-quantized cosines with id tie-breaks — unlike
    q53's raw-float ordering (rows-only for that reason), the curve
    is fully oracle-checkable; recall is integer basis points via
    integer division.

    100 TB shape: assignment is an IN-ROW argmin over the broadcast
    {C}-centroid panel in the scan stage (the q461 pattern; r13 opt —
    previously a corpus x C cross join reduced by a vec-keyed window,
    i.e. an 8x row expansion through an extra exchange + sort);
    candidates are cell-equi-joined (the IVF point: probed cells,
    never corpus x queries); the truth pass is brute force over the
    FIXED 5-query panel — q30's bounded oracle baseline, not the
    corpus-pair scan. The curve table itself is |probes| rows.

    r13 opt, per-pair arithmetic: every vector's double upcast and
    l2 norm are computed ONCE per row and carried, so each scored
    pair evaluates one zip_with+aggregate dot and a scalar divide
    (3 interpreted HOF passes) instead of re-deriving two casts and
    two norms per pair (~6 passes) — bit-identical float sequence
    (same fold order, same norm product order), verified against the
    oracle at both sfs."""
    dd = F.col("embedding").cast("array<double>")

    def e6(qv, qn, nv, nn) -> F.Column:
        # round(1e6 * (dot / (|a| * |b|))) — identical expression tree
        # to round(1_000_000 * cosine(a, b)) over pre-cast arrays.
        return quantise(dot(qv, nv) / (qn * nn), 6)

    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.filter(F.col("vec_id") < _RC_C)
        .select(F.col("vec_id").alias("cent_id"), dd.alias("cv"))
        .withColumn("cn", l2_norm(F.col("cv")))
    )
    panel = cents.agg(
        F.collect_list(F.struct("cent_id", "cv", "cn")).alias("panel")
    )
    corpus = (
        parallelize_rows(emb)
        .select(F.col("vec_id").alias("nid"), dd.alias("nv"))
        .withColumn("nn", l2_norm(F.col("nv")))
    )
    qs = (
        emb.filter(F.col("vec_id") < _RC_NQ)
        .select(F.col("vec_id").alias("qid"), dd.alias("qv"))
        .withColumn("qn", l2_norm(F.col("qv")))
    )
    # argmax by (cos_e6 DESC, cent_id ASC) == array_min of
    # struct(-cos_e6, cent_id): bigint negation is exact.
    argmin = F.array_min(
        F.transform(
            "panel",
            lambda c: F.struct(
                (-e6(F.col("nv"), F.col("nn"), c["cv"], c["cn"])).alias("neg"),
                c["cent_id"].alias("cid"),
            ),
        )
    )["cid"]
    ca = materialize(
        corpus.crossJoin(F.broadcast(panel))
        .select("nid", "nv", "nn", argmin.alias("cell"))
        # feeds truth join AND every probe level
    )
    qc = (
        qs.join(F.broadcast(cents), F.lit(True))
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    e6(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn")).desc(), "cent_id"
                )
            ),
        )
        .select("qid", "qv", "qn", F.col("cent_id").alias("cell"), "probe_rank")
    )
    truth = (
        qs.join(ca, F.col("qid") != F.col("nid"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    e6(F.col("qv"), F.col("qn"), F.col("nv"), F.col("nn")).desc(), "nid"
                )
            ),
        )
        .filter(F.col("rank") <= _RC_K)
        .select("qid", "nid")
    )
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _RC_PROBES])).alias("nprobe")
    )
    cand = materialize(
        F.broadcast(probes)
        .join(qc, F.col("probe_rank") <= F.col("nprobe"))
        .join(ca, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "nprobe",
            "qid",
            "nid",
            e6(F.col("qv"), F.col("qn"), F.col("nv"), F.col("nn")).alias("cos_e6"),
        )
        # feeds the ANN ranking AND the volume count
    )
    ann = (
        cand.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("nprobe", "qid").orderBy(
                    F.col("cos_e6").desc(), "nid"
                )
            ),
        )
        .filter(F.col("rank") <= _RC_K)
        .select("nprobe", "qid", "nid")
    )
    agg = (
        ann.join(truth.withColumn("hit", F.lit(1)), ["qid", "nid"], "left")
        .groupBy("nprobe")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hits"))
    )
    vol = cand.groupBy("nprobe").agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        vol.join(agg, "nprobe")
        .select(
            "nprobe",
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("hits").cast("bigint").alias("hits"),
            F.expr(f"(10000 * hits) div ({_RC_NQ} * {_RC_K})")
            .cast("bigint")
            .alias("recall_bp"),
        )
        .orderBy("nprobe")
    )


# --- round-10 wave: q31b deterministic SRP-LSH (oracle-checkable) ----------

def _srp_planes(n_planes: int = 6, dim: int = 64) -> list[list[int]]:
    """Deterministic random-hyperplane components in [-1000, 1000]:
    md5-derived integers, generated identically at import time and
    inlined as LITERALS into both the Spark expression and the oracle
    SQL — the two engines cannot disagree about the planes because
    they never compute them."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:8], 16) % 2001
            - 1000
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


_SRP_P = 6  # 2^6 = 64 buckets over ~500-2000 vectors: real candidate lists
_SRP_DIM = 64
_SRP_PLANES = _srp_planes(_SRP_P, _SRP_DIM)
_SRP_K = 5
_SRP_NQ = 5


def _duck_bucket(vec: str) -> str:
    terms = []
    for p, plane in enumerate(_SRP_PLANES):
        lst = "[" + ", ".join(str(h) for h in plane) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {_SRP_DIM}),"
            f" d -> CAST(round(1000000 * {vec}[d] * ({lst})[d]) AS BIGINT)))"
            f" >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_DUCK_SRP_DET = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_duck_bucket("(embedding::DOUBLE[])")} AS bucket
      FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e
               WHERE vec_id < {_SRP_NQ}),
         cand AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             CAST(round(1000000 * list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(v, v)))) AS BIGINT) AS cos_e6
      FROM q JOIN e USING (bucket)
      WHERE q.query_id != e.vec_id)
    SELECT query_id, rank, neighbor_id, cos_e6 FROM (
      SELECT query_id, neighbor_id, cos_e6,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_e6 DESC, neighbor_id) AS rank
      FROM cand)
    WHERE rank <= {_SRP_K}
    ORDER BY query_id, rank
"""


@register("q31b_ann_lsh_det", _DUCK_SRP_DET)
def q31b_ann_lsh_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH (Charikar, STOC'02) made fully
    ORACLE-CHECKABLE — the deterministic twin of q31 (rows-only
    because spark.ml's hashing is engine-private): hyperplane
    components are md5-derived integer literals inlined into both
    engines, each sign bit comes from an integer dot product (per-term
    e6 quantization BEFORE the sum, so the fold is an order-free
    integer sum, not an order-dependent float reduction), and the
    in-bucket rerank ranks on e6-quantized cosines with id tie-breaks.
    6 planes = 64 buckets; multi-band OR-amplification is q28's
    machinery.

    100 TB shape: bucket assignment is an in-row fold over the
    embedding (no explode, no UDF, no shuffle) — note the
    aggregate/zip_with lambdas evaluate INTERPRETED outside
    whole-stage codegen (the q417/q79 lesson), an accepted cost here
    because the fold runs once per row against a 16-element literal
    array (6 planes x 16 mults), orders of magnitude below the
    shuffle it replaces; candidates meet through the bucket equi-join
    — the sublinear LSH point — and the rerank is a bucket-keyed
    window. The 1x/5x/10x SRP curve is measured in
    SCALE.md (q31 row: 2.6x at 10x)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def bucket_col():
        terms = []
        for p, plane in enumerate(_SRP_PLANES):
            arr = ", ".join(str(h) for h in plane)
            terms.append(
                f"(CASE WHEN aggregate(zip_with(embedding, array({arr}),"
                f" (x, h) -> CAST(round(1000000 * x * h) AS BIGINT)),"
                f" 0L, (acc, t) -> acc + t) >= 0 THEN {1 << p} ELSE 0 END)"
            )
        return F.expr("(" + " + ".join(terms) + ")")

    e = parallelize_rows(emb).select(
        "vec_id", "embedding", bucket_col().alias("bucket")
    )
    q = e.filter(F.col("vec_id") < _SRP_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "bucket",
    )
    cand = (
        q.join(e, "bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            quantise(cosine(F.col("qv"), F.col("embedding")), 6)
            .alias("cos_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_e6").desc(), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SRP_K)
        .select("query_id", "rank", "neighbor_id", "cos_e6")
        .orderBy("query_id", "rank")
    )


# --- q50 embedding near-dup, q53 IVF-style ANN -------------------------------


@register(
    "q50_embedding_near_dup",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                4) >= 0.4
    """,
)
def q50_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup
    operator (BASELINE.json:6). Brute-force pair scan with one side
    broadcast; beyond ~10^4 vectors per side the LSH/IVF paths
    (q31/q53) provide candidate generation instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = parallelize_rows(emb).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = F.round(cosine(F.col("va"), F.col("vb")), 4)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.4)
        .select("id_a", "id_b", "cos_sim")
    )


@register("q53_ann_ivf", None)  # approximate (cell-restricted) → rows-only
def q53_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest
    centroid (deterministic centroid set = the first 16 vectors), then
    search only within the query's cell. The 100 TB pattern: the
    centroid table broadcasts, assignment is a narrow per-row argmax,
    and the fine search shuffles only (cell, vector) co-partitions.
    Recall vs exact top-k is asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
        )
    )

    def assign(df: DataFrame, id_out: str, v_out: str) -> DataFrame:
        scored = df.select(
            F.col("vec_id").alias(id_out), F.col("embedding").alias(v_out)
        ).join(cents, F.lit(True))
        w = Window.partitionBy(id_out).orderBy(
            F.desc(cosine(F.col(v_out), F.col("cv"))), F.col("cent_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_out, v_out, F.col("cent_id").alias("cell"))
        )

    corpus = assign(parallelize_rows(emb), "neighbor_id", "cvec")
    queries = assign(emb.filter(F.col("vec_id") < 5), "query_id", "qvec")
    scored = queries.join(corpus, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(cosine(F.col("qvec"), F.col("cvec"))), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 4).alias("cos_sim"),
            "rank",
        )
    )
