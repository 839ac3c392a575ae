"""Eleventh coverage wave: distributed linear-algebra steps over the
``embeddings`` table — the building blocks of clustering / PCA /
vector-index construction, each expressed as one DataFrame pass so the
"iteration" of an iterative algorithm is a plain re-run over the
previous output (the q49 label-propagation precedent).

Numeric determinism: per-ROW float math (dots, norms) is bit-identical
across engines because both fold arrays in order (the q30/q77
precedent); anything summed ACROSS rows is quantized to integer
micro-units first, because cross-row summation order is
partitioning-dependent (the q23/q61 precedent). Outputs stay integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.operators.similarity import cosine, dot, l2_norm, nearest_centroid, sq_dist
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table, parallelize_rows

_K = 8  # centroids: the first K vectors (deterministic seed choice)

_DUCK_E = "embedding::DOUBLE[] AS e"


@register(
    "q102_kmeans_step",
    f"""
    WITH v AS (SELECT vec_id, {_DUCK_E} FROM embeddings),
         c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {_K}),
         d AS (
      SELECT v.vec_id, c.cid,
             list_aggregate(list_transform(generate_series(1, len(e)),
                            i -> (e[i] - ce[i]) * (e[i] - ce[i])), 'sum') AS dist
      FROM v CROSS JOIN c),
         a AS (
      SELECT vec_id, cid, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      FROM d)
    SELECT cid,
           count(*) AS n_members,
           CAST(sum(CAST(round(dist * 1000000) AS BIGINT)) AS BIGINT) AS inertia_u
    FROM a WHERE rk = 1
    GROUP BY cid ORDER BY cid
    """,
)
def q102_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means: assign every vector to its
    nearest of K=8 fixed centroids (the first K vectors — k-means'
    deterministic seeding), emit cluster sizes and inertia in integer
    micro-units. The centroid table is K rows → broadcast nested-loop;
    the fan-out is K× the fact table but collapses to one row per
    vector in the same stage (row_number over a K-element partition).
    A full k-means run is this query re-applied to recomputed centroid
    means — each iteration one shuffle-light pass, the standard
    Spark-ML structure."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    c = v.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    d = v.crossJoin(F.broadcast(c)).select(
        "vec_id", "cid", sq_dist(F.col("e"), F.col("ce")).alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    a = d.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        a.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(quantise("dist", 6))
            .cast("bigint")
            .alias("inertia_u"),
        )
        .orderBy("cid")
    )


_DIMS = 64


@register(
    "q103_power_iteration",
    f"""
    WITH v AS (SELECT vec_id, {_DUCK_E} FROM embeddings),
         d AS (
      SELECT vec_id, e, list_aggregate(e, 'sum') AS dot FROM v),
         contrib AS (
      SELECT g.i AS dim,
             CAST(round(d.dot * d.e[g.i] * 1000000) AS BIGINT) AS c_u
      FROM d CROSS JOIN generate_series(1, {_DIMS}) AS g(i))
    SELECT dim, CAST(sum(c_u) AS BIGINT) AS y_u
    FROM contrib GROUP BY dim ORDER BY dim
    """,
)
def q103_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the top eigenvector of the
    (uncentered) covariance: y = sum_i (x_i . v) x_i with v = the
    all-ones start vector, so each row's dot is just its component sum.
    Per-row contributions quantize to micro-units BEFORE the cross-row
    sum (exact under any partitioning); the explode is a fixed 64-way
    fan-out grouped by dimension — 64 output rows from one shuffle
    whose payload is (dim, int64). Iterating = feeding y back as v via
    a 1-row broadcast."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    d = emb.select(
        F.col("embedding").cast("array<double>").alias("e"),
    ).withColumn("dot", F.aggregate(F.col("e"), F.lit(0.0), lambda s, x: s + x))
    contrib = d.select(
        F.posexplode(
            F.transform(
                F.col("e"),
                lambda x: quantise(F.col("dot") * x, 6),
            )
        ).alias("pos", "c_u")
    )
    return (
        contrib.groupBy((F.col("pos") + 1).alias("dim"))
        .agg(F.sum("c_u").cast("bigint").alias("y_u"))
        .orderBy("dim")
    )


_STAT_DIMS = 8


@register(
    "q104_dim_stats",
    f"""
    WITH v AS (SELECT {_DUCK_E} FROM embeddings),
         u AS (
      SELECT g.i AS dim, CAST(round(e[g.i] * 1000000) AS BIGINT) AS x_u
      FROM v CROSS JOIN generate_series(1, {_STAT_DIMS}) AS g(i))
    SELECT dim,
           count(*) AS n,
           CAST(round(avg(x_u)) AS BIGINT) AS mean_u,
           CAST(round(sqrt(avg(x_u * x_u) - avg(x_u) * avg(x_u))) AS BIGINT)
             AS std_u
    FROM u GROUP BY dim ORDER BY dim
    """,
)
def q104_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean and (population) standard deviation of the
    first 8 embedding dimensions — the feature-scaling statistics every
    vector pipeline computes before quantization or whitening.
    Components quantize to integer micro-units at the scan, so the
    moment sums are exact integers under any partitioning; mean/std
    come out of the two integer moments (E[x^2] - E[x]^2), one shuffle
    of 8 groups."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    u = emb.select(
        F.posexplode(
            F.transform(
                F.slice(F.col("embedding").cast("array<double>"), 1, _STAT_DIMS),
                lambda x: quantise(x, 6),
            )
        ).alias("pos", "x_u")
    )
    x = F.col("x_u")
    return (
        u.groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(x)).cast("bigint").alias("mean_u"),
            F.round(F.sqrt(F.avg(x * x) - F.avg(x) * F.avg(x)))
            .cast("bigint")
            .alias("std_u"),
        )
        .orderBy("dim")
    )


_HIST_N = 80  # vectors in the pairwise sample
_BIN_BP = 1000  # 0.1-wide cosine bins


@register(
    "q105_cosine_histogram",
    f"""
    WITH v AS (SELECT vec_id, {_DUCK_E} FROM embeddings WHERE vec_id < {_HIST_N}),
         p AS (
      SELECT CAST(round(10000 * list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e)))) AS BIGINT) AS cos_bp
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT CAST(floor(cos_bp / {_BIN_BP}.0) AS BIGINT) AS bin,
           count(*) AS n_pairs
    FROM p GROUP BY bin ORDER BY bin
    """,
)
def q105_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pairwise cosine-similarity distribution of an 80-vector
    sample, bucketed into 0.1-wide bins — the diagnostic that calibrates
    near-duplicate thresholds (q50) and LSH bucket widths (q31/q53)
    before running them over the full corpus. Sampling first is the
    point: the O(n^2) pair space is taken over a fixed-size sample, so
    the cost is constant in corpus size; cosines quantize to basis
    points before binning, making bin edges engine-exact."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _HIST_N)
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    a = v.select(F.col("vec_id").alias("ida"), F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("idb"), F.col("e").alias("eb"))
    cos = cosine(F.col("ea"), F.col("eb"))
    p = (
        a.join(F.broadcast(b), F.col("ida") < F.col("idb"))
        .select(quantise(cos, 4).alias("cos_bp"))
    )
    return (
        p.groupBy(F.floor(F.col("cos_bp") / float(_BIN_BP)).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("bin")
    )


# --- q309: linear-time MMD^2 two-sample test on embeddings ---------------
_MMD_BUCKET = 4  # vec_id div 4 -> one (even-label, odd-label) pair each
_MMD_SIGMA2 = 128.0  # RBF bandwidth ~ 2d for d=64

_DUCK_MMD = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS x, label % 2 AS side,
             vec_id // {_MMD_BUCKET} AS bkt
      FROM embeddings),
         reps AS (
      SELECT bkt,
             arg_min(x, vec_id) FILTER (side = 0) AS xa,
             arg_min(x, vec_id) FILTER (side = 1) AS ya
      FROM e GROUP BY bkt),
         ok AS (
      SELECT bkt, xa, ya FROM reps
      WHERE xa IS NOT NULL AND ya IS NOT NULL),
         quads AS (
      SELECT p.xa AS x1, p.ya AS y1, q.xa AS x2, q.ya AS y2
      FROM ok p JOIN ok q ON q.bkt = p.bkt + 1
      WHERE p.bkt % 2 = 0),
         hs AS (
      SELECT CAST(round(1000000000 * (
               exp(-list_aggregate(list_transform(generate_series(1, 64),
                   i -> (x1[i] - x2[i]) * (x1[i] - x2[i])), 'sum')
                   / (2 * {_MMD_SIGMA2}))
             + exp(-list_aggregate(list_transform(generate_series(1, 64),
                   i -> (y1[i] - y2[i]) * (y1[i] - y2[i])), 'sum')
                   / (2 * {_MMD_SIGMA2}))
             - exp(-list_aggregate(list_transform(generate_series(1, 64),
                   i -> (x1[i] - y2[i]) * (x1[i] - y2[i])), 'sum')
                   / (2 * {_MMD_SIGMA2}))
             - exp(-list_aggregate(list_transform(generate_series(1, 64),
                   i -> (x2[i] - y1[i]) * (x2[i] - y1[i])), 'sum')
                   / (2 * {_MMD_SIGMA2})))) AS BIGINT) AS h_e9
      FROM quads)
    SELECT count(*) AS n_quads,
           CAST(round(sum(h_e9) * 1.0 / count(*)) AS BIGINT) AS mmd2_e9
    FROM hs
"""


@register("q309_mmd_linear", _DUCK_MMD)
def q309_mmd_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-time MMD^2 two-sample test (Gretton et al., JMLR 2012
    §6) between even- and odd-label embedding populations: instead of
    the O(n^2) kernel matrix, average h((x1,y1),(x2,y2)) = k(x1,x2) +
    k(y1,y2) - k(x1,y2) - k(x2,y1) over DISJOINT sample quadruples —
    the estimator that makes kernel two-sample testing feasible on
    billion-vector embedding stores (is my new embedding batch drawn
    from the same distribution as production?).

    Pairing is aggregation-based, not rank-based: each vec_id bucket
    contributes its min-id vector per side (arg_min/min_by), adjacent
    surviving buckets form a quadruple — no corpus-wide window, no
    shuffle beyond the bucket groupBy and a self-join on bucket id.

    Determinism: bucket reps are arg_min-selected; each h term is the
    same fold + exp in both engines, quantized to 1e-9 before the
    (order-free) integer sum. Labels are random, so MMD^2 ~ 0 here —
    the null-distribution control; a real drift check feeds two
    actual batches."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("x"),
        (F.col("label") % 2).alias("side"),
        F.floor(F.col("vec_id") / _MMD_BUCKET).alias("bkt"),
    )
    reps = e.groupBy("bkt").agg(
        F.min_by(F.when(F.col("side") == 0, F.col("x")), 
                 F.when(F.col("side") == 0, F.col("vec_id"))).alias("xa"),
        F.min_by(F.when(F.col("side") == 1, F.col("x")),
                 F.when(F.col("side") == 1, F.col("vec_id"))).alias("ya"),
    )
    ok = reps.filter(F.col("xa").isNotNull() & F.col("ya").isNotNull())
    p = ok.select("bkt", F.col("xa").alias("x1"), F.col("ya").alias("y1"))
    q = ok.select(
        (F.col("bkt") - 1).alias("bkt"),
        F.col("xa").alias("x2"),
        F.col("ya").alias("y2"),
    )
    quads = (
        p.filter(F.col("bkt") % 2 == 0)
        .join(q, "bkt")
    )

    def k(u: str, v: str):
        return F.exp(-sq_dist(F.col(u), F.col(v)) / (2 * _MMD_SIGMA2))

    hs = quads.select(
        quantise(k("x1", "x2") + k("y1", "y2") - k("x1", "y2") - k("x2", "y1"), 9)
        .alias("h_e9")
    )
    return hs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_quads"),
        F.round(F.sum("h_e9") * 1.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("mmd2_e9"),
    )


# --- q322: k-center greedy coreset (farthest-point sampling) -------------
_KC_STEPS = 6  # selections after the seed; oracle chains one CTE per step


_KC_DNANO = (
    "CAST(round(1000000000 * list_aggregate(list_transform("
    "generate_series(1, 64), j -> (v.e[j] - s.e[j]) * (v.e[j] - s.e[j])"
    "), 'sum')) AS BIGINT)"
)


def _kc_oracle() -> str:
    """Chained-CTE farthest-point sampling (the q222 pinned-step
    pattern: each greedy step is one MATERIALIZED CTE, because a
    recursive formulation explodes optimizer time past k~8). The
    selected vector enters each step via a 1-row CROSS JOIN alias —
    DuckDB forbids subqueries inside lambda bodies."""
    parts = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "d0 AS MATERIALIZED (SELECT v.vec_id, "
        + _KC_DNANO
        + " AS dmin FROM v CROSS JOIN "
        "(SELECT e FROM v WHERE vec_id = 0) s WHERE v.vec_id <> 0)",
    ]
    picks = []
    for i in range(1, _KC_STEPS + 1):
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT vec_id, dmin FROM d{i-1} "
            f"ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        picks.append(f"SELECT {i} AS rank, vec_id, dmin FROM p{i}")
        if i < _KC_STEPS:
            parts.append(
                f"d{i} AS MATERIALIZED (SELECT v.vec_id, "
                f"least(dprev.dmin, " + _KC_DNANO + ") AS dmin "
                f"FROM d{i-1} dprev "
                f"JOIN v ON v.vec_id = dprev.vec_id "
                f"CROSS JOIN (SELECT e FROM v WHERE vec_id = "
                f"(SELECT vec_id FROM p{i})) s "
                f"WHERE v.vec_id <> (SELECT vec_id FROM p{i}))"
            )
    return (
        ",\n".join(parts)
        + "\nSELECT CAST(rank AS BIGINT) AS rank, vec_id, dmin AS dist_nano"
        + " FROM (" + " UNION ALL ".join(picks) + ") ORDER BY rank"
    )


@register("q322_kcenter_coreset", _kc_oracle())
def q322_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset selection / farthest-point sampling
    (Gonzalez 1985; Sener & Savarese ICLR'18 for data selection) —
    the geometric data-selection family next to DSIR's importance
    weights (q153) and SemDeDup's redundancy removal (q151): starting
    from vector 0, repeatedly pick the corpus point FARTHEST from the
    selected set (2-approximation to the optimal k-center cover).
    Returns the selection order with each pick's covering distance —
    the radius curve a curator reads to choose k.

    Spark executes the greedy loop driver-side, holding only the
    selected VECTORS (k x 64 floats — the q102/q222 bounded
    parameter-server pattern): each step is one scan computing
    min-distance-to-selected (a fold over a k-element literal array),
    one TakeOrderedAndProject argmax, one 1-row collect. Distances
    quantize to integer nano units BEFORE min/argmax, so greedy
    tie-breaks (dist DESC, vec_id) are engine-exact.

    100 TB shape: k scans of the corpus, each narrow (no shuffle but
    the k-row top-1); selected set stays tiny by construction. The
    oracle pins each greedy step as a MATERIALIZED CTE — the same
    reasoning as q222: recursive/inlined forms explode optimizer time
    superlinearly with k."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    seed = emb.filter(F.col("vec_id") == 0).collect()[0]["e"]
    selected = [(0, list(seed))]
    remaining = emb.filter(F.col("vec_id") != 0)
    out_rows = []
    # dmin maintained incrementally: one new-distance fold per step.
    cur = remaining.select(
        "vec_id",
        "e",
        _kc_dist_nano(F.col("e"), list(seed)).alias("dmin"),
    )
    for rank in range(1, _KC_STEPS + 1):
        top = cur.orderBy(F.desc("dmin"), "vec_id").limit(1).collect()[0]
        out_rows.append((rank, top["vec_id"], top["dmin"]))
        if rank == _KC_STEPS:
            break
        new_vec = top["e"]
        cur = (
            cur.filter(F.col("vec_id") != top["vec_id"])
            .select(
                "vec_id",
                "e",
                F.least(
                    F.col("dmin"), _kc_dist_nano(F.col("e"), list(new_vec))
                ).alias("dmin"),
            )
        )
    return spark.createDataFrame(
        out_rows, "rank long, vec_id long, dist_nano long"
    )


def _kc_dist_nano(e, vec):
    """Fold ||e - vec||^2 against a literal vector, in nano units."""
    lit = F.array(*[F.lit(float(x)) for x in vec])
    return quantise(sq_dist(e, lit), 9)


# --- q324: Matryoshka truncation fidelity (round 6) ------------------------
_MRL_NQ = 20  # query panel size
_MRL_DIMS = (16, 32)  # truncation prefixes audited against full 64

_DUCK_MRL = f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_MRL_NQ}),
         c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
         scored AS (
      SELECT d.d, q.qid, c.cid,
             row_number() OVER (
               PARTITION BY d.d, q.qid
               ORDER BY CAST(round(1000000.0
                 * list_dot_product(q.qv[1:64], c.cv[1:64])
                 / (sqrt(list_dot_product(q.qv[1:64], q.qv[1:64]))
                    * sqrt(list_dot_product(c.cv[1:64], c.cv[1:64]))))
                 AS BIGINT) DESC, c.cid) AS r_full,
             row_number() OVER (
               PARTITION BY d.d, q.qid
               ORDER BY CAST(round(1000000.0
                 * list_dot_product(q.qv[1:d.d], c.cv[1:d.d])
                 / (sqrt(list_dot_product(q.qv[1:d.d], q.qv[1:d.d]))
                    * sqrt(list_dot_product(c.cv[1:d.d], c.cv[1:d.d]))))
                 AS BIGINT) DESC, c.cid) AS r_trunc
      FROM q JOIN c ON q.qid <> c.cid
      CROSS JOIN (SELECT unnest([{", ".join(str(d) for d in _MRL_DIMS)}]) AS d) d),
         rho AS (
      SELECT d, qid,
             count(*) AS n,
             CAST(sum((r_full - r_trunc) * (r_full - r_trunc)) AS BIGINT)
               AS d2
      FROM scored GROUP BY 1, 2)
    SELECT CAST(d AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(round(1000000.0 * avg(
             1.0 - 6.0 * d2 / (n * (n * 1.0 * n - 1)))) AS BIGINT)
             AS mean_spearman_e6
    FROM rho GROUP BY d ORDER BY dim
"""


@register("q324_matryoshka_fidelity", _DUCK_MRL)
def q324_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation fidelity audit (Kusupati et al., NeurIPS
    2022): how well does ranking by a PREFIX of the embedding (16 or
    32 of 64 dims) preserve the full-dimension cosine ranking? The
    answer — mean Spearman rho between the two rankings per query —
    is the number that decides whether the cheap prefix index can
    serve first-stage retrieval (the 1-bit/Hamming q290 trade in its
    dimension-reduction form). Ranks are per-query row_numbers over
    e6-QUANTIZED cosines with cid tie-breaks, so both engines produce
    identical integer ranks and the rho is exact.

    100 TB shape: the query panel broadcasts (q30's contract); per
    (dim, query) rankings partition the window by the panel key —
    corpus-sized data never sees a global window; the rho reduction
    is one bounded aggregate. The production use is offline: run once
    per embedding version to pick the serving dimension."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    dims = spark.createDataFrame([(d,) for d in _MRL_DIMS], "d int")
    pairs = emb.select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    ).crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("cid")).crossJoin(
        F.broadcast(dims)
    )

    def cos_e6(prefix) -> F.Column:
        qs = F.slice(F.col("qv"), 1, prefix)
        cs = F.slice(F.col("cv"), 1, prefix)
        return F.round(
            1000000.0 * dot(qs, cs) / (l2_norm(qs) * l2_norm(cs))
        ).cast("bigint")

    wf = Window.partitionBy("d", "qid").orderBy(
        F.desc("s_full"), F.asc("cid")
    )
    wt = Window.partitionBy("d", "qid").orderBy(
        F.desc("s_trunc"), F.asc("cid")
    )
    scored = pairs.select(
        "d",
        "qid",
        "cid",
        cos_e6(F.lit(64)).alias("s_full"),
        cos_e6(F.col("d")).alias("s_trunc"),
    ).select(
        "d",
        "qid",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wt).alias("r_trunc"),
    )
    rho = scored.groupBy("d", "qid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("r_full") - F.col("r_trunc"))
            * (F.col("r_full") - F.col("r_trunc"))
        )
        .cast("bigint")
        .alias("d2"),
    )
    return (
        rho.groupBy(F.col("d").cast("bigint").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            quantise(
                F.avg(
                  1.0
                  - 6.0
                  * F.col("d2")
                  / (F.col("n") * (F.col("n") * 1.0 * F.col("n") - 1))
              ),
                6,
            )
            .alias("mean_spearman_e6"),
        )
        .orderBy("dim")
    )


# --- round-11 wave: q440 corpus diversity coefficient -----------------------

_DUCK_DIVCOEF = """
    WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
         q AS (
      SELECT label,
             list_transform(
               e, x -> CAST(round(1000000 * x
                                  / sqrt(list_dot_product(e, e))) AS BIGINT))
               AS qv
      FROM v),
         ex AS (
      SELECT label, d, qv[d] AS qd
      FROM q, (SELECT unnest(generate_series(1, 64)) AS d) dd),
         dim AS (
      SELECT label, d,
             sum(qd) AS s,
             sum(CAST(qd AS HUGEINT) * qd) AS ss
      FROM ex GROUP BY label, d),
         agg AS (
      SELECT label,
             sum(CAST(s AS HUGEINT) * s) AS num,
             sum(ss) AS diag
      FROM dim GROUP BY label),
         cnt AS (SELECT label, count(*) AS n FROM q GROUP BY label)
    SELECT CAST(label AS BIGINT) AS label,
           CAST(n AS BIGINT) AS n_vectors,
           CAST((num - diag) // (n * (n - 1) * 1000000) AS BIGINT)
             AS mean_cos_e6,
           CAST(1000000 - (num - diag) // (n * (n - 1) * 1000000) AS BIGINT)
             AS diversity_e6
    FROM agg JOIN cnt USING (label)
    ORDER BY label
"""


@register("q440_diversity_coefficient", _DUCK_DIVCOEF)
def q440_diversity_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity coefficient per label group (the Task2Vec-style
    data-diversity measure of Miranda et al. 2023, 'Beyond Scale: the
    Diversity Coefficient as a Data Quality Metric' — mean pairwise
    embedding distance as a pretraining-mix health check): diversity =
    1 - mean pairwise cosine. The naive form is an n^2 self-join; this
    uses the MOMENT IDENTITY sum_{i!=j} v_i.v_j = ||sum_i v_i||^2 -
    sum_i ||v_i||^2 for unit vectors, collapsing all-pairs similarity
    to ONE per-dimension sum — the classic sum-of-squares trick that
    turns a quadratic statistic into a linear aggregate.

    Exactness: vectors normalize per row, then quantize each component
    to e6 integers, so every cross-row reduction is an order-free
    integer sum; squares accumulate in decimal(38,0)/HUGEINT (the q397
    overflow contract) and the final mean is a truncating integer
    division (div/// pair) at e6.

    100 TB shape (r12 rewrite): ONE corpus pass, ZERO row expansion —
    the 64 per-dimension sums, the diagonal sum and the count are 130
    codegen accumulators in a single (label)-keyed map-side-combinable
    aggregate (the original shape posexploded 64 narrow rows per
    vector through the hash aggregate and re-scanned the corpus for
    the count; measured 10x/20x cost dropped ~3x with identical
    output). The shuffle carries |labels| rows x 130 columns; the
    squared-sum fold over the 64 s_d columns runs in-row on that
    census. No self-join, no |n|^2 anything, no window. The identity
    is what makes corpus-level diversity even computable at 10^9
    vectors."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("label").cast("bigint").alias("label"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    withq = emb.select(
        "label",
        F.transform(
            "e", lambda x: F.round(1000000 * x / l2_norm(F.col("e"))).cast("bigint")
        ).alias("qv"),
    )
    dims = range(64)
    agg = withq.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr(
                "aggregate(qv, CAST(0 AS DECIMAL(38,0)),"
                " (a, x) -> a + CAST(x AS DECIMAL(20,0)) * x)"
            )
        ).alias("diag"),
        *[F.sum(F.col("qv")[d]).alias(f"s{d}") for d in dims],
    )
    num_fold = (
        "aggregate(array("
        + ", ".join(f"s{d}" for d in dims)
        + "), CAST(0 AS DECIMAL(38,0)),"
        " (a, x) -> a + CAST(x AS DECIMAL(20,0)) * x)"
    )
    den = "(CAST(n AS DECIMAL(38,0)) * (n - 1) * 1000000)"
    return (
        agg.withColumn("num", F.expr(num_fold))
        .select(
            "label",
            F.col("n").cast("bigint").alias("n_vectors"),
            F.expr(f"CAST((num - diag) div {den} AS BIGINT)").alias(
                "mean_cos_e6"
            ),
            F.expr(
                f"CAST(1000000 - (num - diag) div {den} AS BIGINT)"
            ).alias("diversity_e6"),
        )
        .orderBy("label")
    )


# --- round-12 wave: q461 IVF posting-list balance audit -----------------------

_PB_K = 16

_DUCK_PB = f"""
    WITH v AS (SELECT vec_id, {_DUCK_E} FROM embeddings),
         ranked AS (
      SELECT vec_id AS cid, e AS ce,
             row_number() OVER (ORDER BY vec_id) AS rk
      FROM v),
         panel AS (SELECT cid, ce FROM ranked WHERE rk <= {_PB_K}),
         assign AS (
      SELECT v.vec_id, p.cid,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY CAST(round(1000000 * list_aggregate(
                                    list_transform(generate_series(1, len(e)),
                                                   i -> (e[i] - ce[i]) * (e[i] - ce[i])),
                                    'sum')) AS BIGINT), p.cid) AS rn
      FROM v CROSS JOIN panel p),
         cells AS (
      SELECT cid AS cell, count(*) AS n_vecs
      FROM assign WHERE rn = 1 GROUP BY cid),
         tot AS (SELECT sum(n_vecs) AS t, count(*) AS k FROM cells)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST((10000 * n_vecs) // t AS BIGINT) AS share_bp,
           CAST((10000 * n_vecs * k) // t AS BIGINT) AS load_factor_bp
    FROM cells CROSS JOIN tot
    ORDER BY cell
"""


@register("q461_ivf_posting_balance", _DUCK_PB)
def q461_ivf_posting_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF posting-list balance audit — the index-health measurement
    next to q458's drift census (FAISS operational lore: a cell
    holding 10x its fair share makes every probe of it 10x the work,
    and nprobe tuning (q437) assumes near-uniform cells): assign every
    vector to its nearest centroid in the first-{_PB_K} panel and
    report per-cell posting size, corpus share, and load factor
    (10000 = perfectly balanced). A load factor far above 10000 says
    re-train or split the cell before it dominates query latency.

    Determinism: the q458 contract — rank-based panel, e6-quantized
    squared distances BEFORE the argmin, ties to the smaller cid; all
    outputs integer counts/bp.

    100 TB shape: the panel is one broadcast row; assignment is an
    IN-ROW argmin over {_PB_K} centroids in the scan stage; the only
    shuffle carries (cell) into a {_PB_K}-row aggregate; the
    share/load division joins two broadcast scalars."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    panel = (
        v.orderBy("vec_id")
        .limit(_PB_K)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
        .agg(F.collect_list(F.struct("cid", "ce")).alias("panel"))
    )
    cells = (
        v.crossJoin(F.broadcast(panel))
        .select(nearest_centroid(F.col("e"), F.col("panel"))["cid"].alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    # Totals via an unpartitioned window over the ALREADY-REDUCED
    # {K}-row cell frame (posture-audit-safe) — a scalar crossJoin
    # would re-execute the whole assignment subtree (the q296
    # multi-consumer recompute class).
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        cells.withColumn("t", F.sum("n_vecs").over(wall))
        .withColumn("k", F.count(F.lit(1)).over(wall))
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.expr("(10000 * n_vecs) div t").cast("bigint").alias("share_bp"),
            F.expr("(10000 * n_vecs * k) div t")
            .cast("bigint")
            .alias("load_factor_bp"),
        )
        .orderBy("cell")
    )


# --- round-12 wave: q469 embedding sanity gate --------------------------------

_DUCK_NORMGATE = f"""
    WITH v AS (SELECT vec_id, label, {_DUCK_E} FROM embeddings),
         n AS (
      SELECT label,
             CASE WHEN len(list_filter(e, x -> isnan(x) OR x IS NULL)) > 0
                  THEN -1
                  ELSE CAST(round(1000000 * list_aggregate(
                      list_transform(e, x -> x * x), 'sum')) AS BIGINT)
             END AS sq_e6,
             CASE WHEN len(list_filter(e, x -> isnan(x) OR x IS NULL)) > 0
                  THEN 1 ELSE 0 END AS has_nan
      FROM v)
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN sq_e6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_norm,
           CAST(sum(CASE WHEN sq_e6 > 0 AND sq_e6 < 250000 THEN 1 ELSE 0 END)
                AS BIGINT) AS low_norm,
           CAST(sum(CASE WHEN sq_e6 > 4000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS high_norm,
           CAST(sum(has_nan) AS BIGINT) AS nan_vecs,
           CAST((10000 * sum(CASE WHEN sq_e6 >= 250000 AND sq_e6 <= 4000000
                                       AND has_nan = 0
                                  THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
             AS pass_bp
    FROM n GROUP BY label ORDER BY label
"""


@register("q469_embedding_norm_gate", _DUCK_NORMGATE)
def q469_embedding_norm_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding sanity gate — the pre-indexing QA census every vector
    pipeline runs before building an ANN index (zero vectors collapse
    cosine to NaN, near-zero norms amplify quantization error in the
    q159/q446 PQ path, NaNs poison every distance): per label, counts
    of zero-norm, low-norm (||x||^2 < 0.25), high-norm (||x||^2 > 4),
    and NaN/NULL-element vectors (pyarrow writes NaN into nested
    lists as NULL, so a real ingest shows both), plus the pass rate of the gate. Embedding
    batches with a falling pass_bp are the upstream-encoder-regression
    signal.

    Determinism: squared norms e6-quantized to BIGINT before every
    threshold compare (the q458 discipline); thresholds are squared so
    no sqrt enters either engine.

    100 TB shape: map-only per-row fold + one label-keyed map-side-
    combinable aggregate; |labels| output rows; no joins."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    # NaN-bearing vectors get sq_e6 = -1 (a sentinel no norm bucket
    # matches) instead of quantizing NaN — CAST(NaN AS BIGINT) is
    # engine-divergent (Spark 0, DuckDB range error).
    e = F.col("embedding").cast("array<double>")
    bad = F.exists(e, lambda x: F.isnan(x) | x.isNull())
    n = emb.select(
        "label",
        F.when(bad, F.lit(-1).cast("bigint"))
        .otherwise(quantise(dot(e, e), 6))
        .alias("sq_e6"),
        F.when(bad, 1).otherwise(0).alias("has_nan"),
    )
    return (
        n.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.when(F.col("sq_e6") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("zero_norm"),
            F.sum(
                F.when((F.col("sq_e6") > 0) & (F.col("sq_e6") < 250000), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("low_norm"),
            F.sum(F.when(F.col("sq_e6") > 4000000, 1).otherwise(0))
            .cast("bigint")
            .alias("high_norm"),
            F.sum("has_nan").cast("bigint").alias("nan_vecs"),
            F.expr(
                "(10000 * sum(CASE WHEN sq_e6 >= 250000 AND sq_e6 <= 4000000"
                " AND has_nan = 0 THEN 1 ELSE 0 END)) div count(*)"
            )
            .cast("bigint")
            .alias("pass_bp"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n_vecs", "zero_norm", "low_norm", "high_norm", "nan_vecs",
            "pass_bp",
        )
        .orderBy("label")
    )


# --- round-12 wave 2: q474 embedding label-separability (pseudo-F) -----------

_DUCK_SEPARABILITY = """
    WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
         q AS (
      SELECT label,
             list_transform(
               e, x -> CAST(round(1000000 * x
                                  / sqrt(list_dot_product(e, e))) AS BIGINT))
               AS qv
      FROM v),
         ex AS (
      SELECT label, d, qv[d] AS qd
      FROM q, (SELECT unnest(generate_series(1, 64)) AS d) dd),
         dim AS (
      SELECT label, d,
             sum(qd) AS s,
             sum(CAST(qd AS HUGEINT) * qd) AS ssq
      FROM ex GROUP BY label, d),
         cnt AS (SELECT label, count(*) AS n FROM q GROUP BY label),
         lab AS (
      SELECT label,
             sum(CAST(s AS HUGEINT) * s) AS num,
             sum(ssq) AS sumsq
      FROM dim GROUP BY label),
         labm AS (
      SELECT lab.label, cnt.n,
             num // cnt.n AS between_term,
             sumsq - num // cnt.n AS within_ss
      FROM lab JOIN cnt USING (label)),
         gdim AS (SELECT d, sum(s) AS gs FROM dim GROUP BY d),
         gtot AS (
      SELECT (SELECT sum(CAST(gs AS HUGEINT) * gs) FROM gdim) AS gnum,
             (SELECT sum(n) FROM cnt) AS nn,
             (SELECT count(*) FROM cnt) AS k,
             (SELECT sum(between_term) FROM labm) AS bt,
             (SELECT sum(within_ss) FROM labm) AS wt),
         chv AS (
      SELECT CAST((1000 * (bt - gnum // nn) * (nn - k))
                  // ((k - 1) * wt) AS BIGINT) AS ch_index_milli,
             CAST(bt - gnum // nn AS HUGEINT) AS between_total,
             wt AS within_total
      FROM gtot)
    SELECT CAST(labm.label AS BIGINT) AS label,
           CAST(labm.n AS BIGINT) AS n_vectors,
           CAST(labm.between_term // labm.n AS BIGINT) AS centroid_sq_e12,
           CAST(labm.within_ss // labm.n AS BIGINT) AS within_mean_e12,
           CAST((10000 * labm.within_ss) // chv.within_total AS BIGINT)
             AS within_share_bp,
           chv.ch_index_milli
    FROM labm CROSS JOIN chv
    ORDER BY label
"""


@register("q474_embedding_separability", _DUCK_SEPARABILITY)
def q474_embedding_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label separability of the embedding space — the Calinski-
    Harabasz pseudo-F (Calinski & Harabasz, Comm. Stat. 1974):
    between-label scatter over within-label scatter, the ANOVA
    decomposition applied to the corpus's declared domains. The
    data-curation question it answers: do the embedding clusters
    actually SEPARATE the label/domain partition the mixture design
    (q164/q448/q453) and SemDeDup clustering (q151/q456) assume? A
    CH index near 0 says domain-aware curation is operating on noise;
    the per-label within/between split names which domain is the
    blur. Same moment discipline as q440: NO pairwise or per-vector
    distance — everything derives from per-(label, dim) sums, because
    sum_i ||x_i - mu||^2 = sum_i ||x_i||^2 - ||sum_i x_i||^2 / n.

    Exactness: vectors normalize per row and quantize to e6 integers
    (the q440 contract), so scatter terms are order-free integer sums
    in decimal(38,0)/HUGEINT; every division is a truncating integral
    div on non-negative operands — engine-identical.

    100 TB shape (r12 rewrite, the q440 treatment): ONE corpus pass,
    ZERO row expansion — count, the in-row ||q||^2 fold and the 64
    per-dimension sums are 66 codegen accumulators in a single
    (label)-keyed map-side-combinable aggregate; the checkpointed
    |labels| x 66 census then feeds the per-label scatter terms, the
    1-row global gnum reduce, and the CH scalar that broadcasts back
    onto the |labels|-row output. No join touches the corpus; at
    10^9 vectors this is the same ONE flat pass as q440 (measured:
    1.3x at 20x corpus growth vs 5.1x for the posexplode form)."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings")).select(
        F.col("label").cast("bigint").alias("label"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    withq = emb.select(
        "label",
        F.transform(
            "e", lambda x: F.round(1000000 * x / l2_norm(F.col("e"))).cast("bigint")
        ).alias("qv"),
    )
    # r12 rewrite (the q440 treatment): ONE corpus pass, zero row
    # expansion — count, the in-row ||q||^2 fold and the 64 per-dim
    # sums are 66 codegen accumulators in a single (label)-keyed
    # map-side-combinable aggregate; every downstream term (per-label
    # scatter, global gnum) derives from that |labels| x 66 census.
    dims = range(64)
    lab = materialize(withq.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr(
                "aggregate(qv, CAST(0 AS DECIMAL(38,0)),"
                " (a, x) -> a + CAST(x AS DECIMAL(20,0)) * x)"
            )
        ).alias("sumsq"),
        *[F.sum(F.col("qv")[d]).alias(f"s{d}") for d in dims],
    ))  # |labels|-row census; feeds labm AND gnum
    sq_fold = (
        "aggregate(array("
        + ", ".join(f"s{d}" for d in dims)
        + "), CAST(0 AS DECIMAL(38,0)),"
        " (a, x) -> a + CAST(x AS DECIMAL(20,0)) * x)"
    )
    labm = lab.select(
        "label",
        "n",
        F.expr(f"({sq_fold}) div n").alias("between_term"),
        F.expr(f"sumsq - ({sq_fold}) div n").alias("within_ss"),
    )
    gnum = lab.agg(
        *[F.sum(F.col(f"s{d}")).alias(f"g{d}") for d in dims]
    ).select(
        F.expr(
            "aggregate(array("
            + ", ".join(f"g{d}" for d in dims)
            + "), CAST(0 AS DECIMAL(38,0)),"
            " (a, x) -> a + CAST(x AS DECIMAL(20,0)) * x)"
        ).alias("gnum")
    )
    glob = (
        labm.agg(
            F.sum("between_term").alias("bt"),
            F.sum("within_ss").alias("wt"),
            F.sum("n").alias("nn"),
            F.count(F.lit(1)).alias("k"),
        )
        .crossJoin(F.broadcast(gnum))
        .select(
            # DECIMAL(38,0) product (HUGEINT in the oracle, the q397
            # contract): scatter totals are e12-scaled, so the milli
            # numerator can pass 2^63 on big corpora.
            F.expr(
                "CAST((CAST(1000 AS DECIMAL(38,0))"
                " * (bt - gnum div nn) * (nn - k))"
                " div ((k - 1) * wt) AS BIGINT)"
            ).alias("ch_index_milli"),
            F.col("wt").alias("within_total"),
        )
    )
    return (
        labm.crossJoin(F.broadcast(glob))
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("n").cast("bigint").alias("n_vectors"),
            F.expr("CAST(between_term div n AS BIGINT)").alias(
                "centroid_sq_e12"
            ),
            F.expr("CAST(within_ss div n AS BIGINT)").alias(
                "within_mean_e12"
            ),
            F.expr(
                "CAST((10000 * within_ss) div within_total AS BIGINT)"
            ).alias("within_share_bp"),
            "ch_index_milli",
        )
        .orderBy("label")
    )
