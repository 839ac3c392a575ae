"""Round-4 coverage wave: distributed ML math over embeddings.

The three one-pass reductions every large-scale trainer needs from its
data engine — each is a narrow per-row expression followed by ONE
keyed (or 10-key / 64-key) aggregation, which is exactly the shape
that survives a 100x scale-up:

- Full-batch logistic-regression gradient (the inner loop of
  distributed GD: broadcast weights, one pass, map-side partial
  sums). At 100 TB this IS the training step; frameworks differ only
  in what wraps the loop.
- Johnson-Lindenstrauss random projection (Achlioptas 2003: +-1 sign
  matrix) with a measured pairwise-distance distortion check — the
  cheap dimensionality reduction in front of clustering/ANN.
- Calibration / reliability bins (Niculescu-Mizil & Caruana 2005):
  predicted-probability deciles vs observed positive rate — the
  standard model-eval table.
- Naive Bayes, trained by aggregation and applied by broadcast join
  (McCallum & Nigam 1998) — the canonical token-level model whose
  parameters ARE aggregates, so 'training' needs no framework at all.

Numeric policy (the engine's cents policy, applied to ML floats):
transcendentals (exp) evaluate per row; every cross-row float is
quantized per row to integer micro-units and summed as bigint, so the
reduction is order-free and engine-identical. Within-row folds
(dot products, projections) run in identical left-to-right order in
both engines (the q159-proven construct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import DUCK_TOKENIZE
from ooh_etl_spark.operators.similarity import dot, sq_dist
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents, load_table, parallelize_rows

_DIM = 64

#: Deterministic weight vector: w_d = ((d*37) % 21 - 10) / 7, d 0-based.
#: int / 7.0 is one IEEE division of exact operands, so the Python
#: literal, the Spark lit() and the DuckDB arithmetic all produce the
#: identical double. The /7 scale makes the fixture's logits span
#: roughly (-2.7, 2.7) -> probabilities cover all 10 calibration bins.
_W = [((d * 37) % 21 - 10) / 7.0 for d in range(_DIM)]
_DUCK_W = "((((i-1)*37)%21-10)/7.0)"  # DuckDB's 1-based list index i


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings -> (vec_id, e, y, p): label -> binary target, fixed
    broadcast weights -> logit -> sigmoid. The weight vector is a
    64-element array literal — the '100 TB broadcast' is 512 bytes."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    w = F.array(*[F.lit(x) for x in _W])
    v = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        (F.col("label") % 2).cast("bigint").alias("y"),
    )
    return v.withColumn("p", 1.0 / (1.0 + F.exp(-dot(F.col("e"), w))))


_DUCK_SCORED = f"""
      SELECT vec_id, e, y,
             1.0/(1.0 + exp(-list_aggregate(list_transform(
               generate_series(1, {_DIM}), i -> e[i] * {_DUCK_W}), 'sum'))) AS p
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
                   label % 2 AS y FROM embeddings)
"""

# --- q168: logistic-regression gradient step ----------------------------
_DUCK_GRAD = f"""
    WITH s AS ({_DUCK_SCORED}),
         g AS (
      SELECT u.i - 1 AS dim,
             CAST(round((s.p - s.y) * s.e[u.i] * 1000000) AS BIGINT) AS gmu
      FROM s, unnest(generate_series(1, {_DIM})) AS u(i))
    SELECT dim, CAST(sum(gmu) AS BIGINT) AS grad_micro, count(*) AS n
    FROM g GROUP BY dim ORDER BY dim
"""


@register("q168_logreg_gradient", _DUCK_GRAD)
def q168_logreg_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full-batch gradient of L(w) = logloss(sigmoid(w . x), y)
    over the embedding table: grad_d = sum_rows (p - y) * x_d, with the
    per-row contribution quantized to integer micro-units before the
    sum (order-free — the cents policy on ML floats).

    100 TB shape: weights broadcast as a literal; the row pass is
    narrow codegen (fold + exp); posexplode emits 64 rows per vector
    but the groupBy(dim) partial-aggregates them to <= 64 rows per
    partition BEFORE the one tiny shuffle (64 keys). The driver-side
    update w -= lr * g is 64 doubles — the classic parameter-server
    round, with the data never leaving the executors. Iterating this
    query IS distributed gradient descent; q102/q103 (k-means, power
    iteration) follow the same loop contract."""
    s = _scored(spark, sf_dir)
    return (
        s.select(
            "p",
            "y",
            F.posexplode("e").alias("dim", "x"),
        )
        .select(
            "dim",
            quantise((F.col("p") - F.col("y")) * F.col("x"), 6)
            .alias("gmu"),
        )
        .groupBy("dim")
        .agg(F.sum("gmu").alias("grad_micro"), F.count(F.lit(1)).alias("n"))
        .orderBy("dim")
    )


# --- q169: Johnson-Lindenstrauss projection distortion ------------------
_JL_K = 8  # target dimensionality
_JL_SAMPLE = 50  # fixed audit sample: 50 vectors -> 1225 pairs

_DUCK_JL = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < {_JL_SAMPLE}),
         pr AS (
      SELECT vec_id, e,
             list_transform(generate_series(0, {_JL_K - 1}), k ->
               list_aggregate(list_transform(generate_series(1, {_DIM}),
                 i -> e[i] * (CASE WHEN (i * (k+1)) % 31 % 2 = 0
                              THEN 1.0 ELSE -1.0 END)), 'sum')) AS pj
      FROM v),
         pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_aggregate(list_transform(generate_series(1, {_DIM}),
               i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i])), 'sum') AS d2o,
             list_aggregate(list_transform(generate_series(1, {_JL_K}),
               k -> (a.pj[k] - b.pj[k]) * (a.pj[k] - b.pj[k])), 'sum')
               / {_JL_K}.0 AS d2p
      FROM pr a JOIN pr b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b,
           CAST(round(1000000.0 * d2p / d2o) AS BIGINT) AS ratio_ppm
    FROM pairs ORDER BY vec_a, vec_b
"""


@register("q169_jl_projection", _DUCK_JL)
def q169_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection, 64 -> 8 dims, audited by
    its distance-distortion ratio on a fixed 50-vector sample: for each
    pair, ratio = ||proj(a)-proj(b)||^2 / (k * ||a-b||^2)... i.e. the
    projected squared distance (normalized by 1/k) over the original —
    E[ratio] = 1 under the JL guarantee. The sign matrix is
    deterministic arithmetic on (dim, k) — Achlioptas 2003 shows +-1
    entries suffice; no engine hash builtin is used because Spark's and
    DuckDB's hashes differ. The sign formula must NOT be GF(2)-linear
    in (d, k): any parity of a*d + b*k collapses to a rank-1
    checkerboard whose 8 "projections" are one projection with
    alternating sign (the original %2 form had exactly this defect —
    caught in round-4 review). sign = parity of ((d+1)(k+1) mod 31) is
    multiplicative mixing, measured rank 8/8, and the fixture-pair
    distortion ratios land mean 0.94-0.99, range [0.04, 3.4] across
    sf0.001-sf0.1.

    The projection itself (pr) is the production operator: a narrow
    per-row nested fold (8 outputs x 64-element fold), zero shuffles,
    running in whole-stage codegen — at 100 TB it's a map-only pass
    that cuts downstream ANN/clustering cost 8x. The pairwise audit
    joins a 50-row broadcast sample with itself — constant cost at any
    corpus size (the sample is fixed, not a fraction)."""
    emb = parallelize_rows(load_table(spark, sf_dir, "embeddings"))
    v = emb.filter(F.col("vec_id") < _JL_SAMPLE).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )

    def sign(d, k):
        # parity of ((d+1)*(k+1) mod 31): multiplicative mixing, full
        # rank (8/8) — see the docstring's GF(2)-linearity warning.
        return F.when((((d + 1) * (k + 1)) % 31 % 2) == 0, 1.0).otherwise(-1.0)

    pj = F.transform(
        F.sequence(F.lit(0), F.lit(_JL_K - 1)),
        lambda k: F.aggregate(
            F.zip_with(
                "e",
                F.sequence(F.lit(0), F.lit(_DIM - 1)),
                lambda x, d: x * sign(d, k),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    pr = v.withColumn("pj", pj)
    a = pr.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("pj").alias("pa"),
    )
    b = pr.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("pj").alias("pb"),
    )
    d2o = sq_dist(F.col("ea"), F.col("eb"))
    d2p = sq_dist(F.col("pa"), F.col("pb")) / float(_JL_K)
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(1_000_000.0 * d2p / d2o).cast("bigint").alias("ratio_ppm"),
        )
        .orderBy("vec_a", "vec_b")
    )


# --- q170: calibration / reliability bins -------------------------------
_DUCK_CAL = f"""
    WITH s AS ({_DUCK_SCORED}),
         b AS (
      SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, y,
             CAST(round(p * 1000000) AS BIGINT) AS pmu
      FROM s)
    SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos,
           CAST(round(sum(pmu) * 1.0 / count(*)) AS BIGINT) AS mean_pred_ppm,
           CAST(round(sum(y) * 1000000.0 / count(*)) AS BIGINT) AS pos_ppm
    FROM b GROUP BY bin ORDER BY bin
"""


@register("q170_calibration_bins", _DUCK_CAL)
def q170_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the q168 model: predicted probabilities
    bucketed into deciles (bin 9 absorbs p = 1.0), each bin reporting
    count, positives, mean predicted probability, and observed positive
    rate — a calibrated model has mean_pred_ppm tracking pos_ppm.

    Exactness: the bin id floors the probability (integer); per-row
    probabilities quantize to micro-units before the bigint sum; both
    rate columns divide integer sums by integer counts, so the final
    rounding is engine-identical. One 10-key shuffle after map-side
    partials — the whole table reduces to 10 rows regardless of
    corpus size."""
    s = _scored(spark, sf_dir)
    b = s.select(
        F.least(F.floor(F.col("p") * 10).cast("bigint"), F.lit(9)).alias("bin"),
        "y",
        quantise("p", 6).alias("pmu"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("pos"),
            F.round(F.sum("pmu") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_pred_ppm"),
            F.round(F.sum("y") * 1_000_000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("pos_ppm"),
        )
        .orderBy("bin")
    )


# --- q187/q188: naive Bayes — train by aggregation, classify by join ----
_NB_TOP = 5

_DUCK_NB_TRAIN = f"""
    WITH tok AS (
      SELECT lang, unnest({DUCK_TOKENIZE}) AS token FROM documents),
         ct AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
         nl AS (SELECT lang, count(*) AS n_l FROM tok GROUP BY 1),
         v AS (SELECT count(DISTINCT token) AS v FROM tok),
         ll AS (
      SELECT ct.lang, ct.token, ct.cnt,
             CAST(round(1000000 * ln((ct.cnt + 1.0) / (nl.n_l + v.v)))
                  AS BIGINT) AS loglik_micro,
             row_number() OVER (PARTITION BY ct.lang
                                ORDER BY ct.cnt DESC, ct.token) AS rk
      FROM ct JOIN nl USING (lang) CROSS JOIN v)
    SELECT lang, token, cnt, loglik_micro
    FROM ll WHERE rk <= {_NB_TOP}
    ORDER BY lang, cnt DESC, token
"""


@register("q187_naive_bayes_train", _DUCK_NB_TRAIN)
def q187_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes TRAINING as pure aggregation (the
    McCallum & Nigam 1998 formulation): per-class token counts,
    add-one-smoothed log-likelihoods ln((c+1)/(N_l + V)) in integer
    micro-nats, top-5 tokens per language shown. Training a model
    whose parameters ARE aggregates is the canonical 'learn at 100 TB
    without a training framework' case: one token shuffle with
    map-side partials builds every parameter; V and the class totals
    are 1-row/|classes|-row broadcasts.

    Engine-exactness: counts are integers; the single ln() evaluates
    on an exact integer ratio and quantizes to micro-nats per
    PARAMETER (no cross-row float sums anywhere)."""
    docs = load_documents(spark, sf_dir)
    from ooh_etl_spark.functions.text import tokenize

    tok = docs.select("lang", F.explode_outer(tokenize(F.col("text"))).alias("token"))
    ct = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    nl = tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    v = tok.agg(F.countDistinct("token").alias("v"))

    ll = (
        ct.join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang",
            "token",
            "cnt",
            quantise(F.log((F.col("cnt") + 1.0) / (F.col("n_l") + F.col("v"))), 6)
            .alias("loglik_micro"),
            F.row_number()
            .over(
                Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
            )
            .alias("rk"),
        )
    )
    return (
        ll.filter(F.col("rk") <= _NB_TOP)
        .select("lang", "token", "cnt", "loglik_micro")
        .orderBy("lang", F.col("cnt").desc(), "token")
    )


_DUCK_NB_CLASSIFY = f"""
    WITH tok AS (
      SELECT doc_id, lang AS actual, unnest({DUCK_TOKENIZE}) AS token
      FROM documents),
         ct AS (SELECT actual AS lang, token, count(*) AS cnt
                FROM tok GROUP BY 1, 2),
         nl AS (SELECT actual AS lang, count(*) AS n_l FROM tok GROUP BY 1),
         v AS (SELECT count(DISTINCT token) AS v FROM tok),
         d AS (SELECT count(*) AS d FROM documents),
         dl AS (SELECT lang, count(*) AS d_l FROM documents GROUP BY 1),
         params AS (
      SELECT nl.lang, nl.n_l,
             CAST(round(1000000 * ln(dl.d_l * 1.0 / d.d)) AS BIGINT)
               AS prior_micro,
             CAST(round(1000000 * ln(1.0 / (nl.n_l + v.v))) AS BIGINT)
               AS default_micro,
             v.v
      FROM nl JOIN dl USING (lang) CROSS JOIN v CROSS JOIN d),
         ll AS (
      SELECT ct.lang, ct.token,
             CAST(round(1000000 * ln((ct.cnt + 1.0) / (p.n_l + p.v)))
                  AS BIGINT) AS loglik_micro
      FROM ct JOIN params p ON ct.lang = p.lang),
         contrib AS (
      SELECT t.doc_id, t.actual, p.lang,
             coalesce(ll.loglik_micro, p.default_micro) AS c_micro
      FROM tok t
      CROSS JOIN params p
      LEFT JOIN ll ON ll.lang = p.lang AND ll.token = t.token),
         scores AS (
      SELECT c.doc_id, c.actual, c.lang,
             sum(c.c_micro) + min(p.prior_micro) AS score
      FROM contrib c JOIN params p ON c.lang = p.lang
      GROUP BY 1, 2, 3),
         best AS (
      SELECT doc_id, actual, lang AS predicted,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rk
      FROM scores)
    SELECT actual, predicted, count(*) AS n
    FROM best WHERE rk = 1
    GROUP BY actual, predicted
    ORDER BY actual, predicted
"""


@register("q188_naive_bayes_classify", _DUCK_NB_CLASSIFY)
def q188_naive_bayes_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes CLASSIFICATION of every document against the q187
    model (train and apply in one lineage — at production the params
    table persists between the two), reported as the actual x
    predicted confusion matrix. Per-token contributions are integer
    micro-nats (unseen tokens take the class's smoothed default), so
    the per-(doc, class) score is an order-free bigint sum; argmax is
    min(struct(-score, lang)) — max score, ties to the smaller
    language code, matching the oracle's row_number tie-break.

    100 TB shape: the parameter table (|classes| x |vocab|) broadcasts;
    scoring is tokens x classes rows keyed back to (doc, class) with
    map-side partial sums; the confusion rollup is |classes|^2 rows.
    Nothing driver-side but the broadcast.

    Honesty note on the FIXTURE: the synthetic documents draw all five
    'languages' from one shared 31-word vocabulary, so the Bayes-
    optimal accuracy here barely clears the majority-class prior
    (~0.44); the pytest bound asserts accuracy >= majority rate — the
    classifier extracts what little signal exists — rather than a
    number this fixture cannot support. The operator's value is the
    SHAPE: train-by-aggregation + broadcast-scored apply, oracle-exact
    end to end."""
    docs = load_documents(spark, sf_dir)
    from ooh_etl_spark.functions.text import tokenize

    tok = docs.select(
        "doc_id",
        F.col("lang").alias("actual"),
        F.explode_outer(tokenize(F.col("text"))).alias("token"),
    )
    # checkpoint the (|classes| x |vocab|)-bounded count table and
    # derive the class totals and vocab size FROM it — computing them
    # from `tok` re-ran the corpus tokenization per consumer (audited:
    # 10 parquet scans of documents in one plan; now 2 tokenizing
    # passes: one to train, one to score).
    ct = materialize(
        tok.groupBy(F.col("actual").alias("lang"), "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nl = ct.groupBy("lang").agg(F.sum("cnt").alias("n_l"))
    v = ct.agg(F.countDistinct("token").alias("v"))
    d = docs.agg(F.count(F.lit(1)).alias("d"))
    dl = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("d_l"))
    params = materialize(
        nl.join(dl, "lang")
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(d))
        .select(
            "lang",
            "n_l",
            "v",
            quantise(F.log(F.col("d_l") * 1.0 / F.col("d")), 6)
            .alias("prior_micro"),
            quantise(F.log(1.0 / (F.col("n_l") + F.col("v"))), 6)
            .alias("default_micro"),
        )
        # |classes| rows; feeds scoring AND loglik
    )
    ll = ct.join(params, "lang").select(
        "lang",
        "token",
        quantise(F.log((F.col("cnt") + 1.0) / (F.col("n_l") + F.col("v"))), 6)
        .alias("loglik_micro"),
    )
    llr = ll.select(
        F.col("lang").alias("ll_lang"),
        F.col("token").alias("ll_token"),
        "loglik_micro",
    )
    contrib = (
        tok.crossJoin(F.broadcast(params.select("lang", "default_micro", "prior_micro")))
        .join(
            F.broadcast(llr),
            (F.col("ll_lang") == F.col("lang"))
            & (F.col("ll_token") == F.col("token")),
            "left",
        )
        .select(
            "doc_id",
            "actual",
            "lang",
            "prior_micro",
            F.coalesce(F.col("loglik_micro"), F.col("default_micro")).alias(
                "c_micro"
            ),
        )
    )
    scores = contrib.groupBy("doc_id", "actual", "lang").agg(
        (F.sum("c_micro") + F.min("prior_micro")).alias("score")
    )
    best = (
        scores.groupBy("doc_id", "actual")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"), F.col("lang"))).alias("m"))
        .select("doc_id", "actual", F.col("m.lang").alias("predicted"))
    )
    return (
        best.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual", "predicted")
    )


@register(
    "q196_roc_auc",
    """
    WITH scored AS (
      SELECT CAST(label % 2 AS INT) AS y,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS s
      FROM embeddings),
         hist AS (
      SELECT s, sum(y) AS pos, sum(1 - y) AS neg FROM scored GROUP BY s),
         cum AS (
      SELECT pos, neg,
             coalesce(sum(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM hist)
    SELECT CAST(sum(pos) AS BIGINT) AS pos_n,
           CAST(sum(neg) AS BIGINT) AS neg_n,
           CAST(round(1000000 * sum(pos * (2 * neg_below + neg))
                      / (2.0 * sum(pos) * sum(neg))) AS BIGINT) AS auc_e6
    FROM cum
    """,
)
def q196_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC as the Mann-Whitney rank-sum (Hanley & McNeil 1982),
    computed from the SCORE HISTOGRAM rather than per-row ranks:
    group rows by quantized score -> (pos, neg) counts, then one
    ordered pass accumulates, for each score bucket, the number of
    negatives strictly below it; AUC = sum(pos * (neg_below +
    neg_tied/2)) / (P*N), with ties at the same score worth 1/2 by
    the trapezoid convention. All terms stay exact integers (the *2
    trick keeps the half-credit integral) until the single final
    division, quantized to 1e-6 for the cross-engine hash.

    100 TB design: the per-row pass is ONE groupBy on the quantized
    score. The subsequent global ordered window runs over the score
    HISTOGRAM, whose size is bounded by the 1e6 quantization grid
    (~4M rows for scores in [-2,2]) regardless of corpus size — the
    same bounded-small-table argument as q145's contingency cells and
    q161's KS distinct-value CDF grid, so the `WindowExec: No
    Partition Defined` here never sees corpus-scale input. Binary
    label derived as label % 2 (driver fixture has 10 classes);
    score = first embedding component, float32->double widened
    exactly in both engines before quantization."""
    emb = load_table(spark, sf_dir, "embeddings")

    scored = emb.select(
        (F.col("label") % 2).alias("y"),
        quantise(F.element_at("embedding", 1).cast("double"), 6)
        .alias("s"),
    )
    hist = scored.groupBy("s").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("neg_below"),
    )
    return cum.agg(
        F.sum("pos").cast("bigint").alias("pos_n"),
        F.sum("neg").cast("bigint").alias("neg_n"),
        F.round(
            1000000
            * F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg")))
            / (2.0 * F.sum("pos") * F.sum("neg"))
        )
        .cast("bigint")
        .alias("auc_e6"),
    )


@register(
    "q205_knn_shapley",
    """
    WITH q AS (SELECT vec_id AS query_id, label AS qy,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, label AS cy, embedding::DOUBLE[] AS cv
               FROM embeddings),
         d AS (
      SELECT query_id, qy, vec_id, cy,
             list_dot_product(qv, qv) + list_dot_product(cv, cv)
               - 2 * list_dot_product(qv, cv) AS dist2
      FROM q JOIN c ON vec_id != query_id),
         r AS (
      SELECT query_id, vec_id,
             CASE WHEN cy = qy THEN 1 ELSE 0 END AS m,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist2, vec_id) AS i
      FROM d),
         t AS (
      SELECT query_id, vec_id, i,
             CAST(round(1000000000.0
                        * (m - coalesce(lead(m) OVER (PARTITION BY query_id
                                                      ORDER BY i), 0))
                        / greatest(i, 5)) AS BIGINT) AS tj
      FROM r),
         s AS (
      SELECT query_id, vec_id,
             sum(tj) OVER (PARTITION BY query_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS phi_e9
      FROM t),
         ranked AS (
      SELECT query_id, vec_id, CAST(phi_e9 AS BIGINT) AS phi_e9,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY phi_e9 DESC, vec_id)
                  AS BIGINT) AS rank
      FROM s)
    SELECT query_id, vec_id, phi_e9, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q205_knn_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN-Shapley data valuation (Jia et al., VLDB 2019): the
    Shapley value of each training point for a K-NN classifier has a
    closed form over the distance-sorted sequence — s_i = s_{i+1} +
    (1[y_i=y] - 1[y_{i+1}=y]) / max(i, K) — which unrolls into a
    SUFFIX SUM of per-rank terms, i.e. pure windows, no recursion.
    Emits the top-5 most valuable training points per query (K=5).
    Determinism: distances use the dot-product identity
    |a-b|^2 = a.a + b.b - 2a.b with the q30-precedent fold primitives
    (bit-identical to DuckDB's list_dot_product), the sort order ties
    on vec_id, and each 1/max(i,K) term is quantized to nano-units
    BEFORE the suffix sum — so the running sum adds exact integers in
    any order, sidestepping FP non-associativity inside window
    frames (Spark's reversed running-agg vs DuckDB's segment tree).

    100 TB design: queries broadcast (q30's kNN shape); scoring is a
    narrow per-row fold in the scan stage; every window partitions by
    query_id, so the cost is one per-query distance sort — the exact
    method's true complexity. For large query sets the documented
    scale path is an IVF/LSH prefilter (q31/q53) bounding each
    query's candidate set before exact valuation."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qy"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    c = emb.select(
        "vec_id",
        F.col("label").alias("cy"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    d = (
        c.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (F.col("cy") == F.col("qy")).cast("int").alias("m"),
            (
                dot(F.col("qv"), F.col("qv"))
                + dot(F.col("cv"), F.col("cv"))
                - 2 * dot(F.col("qv"), F.col("cv"))
            ).alias("dist2"),
        )
    )
    w_i = Window.partitionBy("query_id").orderBy("dist2", "vec_id")
    r = d.select(
        "query_id", "vec_id", "m", F.row_number().over(w_i).alias("i")
    )
    w_ord = Window.partitionBy("query_id").orderBy("i")
    t = r.select(
        "query_id",
        "vec_id",
        "i",
        F.round(
            1000000000.0
            * (F.col("m") - F.lead("m", 1, 0).over(w_ord))
            / F.greatest(F.col("i"), F.lit(5))
        )
        .cast("bigint")
        .alias("tj"),
    )
    w_suf = Window.partitionBy("query_id").orderBy("i").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    s = t.select(
        "query_id",
        "vec_id",
        F.sum("tj").over(w_suf).cast("bigint").alias("phi_e9"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("phi_e9"), "vec_id"
    )
    return (
        s.select(
            "query_id",
            "vec_id",
            "phi_e9",
            F.row_number().over(w_rank).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


@register(
    "q209_embedding_gram",
    f"""
    SELECT CAST(g1.i - 1 AS BIGINT) AS i,
           CAST(g2.j - 1 AS BIGINT) AS j,
           CAST(SUM(CAST(FLOOR(CAST(embedding[g1.i] AS DOUBLE)
                          * CAST(embedding[g2.j] AS DOUBLE)
                          * 1000000000) AS BIGINT)) AS BIGINT) AS gram_nano,
           COUNT(*) AS n_vec
    FROM embeddings,
         generate_series(1, {_DIM}) AS g1(i),
         generate_series(1, {_DIM}) AS g2(j)
    WHERE g1.i <= g2.j
    GROUP BY 1, 2
    ORDER BY i, j
    """,
)
def q209_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix X'X of the embedding table — the tall-skinny
    reduction behind PCA / covariance / linear-regression normal
    equations (the RowMatrix.computeGramianMatrix shape): n×d rows in,
    one d(d+1)/2-element upper triangle out, one pass over the data.

    Implementation: a numpy partial-Gram inside Arrow-batched
    ``mapInPandas`` — each executor computes its batch's quantized
    outer-product sum locally (chunked einsum, memory bounded at
    chunk × d² regardless of batch size) and emits ONE d(d+1)/2-row
    partial, so the shuffle carries partials × triangle rows no matter
    how many vectors scan — the identical contract the whole-stage-
    codegen expression form provides. The expression form (a nested
    ``transform`` over the upper triangle, kept in
    ``tests/test_linkage_ml.py``) is machine-checked equal in pytest;
    the numpy path is the registered one because dense
    per-row outer products are exactly where vectorized C beats
    row-expression codegen — measured 2.44 s → 0.08 s (~25×) at
    sf0.1 on local[32]. Determinism is unchanged: float64 products,
    floor to nano-int64, integer sums — bit-identical to the
    expression form AND the DuckDB oracle (proven by both gates).
    Covariance follows client-side from q104's per-dim means; the
    statistics-facing normalization is q234.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    d = _DIM
    iu = np.triu_indices(d)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((d, d), dtype=np.int64)
            for lo in range(0, len(X), 1024):  # bound peak memory
                chunk = X[lo : lo + 1024]
                prods = np.einsum("ni,nj->nij", chunk, chunk)
                acc += np.floor(prods * 1e9).astype(np.int64).sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int64"),
                    "j": iu[1].astype("int64"),
                    "gram_nano": acc[iu],
                    "n_vec": np.int64(len(X)),
                }
            )

    return (
        emb.select("embedding")
        .mapInPandas(op, schema="i long, j long, gram_nano long, n_vec long")
        .groupBy("i", "j")
        .agg(
            F.sum("gram_nano").alias("gram_nano"),
            F.sum("n_vec").alias("n_vec"),
        )
        .orderBy("i", "j")
    )


@register(
    "q233_lift_gains_table",
    f"""
    WITH s AS ({_DUCK_SCORED}),
         hist AS (
      SELECT CAST(round(1000000 * p) AS BIGINT) AS p_e6,
             count(*) AS n, sum(y) AS pos
      FROM s GROUP BY 1),
         cum AS (
      SELECT p_e6, n, pos,
             sum(n) OVER w AS cum_n,
             sum(pos) OVER w AS cum_pos
      FROM hist
      WINDOW w AS (ORDER BY p_e6 DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (SELECT sum(n) AS tn, sum(pos) AS tp FROM hist),
         dec AS (
      SELECT CAST(CEIL(cum_n * 10.0 / t.tn) AS BIGINT) AS decile,
             max(cum_n) AS cum_n, max(cum_pos) AS cum_pos,
             max(t.tn) AS tn, max(t.tp) AS tp
      FROM cum CROSS JOIN tot t
      GROUP BY 1)
    SELECT decile,
           CAST(cum_n AS BIGINT) AS cum_n,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(FLOOR(10000.0 * cum_pos / tp) AS BIGINT) AS gains_bp,
           CAST(FLOOR(10000.0 * cum_pos * tn / (tp * cum_n)) AS BIGINT)
             AS lift_bp
    FROM dec
    ORDER BY decile
    """,
)
def q233_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table (the campaign-targeting readout
    next to q170's calibration and q196's AUC): sort by model score
    descending, and at each population decile report what fraction of
    all positives is captured (gains) and how much better than random
    that is (lift = gains / population share). Random scoring has
    lift 1.0 everywhere; a useful model front-loads positives.

    Scale shape is q196's histogram-window contract: the corpus pass
    is ONE aggregate onto the quantized-score grid (p_e6, bounded by
    the quantization, never corpus rows); the descending cumulative
    window and decile rollup run over that bounded histogram. Lift is
    computed by integer cross-multiplication inside one double op
    (exact inputs, both engines identical); the decile of a histogram
    row is CEIL on exact integers.
    """
    s = _scored(spark, sf_dir)
    hist = (
        s.select(
            quantise("p", 6).alias("p_e6"), "y"
        )
        .groupBy("p_e6")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    w = (
        Window.orderBy(F.desc("p_e6"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "p_e6",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("pos").over(w).alias("cum_pos"),
    )
    tot = hist.agg(F.sum("n").alias("tn"), F.sum("pos").alias("tp"))
    dec = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(
            F.ceil(F.col("cum_n") * 10.0 / F.col("tn")).cast("bigint").alias(
                "decile"
            )
        )
        .agg(
            F.max("cum_n").alias("cum_n"),
            F.max("cum_pos").alias("cum_pos"),
            F.max("tn").alias("tn"),
            F.max("tp").alias("tp"),
        )
    )
    return dec.select(
        "decile",
        F.col("cum_n").cast("bigint").alias("cum_n"),
        F.col("cum_pos").cast("bigint").alias("cum_pos"),
        F.floor(10000.0 * F.col("cum_pos") / F.col("tp"))
        .cast("bigint")
        .alias("gains_bp"),
        F.floor(
            10000.0 * F.col("cum_pos") * F.col("tn")
            / (F.col("tp") * F.col("cum_n"))
        )
        .cast("bigint")
        .alias("lift_bp"),
    ).orderBy("decile")


@register(
    "q234_embedding_correlation",
    f"""
    WITH v AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS q
      FROM embeddings),
         dim AS (
      SELECT g.i - 1 AS i, count(*) AS n,
             sum(q[g.i]) AS s, sum(q[g.i] * q[g.i]) AS ss
      FROM v, generate_series(1, {_DIM}) AS g(i)
      GROUP BY 1),
         pair AS (
      SELECT g1.i - 1 AS i, g2.j - 1 AS j,
             sum(q[g1.i] * q[g2.j]) AS sij
      FROM v, generate_series(1, {_DIM}) AS g1(i),
              generate_series(1, {_DIM}) AS g2(j)
      WHERE g1.i < g2.j
      GROUP BY 1, 2)
    SELECT p.i, p.j,
           CAST(round(1000000.0
             * (p.sij * 1.0 / a.n - (a.s * 1.0 / a.n) * (b.s * 1.0 / b.n))
             / sqrt((a.ss * 1.0 / a.n - (a.s * 1.0 / a.n) * (a.s * 1.0 / a.n))
                    * (b.ss * 1.0 / b.n
                       - (b.s * 1.0 / b.n) * (b.s * 1.0 / b.n))))
             AS BIGINT) AS corr_e6
    FROM pair p
    JOIN dim a ON a.i = p.i
    JOIN dim b ON b.i = p.j
    ORDER BY p.i, p.j
    """,
)
def q234_embedding_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the embedding dimensions — the
    statistics-facing companion to q209's Gram: redundant (highly
    correlated) dimensions are what PCA/JL (q169) compress away, and
    the feature-selection signal q146 gives for categoricals. Every
    moment (Σv, Σv², Σv_iv_j) accumulates as EXACT bigints over
    micro-quantized components; the per-pair r divides moments FIRST
    (means, then covariance) so no product of global sums can
    overflow — int64 headroom holds to ~10^6 vectors at unit-scale
    components, beyond which the documented swap is decimal(38,0)
    accumulators (the money.py precedent). The final r is one
    identical IEEE expression on exact integers, quantized to 1e-6.

    Shape: q209's triangle explode (shuffle bounded by partitions x
    d(d-1)/2) plus a d-row moment table joined back — both joins are
    register-sized. One corpus pass total.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: quantise(x.cast("double"), 6),
    )
    base = emb.select(q.alias("q"))
    dim = (
        base.select(
            F.posexplode("q").alias("i", "v"),
        )
        .groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("ss"),
        )
    )
    tri = F.flatten(
        F.transform(
            F.col("q"),
            lambda vi, i: F.transform(
                F.slice(F.col("q"), i + 2, F.size(F.col("q")) - i - 1),
                lambda vj, rel: F.struct(
                    i.alias("i"),
                    (i + 1 + rel).alias("j"),
                    (vi * vj).alias("p"),
                ),
            ),
        )
    )
    pair = (
        base.select(F.explode(tri).alias("s"))
        .select(F.col("s.i").alias("i"), F.col("s.j").alias("j"), F.col("s.p").alias("p"))
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sij"))
    )
    a = dim.select(
        F.col("i").alias("ai"), F.col("n").alias("an"), F.col("s").alias("as_"),
        F.col("ss").alias("ass"),
    )
    b = dim.select(
        F.col("i").alias("bi"), F.col("n").alias("bn"), F.col("s").alias("bs"),
        F.col("ss").alias("bss"),
    )
    ma = F.col("as_") * 1.0 / F.col("an")
    mb = F.col("bs") * 1.0 / F.col("bn")
    cov = F.col("sij") * 1.0 / F.col("an") - ma * mb
    va = F.col("ass") * 1.0 / F.col("an") - ma * ma
    vb = F.col("bss") * 1.0 / F.col("bn") - mb * mb
    return (
        pair.join(F.broadcast(a), pair.i == F.col("ai"))
        .join(F.broadcast(b), pair.j == F.col("bi"))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            F.round(1000000.0 * cov / F.sqrt(va * vb)).cast("bigint").alias(
                "corr_e6"
            ),
        )
        .orderBy("i", "j")
    )


@register(
    "q274_youden_threshold",
    """
    WITH scored AS (
      SELECT CAST(label % 2 AS INT) AS y,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
               AS s
      FROM embeddings),
         hist AS (
      SELECT s, sum(y) AS pos, sum(1 - y) AS neg FROM scored GROUP BY s),
         tot AS (SELECT sum(pos) AS p, sum(neg) AS n FROM hist),
         cum AS (
      SELECT s,
             sum(pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(neg) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM hist),
         j AS (
      SELECT c.s, c.tp, c.fp, t.p, t.n,
             c.tp * t.n - c.fp * t.p AS j_num
      FROM cum c CROSS JOIN tot t)
    SELECT CAST(s AS BIGINT) AS threshold_e6,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(round(1000000.0 * j_num / (p * n)) AS BIGINT) AS youden_e6
    FROM j
    ORDER BY j_num DESC, s
    LIMIT 1
    """,
)
def q274_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal decision threshold by Youden's J (Youden 1950): the
    score cutoff maximizing TPR − FPR over the ROC curve — what turns
    q196's AUC (ranking quality) into an OPERATING POINT (the
    threshold you actually deploy when false positives and negatives
    cost the same). J = tp/P − fp/N compares by the integer cross
    product tp·N − fp·P (q216's division-free move), so the argmax is
    exact; ties resolve to the LOWER threshold (more sensitive
    operating point) deterministically.

    Shape is q196's contract verbatim: the corpus pass is ONE
    score-histogram aggregate; the descending cumulative window and
    the argmax run over the quantization-bounded histogram, never
    corpus rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("label") % 2).cast("int").alias("y"),
        quantise(F.element_at("embedding", 1).cast("double"), 6)
        .alias("s"),
    )
    hist = scored.groupBy("s").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    tot = hist.agg(F.sum("pos").alias("p"), F.sum("neg").alias("n"))
    w = Window.orderBy(F.desc("s")).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "s",
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
    )
    j = cum.crossJoin(F.broadcast(tot)).withColumn(
        "j_num", F.col("tp") * F.col("n") - F.col("fp") * F.col("p")
    )
    return (
        j.orderBy(F.desc("j_num"), "s")
        .limit(1)
        .select(
            F.col("s").cast("bigint").alias("threshold_e6"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            F.round(1000000.0 * F.col("j_num") / (F.col("p") * F.col("n")))
            .cast("bigint")
            .alias("youden_e6"),
        )
    )


@register(
    "q275_expected_calibration_error",
    f"""
    WITH s AS ({_DUCK_SCORED}),
         bins AS (
      SELECT least(CAST(FLOOR(p * 10) AS INT), 9) AS bin,
             count(*) AS n, sum(y) AS pos,
             sum(CAST(round(p * 1000000) AS BIGINT)) AS conf_sum_e6
      FROM s GROUP BY 1),
         tot AS (SELECT sum(n) AS nn FROM bins)
    SELECT CAST(t.nn AS BIGINT) AS n_total,
           count(*) AS n_bins,
           CAST(round(sum(
             abs(b.pos * 1000000.0 / b.n - b.conf_sum_e6 * 1.0 / b.n)
             * b.n) / t.nn) AS BIGINT) AS ece_e6,
           CAST(max(round(
             abs(b.pos * 1000000.0 / b.n - b.conf_sum_e6 * 1.0 / b.n)))
             AS BIGINT) AS mce_e6
    FROM bins b CROSS JOIN tot t
    GROUP BY t.nn
    """,
)
def q275_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected & maximum calibration error (Naeini et al. AAAI'15) —
    the single-number summaries of q170's reliability diagram: per
    decile bin, |observed positive rate − mean predicted probability|,
    weighted by bin mass (ECE) or maxed (MCE). A model can have great
    AUC (q196) and terrible ECE — ranking and calibration are
    different failures, and probability consumers (bidders,
    thresholds, risk models) break on the second.

    Exactness: bin membership is exact on the score float's decile
    floor; confidences quantize to 1e-6 per row BEFORE the bin sum;
    per-bin gaps evaluate on exact integers and the weighted mean is
    one division. One 10-key aggregate over the scan.
    """
    s = _scored(spark, sf_dir)
    bins = (
        s.select(
            F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias(
                "bin"
            ),
            "y",
            quantise("p", 6).alias("conf_e6"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("pos"),
            F.sum("conf_e6").alias("conf_sum_e6"),
        )
    )
    tot = bins.agg(F.sum("n").alias("nn"))
    gap = F.abs(
        F.col("pos") * 1000000.0 / F.col("n")
        - F.col("conf_sum_e6") * 1.0 / F.col("n")
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .groupBy("nn")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.round(F.sum(gap * F.col("n")) / F.first("nn"))
            .cast("bigint")
            .alias("ece_e6"),
            F.max(F.round(gap)).cast("bigint").alias("mce_e6"),
        )
        .select(
            F.col("nn").cast("bigint").alias("n_total"),
            "n_bins",
            "ece_e6",
            "mce_e6",
        )
    )


@register(
    "q276_average_precision",
    """
    WITH scored AS (
      SELECT CAST(label % 2 AS INT) AS y,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
               AS s
      FROM embeddings),
         hist AS (
      SELECT s, sum(y) AS pos, count(*) AS n FROM scored GROUP BY s),
         cum AS (
      SELECT s, pos,
             sum(pos) OVER w AS tp,
             sum(n) OVER w AS pred
      FROM hist WINDOW w AS (ORDER BY s DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (SELECT sum(pos) AS p FROM hist)
    SELECT CAST(t.p AS BIGINT) AS n_pos,
           CAST(round(1000000.0 * sum(c.pos * c.tp * 1.0 / c.pred) / t.p)
                AS BIGINT) AS ap_e6
    FROM cum c CROSS JOIN tot t
    GROUP BY t.p
    """,
)
def q276_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision / PR-AUC (the class-imbalance-honest
    companion to q196's ROC-AUC — with 1% positives a model can have
    0.99 ROC-AUC and useless precision; the PR curve can't hide
    that): AP = Σ_t ΔRecall(t) · Precision(t), which over the score
    HISTOGRAM collapses to Σ pos_s · (TP_s / Pred_s) / P — each
    threshold group contributes its positives times the precision at
    its cutoff. All terms are exact integer ratios inside one double
    product per histogram row.

    Shape: q196's contract — one score-histogram aggregate, one
    descending cumulative window over the quantization-bounded
    histogram, a 1-row total broadcast.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("label") % 2).cast("int").alias("y"),
        quantise(F.element_at("embedding", 1).cast("double"), 6)
        .alias("s"),
    )
    hist = scored.groupBy("s").agg(
        F.sum("y").alias("pos"), F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.desc("s")).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "pos",
        F.sum("pos").over(w).alias("tp"),
        F.sum("n").over(w).alias("pred"),
    )
    tot = hist.agg(F.sum("pos").alias("p"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("p")
        .agg(
            F.round(
                1000000.0
                * F.sum(F.col("pos") * F.col("tp") * 1.0 / F.col("pred"))
                / F.first("p")
            )
            .cast("bigint")
            .alias("ap_e6")
        )
        .select(F.col("p").cast("bigint").alias("n_pos"), "ap_e6")
    )


@register(
    "q277_brier_score",
    f"""
    WITH s AS ({_DUCK_SCORED})
    SELECT count(*) AS n,
           CAST(sum(CAST(round((p - y) * (p - y) * 1000000) AS BIGINT))
                // count(*) AS BIGINT) AS brier_e6,
           CAST(sum(CASE WHEN (p >= 0.5) = (y = 1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct_at_half
    FROM s
    """,
)
def q277_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (Brier 1950) — the proper scoring rule mean
    (p − y)²: unlike accuracy it rewards honest probabilities, unlike
    ECE (q275) it can't be gamed by binning, and its decomposition
    underlies both. Per-row squared errors quantize to 1e-6 BEFORE
    the sum (order-free), with floor division for the mean (positive
    operands — engine-identical); accuracy at the 0.5 cutoff rides
    along for reference. One narrow pass + a 1-row aggregate —
    deliberately the simplest entry in the eval suite (q196 AUC /
    q276 AP / q274 threshold / q275 ECE / this), which together form
    the full model-eval readout.
    """
    s = _scored(spark, sf_dir)
    sq = quantise((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 6)
    return s.agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum(sq) / F.count(F.lit(1))).cast("bigint").alias("brier_e6"),
        F.sum(
            ((F.col("p") >= 0.5) == (F.col("y") == 1)).cast("int")
        )
        .cast("bigint")
        .alias("n_correct_at_half"),
    )


@register(
    "q278_logloss",
    f"""
    WITH s AS ({_DUCK_SCORED})
    SELECT count(*) AS n,
           CAST(sum(CAST(round(-1000000.0 *
                 CASE WHEN y = 1 THEN ln(p) ELSE ln(1.0 - p) END)
               AS BIGINT)) // count(*) AS BIGINT) AS logloss_e6
    FROM s
    """,
)
def q278_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entropy / log loss — the third proper scoring rule next
    to Brier (q277) and the training objective itself (q168 descends
    its gradient): mean −[y·ln p + (1−y)·ln(1−p)] in micro-nats,
    per-row quantized before the sum (q187's ln contract — the
    sigmoid output is the same IEEE double on both engines, so each
    row's ln matches exactly). Log loss punishes confident mistakes
    unboundedly where Brier saturates — the difference that makes it
    the right early-warning metric for overconfident models. One
    narrow pass, 1-row aggregate.
    """
    s = _scored(spark, sf_dir)
    term = quantise(
        -F.when(F.col("y") == 1, F.log(F.col("p"))).otherwise(
          F.log(1.0 - F.col("p"))
      ),
        6,
    )
    return s.agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum(term) / F.count(F.lit(1)))
        .cast("bigint")
        .alias("logloss_e6"),
    )


# --- q294: isotonic calibration (PAVA via the minimax closed form) -------
_DUCK_ISO = f"""
    WITH s AS ({_DUCK_SCORED}),
         b AS (
      SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
             count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM s GROUP BY 1),
         c AS (
      SELECT bin, n, pos,
             sum(n) OVER (ORDER BY bin) AS cn,
             sum(pos) OVER (ORDER BY bin) AS cy
      FROM b),
         pairs AS (
      SELECT j.bin AS j, k.bin AS k,
             (k.cy - j.cy + j.pos) * 1.0 / (k.cn - j.cn + j.n) AS seg_mean
      FROM c j JOIN c k ON j.bin <= k.bin),
         lvl1 AS (
      SELECT i.bin AS bin, p.j, min(p.seg_mean) AS mn
      FROM b i JOIN pairs p ON p.j <= i.bin AND p.k >= i.bin
      GROUP BY 1, 2),
         fit AS (SELECT bin, max(mn) AS fitted FROM lvl1 GROUP BY bin)
    SELECT f.bin, CAST(b.n AS BIGINT) AS n,
           CAST(round(1000000.0 * b.pos / b.n) AS BIGINT) AS raw_ppm,
           CAST(round(1000000.0 * f.fitted) AS BIGINT) AS fitted_ppm
    FROM fit f JOIN b USING (bin) ORDER BY bin
"""


@register("q294_isotonic_calibration", _DUCK_ISO)
def q294_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the q168 model's probabilities — the
    pool-adjacent-violators fit (Barlow et al. 1972; Zadrozny & Elkan
    KDD'02 for calibration) computed via the minimax closed form:
    fitted_i = max_{{j<=i}} min_{{k>=i}} mean(y over bins j..k). On the
    B=10 decile bins this is an O(B^3) dataframe computation over a
    10-row aggregate — no iterative pooling loop, no driver logic —
    so the 'algorithm' part is pure relational algebra and the only
    data-scale work is q170's one 10-key binning shuffle.

    Exactness: segment means are integer-sum ratios evaluated
    identically in both engines; min/max over identical doubles are
    order-free; outputs quantize to ppm. The fitted sequence is
    monotone non-decreasing by construction (property-tested).

    100 TB shape: the corpus pass is one map-side-combinable
    aggregation to B rows; everything after is constant-size. The
    same minimax form extends to any B small enough to cross-join
    (B^2 segment rows) — beyond that, the standard move is the
    parallel PAVA merge in applyInPandas, which this query
    deliberately avoids needing."""
    s = _scored(spark, sf_dir)
    b = materialize(
        s.select(
            F.least(F.floor(F.col("p") * 10).cast("bigint"), F.lit(9)).alias(
                "bin"
            ),
            "y",
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").cast("bigint").alias("pos"))
        # 10 rows; feeds cumsums, bin rows, output
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("pos").over(wc).alias("cy"),
    )
    j = c.select(
        F.col("bin").alias("j"),
        F.col("pos").alias("j_pos"),
        F.col("n").alias("j_n"),
        F.col("cn").alias("j_cn"),
        F.col("cy").alias("j_cy"),
    )
    k = c.select(
        F.col("bin").alias("k"), F.col("cn").alias("k_cn"), F.col("cy").alias("k_cy")
    )
    pairs = j.join(k, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("k_cy") - F.col("j_cy") + F.col("j_pos"))
            * 1.0
            / (F.col("k_cn") - F.col("j_cn") + F.col("j_n"))
        ).alias("seg_mean"),
    )
    i = b.select(F.col("bin"), "n", "pos")
    lvl1 = (
        i.join(pairs, (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")))
        .groupBy("bin", "j")
        .agg(F.min("seg_mean").alias("mn"))
    )
    fit = lvl1.groupBy("bin").agg(F.max("mn").alias("fitted"))
    return (
        fit.join(b, "bin")
        .select(
            "bin",
            F.col("n").cast("bigint").alias("n"),
            F.round(1000000.0 * F.col("pos") / F.col("n"))
            .cast("bigint")
            .alias("raw_ppm"),
            quantise("fitted", 6).alias("fitted_ppm"),
        )
        .orderBy("bin")
    )


# --- q298: split-conformal prediction intervals --------------------------
_CONF_LEVEL_BP = 9000  # 90% target coverage

_DUCK_CONFORMAL = f"""
    WITH ev AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS vc,
             event_id % 2 = 0 AS is_cal
      FROM events),
         pred AS (
      SELECT event_type,
             CAST(sum(CASE WHEN is_cal THEN vc END) AS BIGINT) AS s_cal,
             CAST(sum(CASE WHEN is_cal THEN 1 ELSE 0 END) AS BIGINT) AS n_cal
      FROM ev GROUP BY 1),
         res AS (
      SELECT e.event_type, e.event_id, e.is_cal,
             CAST(round(abs(e.vc - p.s_cal * 1.0 / p.n_cal) * 10000)
                  AS BIGINT) AS r_e4
      FROM ev e JOIN pred p USING (event_type)),
         ranked AS (
      SELECT event_type, r_e4,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY r_e4, event_id) AS rk
      FROM res WHERE is_cal),
         radius AS (
      SELECT r.event_type, r.r_e4 AS rad_e4
      FROM ranked r JOIN pred p USING (event_type)
      WHERE r.rk = CAST(ceil({_CONF_LEVEL_BP} / 10000.0 * (p.n_cal + 1))
                        AS BIGINT)),
         cov AS (
      SELECT s.event_type,
             count(*) AS n_test,
             CAST(sum(CASE WHEN s.r_e4 <= radius.rad_e4
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM res s JOIN radius USING (event_type)
      WHERE NOT s.is_cal GROUP BY 1)
    SELECT c.event_type, p.n_cal, CAST(c.n_test AS BIGINT) AS n_test,
           CAST(radius.rad_e4 // 10000 AS BIGINT) AS radius_cents,
           CAST(round(c.n_covered * 10000.0 / c.n_test) AS BIGINT)
             AS coverage_bp
    FROM cov c JOIN radius USING (event_type) JOIN pred p USING (event_type)
    ORDER BY c.event_type
"""


@register("q298_conformal_intervals", _DUCK_CONFORMAL)
def q298_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk 2005; Lei et al.,
    JASA 2018): per event type, fit a trivial model on the calibration
    half (even event ids; prediction = calibration mean), take the
    ceil((1-alpha)(n+1))-th order statistic of absolute calibration
    residuals as the interval radius, and AUDIT finite-sample coverage
    on the held-out half — the distribution-free guarantee says
    coverage >= 90% in expectation regardless of the model. This is
    the modern uncertainty wrapper every ML scoring pipeline should
    ship next to q170's calibration bins and q294's isotonic fit.

    Exactness: residuals quantize to 1e-4 cents before ranking (ties
    then break on event_id), the radius is a discrete order statistic,
    and the coverage comparison runs on the same quantized integers —
    no float boundary can disagree between engines.

    100 TB shape: two combinable aggregates (per-type sums, coverage
    counts) + one per-type window for the order statistic; the
    calibration-residual sort partitions by event_type. For heavy
    per-type volumes the order statistic swaps to the q281 histogram
    rank-map, same as q297's pooled quantile."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        quantise("value", 2).alias("vc"),
        (F.col("event_id") % 2 == 0).alias("is_cal"),
    )
    # checkpoint the bounded per-type tables (calibration stats and
    # interval radii): each feeds two consumers, and without the
    # checkpoints the corpus aggregate re-ran per consumer (audited:
    # 7 parquet scans of events in one plan; now 3).
    pred = materialize(ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_cal"), F.col("vc"))).cast("bigint").alias("s_cal"),
        F.sum(F.when(F.col("is_cal"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_cal"),
    ))
    res = ev.join(pred, "event_type").select(
        "event_type",
        "event_id",
        "is_cal",
        "n_cal",
        quantise(F.abs(F.col("vc") - F.col("s_cal") * 1.0 / F.col("n_cal")), 4)
        .alias("r_e4"),
    )
    wr = Window.partitionBy("event_type").orderBy("r_e4", "event_id")
    ranked = res.filter("is_cal").select(
        "event_type",
        "r_e4",
        "n_cal",
        F.row_number().over(wr).alias("rk"),
    )
    radius = materialize(ranked.filter(
        F.col("rk")
        == F.ceil(_CONF_LEVEL_BP / 10000.0 * (F.col("n_cal") + 1)).cast("bigint")
    ).select("event_type", F.col("r_e4").alias("rad_e4")))
    cov = (
        res.filter(~F.col("is_cal"))
        .join(radius, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("r_e4") <= F.col("rad_e4"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        cov.join(radius, "event_type")
        .join(pred.select("event_type", "n_cal"), "event_type")
        .select(
            "event_type",
            "n_cal",
            "n_test",
            (F.col("rad_e4") / 10000).cast("bigint").alias("radius_cents"),
            F.round(F.col("n_covered") * 10000.0 / F.col("n_test"))
            .cast("bigint")
            .alias("coverage_bp"),
        )
        .orderBy("event_type")
    )


# --- q303: IPS / SNIPS offline policy evaluation -------------------------
_DUCK_IPS = """
    WITH lg AS (
      SELECT event_type AS arm,
             CASE WHEN value >= 50 THEN 1 ELSE 0 END AS r,
             CASE WHEN (user_id % 2 = 0 AND event_type = 'click')
                    OR (user_id % 2 = 1 AND event_type = 'view')
                  THEN 1 ELSE 0 END AS m
      FROM events),
         cells AS (
      SELECT arm, r, m, count(*) AS c FROM lg GROUP BY 1, 2, 3),
         arms AS (
      SELECT arm, sum(c) AS na FROM cells GROUP BY 1),
         tot AS (SELECT sum(c) AS n FROM cells),
         wsum AS (
      SELECT sum(cells.c * cells.m * tot.n * 1.0 / arms.na) AS sw,
             sum(cells.c * cells.m * cells.r * tot.n * 1.0 / arms.na) AS srw,
             sum(cells.c * cells.m
                 * (tot.n * 1.0 / arms.na) * (tot.n * 1.0 / arms.na)) AS sww,
             sum(cells.c * cells.r) * 1.0 / max(tot.n) AS behavior_avg,
             CAST(sum(cells.c * cells.m) AS BIGINT) AS matched,
             CAST(max(tot.n) AS BIGINT) AS n
      FROM cells JOIN arms USING (arm) CROSS JOIN tot)
    SELECT n, matched,
           CAST(round(1000000.0 * srw / n) AS BIGINT) AS ips_e6,
           CAST(round(1000000.0 * srw / sw) AS BIGINT) AS snips_e6,
           CAST(round(1000.0 * sw * sw / sww) AS BIGINT) AS ess_e3,
           CAST(round(1000000.0 * behavior_avg) AS BIGINT) AS behavior_e6
    FROM wsum
"""


@register("q303_ips_offline_eval", _DUCK_IPS)
def q303_ips_offline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a contextual bandit policy from logged
    data (Horvitz & Thompson JASA 1952; Swaminathan & Joachims
    JMLR 2015 for SNIPS): estimate the reward a NEW policy (click for
    even users, view for odd) would earn, using only the logged arms,
    rewards, and empirical behavior propensities — value_IPS =
    mean(r * 1[a = pi(x)] / p(a)), plus the self-normalized SNIPS
    variant (lower variance, the production default) and the effective
    sample size (sw^2/sww) that says whether the estimate is usable.

    Exactness: all sums reduce to integer cell counts times weights
    that take only |arms| distinct values — the per-row float sum
    collapses to a <=20-cell closed form identical in both engines.

    100 TB shape: ONE combinable (arm, reward, match) cell aggregate;
    propensities and the IPS sums are arithmetic over the bounded cell
    table — logs never shuffle twice, the same shape as q293."""
    ev = load_table(spark, sf_dir, "events")
    lg = ev.select(
        F.col("event_type").alias("arm"),
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("r"),
        F.when(
            ((F.col("user_id") % 2 == 0) & (F.col("event_type") == "click"))
            | ((F.col("user_id") % 2 == 1) & (F.col("event_type") == "view")),
            1,
        )
        .otherwise(0)
        .alias("m"),
    )
    # checkpoint the <=20-row cell table: it feeds the arm totals, the
    # grand total, and the weighted sums (3 corpus scans otherwise).
    cells = materialize(
        lg.groupBy("arm", "r", "m")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    arms = cells.groupBy("arm").agg(F.sum("c").alias("na"))
    tot = cells.agg(F.sum("c").alias("n"))
    joined = cells.join(F.broadcast(arms), "arm").crossJoin(F.broadcast(tot))
    iw = F.col("n") * 1.0 / F.col("na")  # 1/p(a) as n/na
    wsum = joined.agg(
        F.sum(F.col("c") * F.col("m") * iw).alias("sw"),
        F.sum(F.col("c") * F.col("m") * F.col("r") * iw).alias("srw"),
        F.sum(F.col("c") * F.col("m") * iw * iw).alias("sww"),
        (F.sum(F.col("c") * F.col("r")) * 1.0 / F.max("n")).alias("behavior_avg"),
        F.sum(F.col("c") * F.col("m")).cast("bigint").alias("matched"),
        F.max("n").cast("bigint").alias("n"),
    )
    return wsum.select(
        "n",
        "matched",
        F.round(1000000.0 * F.col("srw") / F.col("n")).cast("bigint").alias("ips_e6"),
        F.round(1000000.0 * F.col("srw") / F.col("sw"))
        .cast("bigint")
        .alias("snips_e6"),
        F.round(1000.0 * F.col("sw") * F.col("sw") / F.col("sww"))
        .cast("bigint")
        .alias("ess_e3"),
        quantise("behavior_avg", 6).alias("behavior_e6"),
    )


# --- q305: Qini uplift curve ---------------------------------------------
_DUCK_QINI = """
    WITH base AS (
      SELECT l_partkey % 10 AS score_bucket,
             CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS t,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem),
         cells AS (
      SELECT score_bucket,
             CAST(sum(t) AS BIGINT) AS n_t,
             CAST(sum(1 - t) AS BIGINT) AS n_c,
             CAST(sum(t * y) AS BIGINT) AS y_t,
             CAST(sum((1 - t) * y) AS BIGINT) AS y_c
      FROM base GROUP BY 1),
         cum AS (
      SELECT score_bucket, n_t, n_c, y_t, y_c,
             sum(y_t) OVER w AS cy_t, sum(n_t) OVER w AS cn_t,
             sum(y_c) OVER w AS cy_c, sum(n_c) OVER w AS cn_c
      FROM cells
      WINDOW w AS (ORDER BY score_bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT CAST(score_bucket AS BIGINT) AS score_bucket, n_t, n_c,
           CAST(round(10000.0 * (y_t * 1.0 / n_t - y_c * 1.0 / n_c))
                AS BIGINT) AS uplift_bp,
           CAST(round(1000.0 * (cy_t - cy_c * cn_t * 1.0 / cn_c))
                AS BIGINT) AS qini_e3
    FROM cum ORDER BY score_bucket DESC
"""


@register("q305_qini_uplift", _DUCK_QINI)
def q305_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve (Radcliffe 2007 — the evaluation standard for
    uplift/heterogeneous-treatment-effect models): rank units by a
    model score (here a placeholder decile bucket; the MACHINERY is
    the operator), then cumulate Qini(k) = Y_t(k) - Y_c(k) * N_t(k)/
    N_c(k) down the ranking — a model that targets persuadables shows
    a steep early curve vs the random-targeting diagonal. Treatment =
    discounted line item, outcome = returned; per-bucket raw uplift
    rides alongside.

    Determinism: the four cell counts per bucket are integers; the
    cumulative window runs over the 10-row bucket table in a fixed
    order; ratios round once.

    100 TB shape: ONE (bucket, t, y) combinable aggregate over the
    fact table; the cumulative window is over |buckets| rows — the
    same bounded-window form as q206's yield curve. A real model
    score plugs in by swapping the bucket expression; nothing else
    changes."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_partkey") % 10).alias("score_bucket"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("t"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cells = base.groupBy("score_bucket").agg(
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_c"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("y_t"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("bigint").alias("y_c"),
    )
    w = (
        Window.orderBy(F.desc("score_bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "*",
        F.sum("y_t").over(w).alias("cy_t"),
        F.sum("n_t").over(w).alias("cn_t"),
        F.sum("y_c").over(w).alias("cy_c"),
        F.sum("n_c").over(w).alias("cn_c"),
    )
    return cum.select(
        F.col("score_bucket").cast("bigint").alias("score_bucket"),
        "n_t",
        "n_c",
        quantise(F.col("y_t") * 1.0 / F.col("n_t") - F.col("y_c") * 1.0 / F.col("n_c"), 4)
        .alias("uplift_bp"),
        quantise(F.col("cy_t") - F.col("cy_c") * F.col("cn_t") * 1.0 / F.col("cn_c"), 3)
        .alias("qini_e3"),
    ).orderBy(F.desc("score_bucket"))


# --- q339: stratified k-fold assignment (round 6) --------------------------
_KFOLD = 5

_DUCK_KFOLD = f"""
    WITH a AS (
      SELECT lang,
             (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1)
               % {_KFOLD} AS fold
      FROM documents)
    SELECT CAST(fold AS BIGINT) AS fold, lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM a GROUP BY fold, lang ORDER BY fold, lang
"""


@register("q339_stratified_kfold", _DUCK_KFOLD)
def q339_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment (Kohavi IJCAI'95 for
    why stratification: per-fold class balance cuts CV variance) —
    the split every evaluation pipeline needs to be REPRODUCIBLE:
    fold = (rank within stratum by doc_id) mod k, which makes fold
    sizes within each stratum differ by at most 1 (exact balance, not
    expected balance) and the assignment a pure function of the data.
    Output is the (fold, stratum) census — the audit table reviewers
    check before trusting any CV number.

    100 TB shape: one window partitioned by the stratum key (never
    global), one census aggregate. When strata are corpus-sized the
    documented swap is hash-mod assignment (fold = xxhash64(id) % k —
    balance becomes binomial instead of exact, no window at all);
    this exact form is right whenever an auditable, perfectly
    balanced split matters more than avoiding one partitioned
    window."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    a = docs.select(
        "lang", ((F.row_number().over(w) - 1) % _KFOLD).alias("fold")
    )
    return (
        a.groupBy(F.col("fold").cast("bigint").alias("fold"), "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("fold", "lang")
    )


# --- q343: B-cubed clustering evaluation (round 6) -------------------------
_BC_K = 8  # deterministic clustering: nearest of the first-8 vectors

_DUCK_BCUBED = f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
               FROM embeddings),
         c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {_BC_K}),
         d AS (
      SELECT v.vec_id, v.label, c.cid,
             list_aggregate(list_transform(generate_series(1, len(e)),
                            i -> (e[i] - ce[i]) * (e[i] - ce[i])), 'sum')
               AS dist
      FROM v CROSS JOIN c),
         a AS (
      SELECT vec_id, label, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      FROM d),
         asg AS (SELECT vec_id, label, cid AS cluster FROM a WHERE rk = 1),
         cell AS (
      SELECT cluster, label, CAST(count(*) AS BIGINT) AS n
      FROM asg GROUP BY 1, 2),
         cs AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS nc
                FROM cell GROUP BY cluster),
         ls AS (SELECT label, CAST(sum(n) AS BIGINT) AS nl
                FROM cell GROUP BY label),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cell),
         pr AS (
      SELECT sum(cell.n * cell.n * 1.0 / cs.nc) / tot.nn AS p,
             sum(cell.n * cell.n * 1.0 / ls.nl) / tot.nn AS r
      FROM cell JOIN cs USING (cluster) JOIN ls USING (label)
      CROSS JOIN tot GROUP BY tot.nn)
    SELECT CAST(round(1000000.0 * p) AS BIGINT) AS bcubed_precision_e6,
           CAST(round(1000000.0 * r) AS BIGINT) AS bcubed_recall_e6,
           CAST(round(1000000.0 * 2 * p * r / (p + r)) AS BIGINT)
             AS bcubed_f1_e6
    FROM pr
"""


@register("q343_bcubed_cluster_eval", _DUCK_BCUBED)
def q343_bcubed_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed clustering evaluation (Bagga & Baldwin 1998; Amigo et
    al. 2009 showed it is the only common cluster metric satisfying
    all four formal constraints) of the engine's deterministic
    centroid clustering (q102/q151's nearest-of-first-K rule) against
    the gold labels: per-item precision = fraction of the item's
    cluster sharing its label, recall = fraction of its label class
    in its cluster — both collapse to closed forms over the (cluster,
    label) CONTINGENCY TABLE: P = (1/N) sum n_cl^2/n_c, R = (1/N) sum
    n_cl^2/n_l. The eval loop every dedup/ER clustering (q49, q151,
    q194) needs before its output is trusted.

    100 TB shape: assignment is the broadcast-centroid argmin (one
    narrow pass); everything after runs on the |clusters| x |labels|
    contingency — bounded category sets, one aggregate + two rollups
    of it (checkpointed: three consumers). Pair-counting metrics
    (Rand, ARI) are one more closed form over the same table."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = emb.filter(F.col("vec_id") < _BC_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    cagg = cents.agg(F.collect_list(F.struct("cid", "ce")).alias("cents"))
    argmin = F.aggregate(
        F.transform(
            "cents",
            lambda cent: F.struct(
                sq_dist(F.col("e"), cent["ce"]).alias("dist"), cent["cid"].alias("cid")
            ),
        ),
        F.struct(
            F.lit(float("inf")).alias("dist"),
            F.lit(2**62).cast("long").alias("cid"),
        ),
        lambda acc, x: F.when(
            (x["dist"] < acc["dist"])
            | ((x["dist"] == acc["dist"]) & (x["cid"] < acc["cid"])),
            x,
        ).otherwise(acc),
    )
    asg = emb.crossJoin(F.broadcast(cagg)).select(
        "label", argmin["cid"].alias("cluster")
    )
    cell = materialize(
        asg.groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        # contingency feeds 3 rollups + the metric
    )
    cs = cell.groupBy("cluster").agg(F.sum("n").cast("bigint").alias("nc"))
    ls = cell.groupBy("label").agg(F.sum("n").cast("bigint").alias("nl"))
    tot = cell.agg(F.sum("n").cast("bigint").alias("nn"))
    pr = (
        cell.join(F.broadcast(cs), "cluster")
        .join(F.broadcast(ls), "label")
        .crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(F.col("n") * F.col("n") * 1.0 / F.col("nc"))
                / F.max("nn")
            ).alias("p"),
            (
                F.sum(F.col("n") * F.col("n") * 1.0 / F.col("nl"))
                / F.max("nn")
            ).alias("r"),
        )
    )
    return pr.select(
        quantise("p", 6).alias("bcubed_precision_e6"),
        quantise("r", 6).alias("bcubed_recall_e6"),
        F.round(1000000.0 * 2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r")))
        .cast("bigint")
        .alias("bcubed_f1_e6"),
    )


# --- q355: weight of evidence / information value (round 6) ----------------
_WOE_BINS = 8

_DUCK_WOE = f"""
    WITH d AS (
      SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT),
                   {_WOE_BINS - 1}) AS bin,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders),
         cell AS (
      SELECT bin,
             CAST(sum(y) AS BIGINT) AS pos,
             CAST(sum(1 - y) AS BIGINT) AS neg
      FROM d GROUP BY bin),
         tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS tp, CAST(sum(neg) AS BIGINT) AS tn
      FROM cell),
         woe AS (
      SELECT bin, pos, neg,
             ln(((pos + 0.5) / tp) / ((neg + 0.5) / tn)) AS w,
             (pos + 0.5) / tp - (neg + 0.5) / tn AS dd
      FROM cell CROSS JOIN tot)
    SELECT bin, pos, neg,
           CAST(round(1000000.0 * w) AS BIGINT) AS woe_e6,
           CAST(round(1000000.0 * sum(dd * w) OVER ()) AS BIGINT) AS iv_e6
    FROM woe ORDER BY bin
"""


@register("q355_woe_information_value", _DUCK_WOE)
def q355_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information value (Siddiqi, 'Credit Risk
    Scorecards' 2006 — the feature-screening standard in regulated
    scoring, and the binned form of mutual information q146
    generalizes): per value-bin WOE = ln(dist_pos/dist_neg) with
    +0.5 Laplace terms (empty bins stay finite), IV = sum over bins
    of (dist_pos - dist_neg) * WOE. IV < 0.02 = useless feature,
    > 0.5 = suspiciously strong (leakage check!) — the triage that
    decides which features even reach training.

    Determinism: bin counts are integers; WOE/IV are closed-form
    doubles on exact counts quantized to e6; the IV window is a sum
    over the {_WOE_BINS}-row bin table.

    100 TB shape: ONE map-side-combinable (bin, label) aggregate —
    screening F features is F such aggregates over one scan (all
    computable in a single pass with F bin columns), never per-row
    model work."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint"),
            F.lit(_WOE_BINS - 1),
        ).alias("bin"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias(
            "y"
        ),
    )
    cell = materialize(d.groupBy("bin").agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("neg"),
    ))  # 8 rows; feeds totals AND the WOE projection
    tot = cell.agg(
        F.sum("pos").cast("bigint").alias("tp"),
        F.sum("neg").cast("bigint").alias("tn"),
    )
    w = F.log(
        ((F.col("pos") + 0.5) / F.col("tp"))
        / ((F.col("neg") + 0.5) / F.col("tn"))
    )
    dd = (F.col("pos") + 0.5) / F.col("tp") - (F.col("neg") + 0.5) / F.col(
        "tn"
    )
    woe = cell.crossJoin(F.broadcast(tot)).select(
        "bin", "pos", "neg", w.alias("w"), dd.alias("dd")
    )
    return woe.select(
        "bin",
        "pos",
        "neg",
        quantise("w", 6).alias("woe_e6"),
        quantise(F.sum(F.col("dd") * F.col("w")).over(Window.partitionBy()), 6)
        .alias("iv_e6"),
    ).orderBy("bin")


# --- q360: best-of-n expected reward curve (round 6) -----------------------
_BON_NS = (1, 2, 4, 8, 16)

_DUCK_BEST_OF_N = f"""
    WITH r AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v_c FROM events
      WHERE event_type = 'purchase'),
         hist AS (
      SELECT v_c, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY v_c),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
         cum AS (
      SELECT v_c,
             sum(c) OVER (ORDER BY v_c) * 1.0 / tot.n AS cdf,
             coalesce(sum(c) OVER (ORDER BY v_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 1.0 / tot.n AS cdf_prev
      FROM hist CROSS JOIN tot),
         grid AS (SELECT unnest([{", ".join(str(n) for n in _BON_NS)}]) AS k),
         terms AS (
      SELECT grid.k,
             CAST(sum(CAST(round(1000.0 * cum.v_c
               * (pow(cum.cdf, grid.k) - pow(cum.cdf_prev, grid.k)))
               AS BIGINT)) AS BIGINT) AS e_milli_c
      FROM cum CROSS JOIN grid GROUP BY grid.k)
    SELECT CAST(k AS BIGINT) AS n_samples,
           CAST(round(e_milli_c / 1000.0) AS BIGINT) AS expected_best_c
    FROM terms ORDER BY n_samples
"""


@register("q360_best_of_n_reward", _DUCK_BEST_OF_N)
def q360_best_of_n_reward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT best-of-n expected reward curve (the rejection-sampling /
    BoN yield analysis behind RLHF inference scaling — Stiennon et al.
    2020 appendix; Gao et al. 2023 for the overoptimization reading):
    for n iid draws from the empirical reward distribution, E[max] =
    sum over support of v * (F(v)^n - F(v-)^n) — computed CLOSED-FORM
    from the reward histogram, no sampling, no randomness: the exact
    order-statistic expectation for every n in the grid at once. The
    curve's flattening says where extra samples stop paying — the
    n-selection input for any best-of-n serving stack.

    Determinism: the CDF is exact integer ratios; per-support terms
    quantize to milli-cents BEFORE the order-free sum; pow of
    identical doubles is identical in both engines (the q187-class
    libm contract for pow on exact inputs).

    100 TB shape: one value-histogram aggregate, one histogram-
    bounded cumulative window, a |grid| x |support| bounded term
    table — the whole analysis is the q308/q331 histogram skeleton
    with a power-law twist."""
    ev = load_table(spark, sf_dir, "events")
    r = ev.filter(F.col("event_type") == "purchase").select(
        quantise("value", 2).alias("v_c")
    )
    hist = materialize(r.groupBy("v_c").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ))  # feeds the total AND the cumulative window
    tot = hist.agg(F.sum("c").cast("bigint").alias("n"))
    wc = Window.orderBy("v_c").rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.orderBy("v_c").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.crossJoin(F.broadcast(tot)).select(
        "v_c",
        (F.sum("c").over(wc) * 1.0 / F.col("n")).alias("cdf"),
        (
            F.coalesce(F.sum("c").over(wp), F.lit(0)) * 1.0 / F.col("n")
        ).alias("cdf_prev"),
    )
    grid = spark.createDataFrame([(n,) for n in _BON_NS], "k int")
    terms = (
        cum.crossJoin(F.broadcast(grid))
        .groupBy("k")
        .agg(
            F.sum(
                F.round(
                    1000.0
                    * F.col("v_c")
                    * (
                        F.pow(F.col("cdf"), F.col("k"))
                        - F.pow(F.col("cdf_prev"), F.col("k"))
                    )
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("e_milli_c")
        )
    )
    return terms.select(
        F.col("k").cast("bigint").alias("n_samples"),
        F.round(F.col("e_milli_c") / 1000.0).cast("bigint").alias(
            "expected_best_c"
        ),
    ).orderBy("n_samples")


# --- q364: doubly-robust off-policy evaluation (round 6) --------------------
_DUCK_DR = """
    WITH lg AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS x,
             event_type AS arm,
             CASE WHEN value >= 50 THEN 1 ELSE 0 END AS r,
             CASE WHEN (user_id % 2 = 0 AND event_type = 'click')
                    OR (user_id % 2 = 1 AND event_type = 'view')
                  THEN 1 ELSE 0 END AS m
      FROM events),
         cells AS (
      SELECT x, arm, r, m, count(*) AS c FROM lg GROUP BY 1, 2, 3, 4),
         q AS (
      SELECT x, arm, sum(c * r) * 1.0 / sum(c) AS qhat,
             CAST(sum(c) AS BIGINT) AS nxa
      FROM cells GROUP BY 1, 2),
         ctx AS (
      SELECT x, CAST(sum(c) AS BIGINT) AS nx FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
         dm AS (
      SELECT sum(ctx.nx * q.qhat) / max(tot.n) AS dm
      FROM q JOIN ctx USING (x) CROSS JOIN tot
      WHERE (q.x = 0 AND q.arm = 'click') OR (q.x = 1 AND q.arm = 'view')),
         corr AS (
      SELECT sum(cells.c * cells.m * (ctx.nx * 1.0 / q.nxa)
                 * (cells.r - q.qhat)) / max(tot.n) AS corr,
             sum(cells.c * cells.m * (ctx.nx * 1.0 / q.nxa)
                 * cells.r) / max(tot.n) AS ips,
             CAST(sum(cells.c * cells.m) AS BIGINT) AS matched
      FROM cells JOIN q USING (x, arm) JOIN ctx USING (x) CROSS JOIN tot)
    SELECT tot.n, corr.matched,
           CAST(round(1000000.0 * dm.dm) AS BIGINT) AS dm_e6,
           CAST(round(1000000.0 * corr.ips) AS BIGINT) AS ips_e6,
           CAST(round(1000000.0 * corr.corr) AS BIGINT) AS correction_e6,
           CAST(round(1000000.0 * (dm.dm + corr.corr)) AS BIGINT) AS dr_e6
    FROM dm CROSS JOIN corr CROSS JOIN tot
"""


@register("q364_doubly_robust_ope", _DUCK_DR)
def q364_doubly_robust_ope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy value estimate (Dudik/Langford/Li
    ICML 2011; Robins/Rotnitzky JASA 1995): V_DR = direct-method
    estimate from an outcome model q(x,a) PLUS the propensity-weighted
    residual correction — unbiased if EITHER the outcome model OR the
    propensities are right, and strictly lower-variance than q303's
    raw IPS when the model has any signal. Context x = user parity,
    target policy = q303's (click for even users, view for odd);
    q(x,a) = empirical per-cell mean reward, propensities empirical.

    Exactness: the whole estimator collapses to the <=40-row
    (x, arm, r, m) cell table — every term is a rational of integer
    counts; both engines do identical double math on identical
    integers (the q303 contract, extended with the model term).

    100 TB shape: ONE combinable cell aggregate over the log; the
    outcome model, propensities, DM term, and correction are all
    arithmetic over the bounded cell table — adding the model costs
    zero extra corpus passes vs IPS."""
    ev = load_table(spark, sf_dir, "events")
    lg = ev.select(
        (F.col("user_id") % 2).cast("bigint").alias("x"),
        F.col("event_type").alias("arm"),
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("r"),
        F.when(
            ((F.col("user_id") % 2 == 0) & (F.col("event_type") == "click"))
            | ((F.col("user_id") % 2 == 1) & (F.col("event_type") == "view")),
            1,
        )
        .otherwise(0)
        .alias("m"),
    )
    cells = materialize(
        lg.groupBy("x", "arm", "r", "m")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    q = cells.groupBy("x", "arm").agg(
        (F.sum(F.col("c") * F.col("r")) * 1.0 / F.sum("c")).alias("qhat"),
        F.sum("c").cast("bigint").alias("nxa"),
    )
    ctx = cells.groupBy("x").agg(F.sum("c").cast("bigint").alias("nx"))
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    pi_cell = ((F.col("x") == 0) & (F.col("arm") == "click")) | (
        (F.col("x") == 1) & (F.col("arm") == "view")
    )
    dm = (
        q.join(F.broadcast(ctx), "x")
        .crossJoin(F.broadcast(tot))
        .filter(pi_cell)
        .agg((F.sum(F.col("nx") * F.col("qhat")) / F.max("n")).alias("dm"))
    )
    iw = F.col("nx") * 1.0 / F.col("nxa")
    corr = (
        cells.join(F.broadcast(q), ["x", "arm"])
        .join(F.broadcast(ctx), "x")
        .crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(
                    F.col("c") * F.col("m") * iw * (F.col("r") - F.col("qhat"))
                )
                / F.max("n")
            ).alias("corr"),
            (F.sum(F.col("c") * F.col("m") * iw * F.col("r")) / F.max("n")).alias(
                "ips"
            ),
            F.sum(F.col("c") * F.col("m")).cast("bigint").alias("matched"),
        )
    )
    return (
        dm.crossJoin(F.broadcast(corr))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "matched",
            quantise("dm", 6).alias("dm_e6"),
            quantise("ips", 6).alias("ips_e6"),
            quantise("corr", 6)
            .alias("correction_e6"),
            quantise(F.col("dm") + F.col("corr"), 6)
            .alias("dr_e6"),
        )
    )


# --- q385: MDLP entropy split with Fayyad-Irani acceptance (round 6) --------
_DUCK_MDLP = """
    WITH x AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders),
         thw AS (
      SELECT quantile_disc(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                              0.6, 0.7, 0.8, 0.9]) AS ts
      FROM x),
         th AS (
      SELECT g.d, thw.ts[g.d] AS t
      FROM thw CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS d) g),
         cnt AS (
      SELECT th.d, th.t,
             CAST(sum(CASE WHEN x.v < th.t THEN 1 ELSE 0 END) AS BIGINT)
               AS nl,
             CAST(sum(CASE WHEN x.v < th.t AND x.y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS pl,
             CAST(sum(CASE WHEN x.v >= th.t THEN 1 ELSE 0 END) AS BIGINT)
               AS nr,
             CAST(sum(CASE WHEN x.v >= th.t AND x.y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS pr
      FROM x CROSS JOIN th GROUP BY th.d, th.t),
         ent AS (
      SELECT d, t, nl, nr, pl, pr, nl + nr AS n, pl + pr AS p,
             -- H(S), H(S_l), H(S_r) with 0 log 0 = 0
             (CASE WHEN pl + pr = 0 OR pl + pr = nl + nr THEN 0.0 ELSE
               -((pl + pr) * 1.0 / (nl + nr))
                 * log2((pl + pr) * 1.0 / (nl + nr))
               - (1.0 - (pl + pr) * 1.0 / (nl + nr))
                 * log2(1.0 - (pl + pr) * 1.0 / (nl + nr)) END) AS hs,
             (CASE WHEN nl = 0 OR pl = 0 OR pl = nl THEN 0.0 ELSE
               -(pl * 1.0 / nl) * log2(pl * 1.0 / nl)
               - (1.0 - pl * 1.0 / nl) * log2(1.0 - pl * 1.0 / nl) END)
               AS hl,
             (CASE WHEN nr = 0 OR pr = 0 OR pr = nr THEN 0.0 ELSE
               -(pr * 1.0 / nr) * log2(pr * 1.0 / nr)
               - (1.0 - pr * 1.0 / nr) * log2(1.0 - pr * 1.0 / nr) END)
               AS hr,
             (CASE WHEN pl + pr = 0 OR pl + pr = nl + nr THEN 1 ELSE 2 END)
               AS k,
             (CASE WHEN nl = 0 THEN 0
                   WHEN pl = 0 OR pl = nl THEN 1 ELSE 2 END) AS kl,
             (CASE WHEN nr = 0 THEN 0
                   WHEN pr = 0 OR pr = nr THEN 1 ELSE 2 END) AS kr
      FROM cnt),
         gain AS (
      SELECT d, t, n, nl, nr,
             hs - (nl * 1.0 / n) * hl - (nr * 1.0 / n) * hr AS g,
             (log2(n - 1.0)
              + log2(pow(3.0, k) - 2.0) - k * hs + kl * hl + kr * hr) / n
               AS mdl
      FROM ent)
    SELECT CAST(d AS BIGINT) AS decile, t AS threshold_c, nl, nr,
           CAST(round(1000000.0 * g) AS BIGINT) AS gain_e6,
           CAST(round(1000000.0 * mdl) AS BIGINT) AS mdl_cost_e6,
           CAST(CASE WHEN g > mdl THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM gain ORDER BY decile
"""


@register("q385_mdlp_split", _DUCK_MDLP)
def q385_mdlp_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-based supervised discretization with the MDL acceptance
    rule (Fayyad & Irani, IJCAI 1993 — the binning inside C4.5 and
    scikit-learn's MDLP packages): for each decile threshold of order
    value, the information gain of splitting the urgent-flag there,
    and whether the Minimum-Description-Length criterion says the
    split pays for itself — the principled alternative to q137's
    arbitrary-width target-encoding bins.

    Exactness: all split cells are integer counts from one aggregate;
    entropies/gains are doubles of those exact integers, computed by
    the same closed form in both engines and quantized to micro.

    100 TB shape: one pass for exact decile thresholds (approx swap
    documented), one pass for ALL 9 candidate splits at once (the
    threshold lattice broadcasts; counts are map-side-combinable
    conditional sums), then 9-row arithmetic. The recursive MDLP
    cascade is this query re-run per accepted interval — depth
    bounded, each level one pass."""
    orders = load_table(spark, sf_dir, "orders")
    x = materialize(orders.select(
        quantise("o_totalprice", 2).alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    ))
    # Spark requires a foldable percentage: compute all nine deciles in
    # ONE aggregate, then stack the literal columns into (d, t) rows.
    dec_aggs = [
        F.expr(
            f"percentile_disc({d / 10.0}) WITHIN GROUP (ORDER BY v)"
        ).alias(f"t{d}")
        for d in range(1, 10)
    ]
    wide = x.agg(*dec_aggs)
    stack_expr = ", ".join(f"{d}L, t{d}" for d in range(1, 10))
    th = wide.select(
        F.expr(f"stack(9, {stack_expr}) AS (d, t)")
    )
    cnt = (
        x.crossJoin(F.broadcast(th))
        .groupBy("d", "t")
        .agg(
            F.sum(F.when(F.col("v") < F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("nl"),
            F.sum(F.when((F.col("v") < F.col("t")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("pl"),
            F.sum(F.when(F.col("v") >= F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("nr"),
            F.sum(
                F.when((F.col("v") >= F.col("t")) & (F.col("y") == 1), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("pr"),
        )
    )

    def _h(p, n):
        frac = p * 1.0 / n
        return (
            F.when((p == 0) | (p == n), F.lit(0.0))
            .otherwise(-frac * F.log2(frac) - (1.0 - frac) * F.log2(1.0 - frac))
        )

    ent = cnt.select(
        "d",
        "t",
        "nl",
        "nr",
        (F.col("nl") + F.col("nr")).alias("n"),
        _h(F.col("pl") + F.col("pr"), F.col("nl") + F.col("nr")).alias("hs"),
        F.when(F.col("nl") == 0, F.lit(0.0))
        .otherwise(_h(F.col("pl"), F.col("nl")))
        .alias("hl"),
        F.when(F.col("nr") == 0, F.lit(0.0))
        .otherwise(_h(F.col("pr"), F.col("nr")))
        .alias("hr"),
        F.when(
            ((F.col("pl") + F.col("pr")) == 0)
            | ((F.col("pl") + F.col("pr")) == (F.col("nl") + F.col("nr"))),
            1,
        )
        .otherwise(2)
        .alias("k"),
        F.when(F.col("nl") == 0, 0)
        .when((F.col("pl") == 0) | (F.col("pl") == F.col("nl")), 1)
        .otherwise(2)
        .alias("kl"),
        F.when(F.col("nr") == 0, 0)
        .when((F.col("pr") == 0) | (F.col("pr") == F.col("nr")), 1)
        .otherwise(2)
        .alias("kr"),
    )
    g = (
        F.col("hs")
        - (F.col("nl") * 1.0 / F.col("n")) * F.col("hl")
        - (F.col("nr") * 1.0 / F.col("n")) * F.col("hr")
    )
    mdl = (
        F.log2(F.col("n") - 1.0)
        + F.log2(F.pow(F.lit(3.0), F.col("k")) - 2.0)
        - F.col("k") * F.col("hs")
        + F.col("kl") * F.col("hl")
        + F.col("kr") * F.col("hr")
    ) / F.col("n")
    return (
        ent.select(
            F.col("d").cast("bigint").alias("decile"),
            F.col("t").cast("bigint").alias("threshold_c"),
            "nl",
            "nr",
            quantise(g, 6).alias("gain_e6"),
            quantise(mdl, 6).alias("mdl_cost_e6"),
            F.when(g > mdl, 1).otherwise(0).cast("bigint").alias("accepted"),
        )
        .orderBy("decile")
    )


# --- q395: PCA top component by unrolled power iteration (round 6) ----------
_DUCK_PCA_POWER = f"""
    WITH g AS (
      SELECT CAST(g1.i - 1 AS BIGINT) AS i, CAST(g2.j - 1 AS BIGINT) AS j,
             CAST(SUM(CAST(FLOOR(CAST(embedding[g1.i] AS DOUBLE)
                            * CAST(embedding[g2.j] AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS BIGINT) AS gn
      FROM embeddings,
           generate_series(1, {_DIM}) AS g1(i),
           generate_series(1, {_DIM}) AS g2(j)
      GROUP BY 1, 2),
         v1 AS (SELECT i, CAST(sum(gn) AS BIGINT) AS v FROM g GROUP BY i),
         m1 AS (SELECT max(abs(v)) AS mx FROM v1),
         v1n AS (
      SELECT v1.i, CAST(round(1000000.0 * v1.v / m1.mx) AS BIGINT) AS vn
      FROM v1 CROSS JOIN m1),
         v2 AS (
      SELECT g.i,
             CAST(sum(CAST(round(g.gn * 1.0 * v1n.vn / 1000000.0)
                           AS BIGINT)) AS BIGINT) AS v
      FROM g JOIN v1n ON v1n.i = g.j GROUP BY g.i),
         ray AS (
      SELECT CAST(sum(v1n.vn * 1.0 * v2.v) AS DOUBLE)
               / CAST(sum(v1n.vn * 1.0 * v1n.vn) AS DOUBLE) AS lam_n
      FROM v1n JOIN v2 USING (i)),
         m2 AS (SELECT max(abs(v)) AS mx FROM v2),
         top AS (
      SELECT v2.i AS dim,
             CAST(round(1000000.0 * v2.v / m2.mx) AS BIGINT) AS loading_e6,
             row_number() OVER (ORDER BY abs(v2.v) DESC, v2.i) AS rk
      FROM v2 CROSS JOIN m2 QUALIFY rk <= 5)
    SELECT CAST(top.rk AS BIGINT) AS rank, top.dim, top.loading_e6,
           CAST(round(ray.lam_n / 1000000.0) AS BIGINT) AS lambda_milli
    FROM top CROSS JOIN ray ORDER BY rank
"""


@register("q395_pca_power_step", _DUCK_PCA_POWER)
def q395_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by two unrolled power-iteration steps on
    the Gram matrix (von Mises & Pollaczek-Geiringer 1929; the
    RowMatrix.computePrincipalComponents shape): ONE corpus pass
    builds X'X (the q209 reduction), then every iteration is a
    64x64 matvec — corpus-free. Reports the Rayleigh-quotient
    eigenvalue estimate and the top-5 loading dimensions, the
    variance-direction summary every embedding-quality dashboard
    wants next to q104's per-dim stats.

    Exactness: the Gram is nano-floor-quantized exact integers (the
    q209 contract); each matvec quantizes per-term to integers before
    the row sum; normalizations divide by the exact integer max; the
    Rayleigh quotient is one double ratio of exact integer dot
    products.

    100 TB shape: corpus cost = the single Gram pass (map-side
    partial outer products); iterations run on d^2 = 4096 rows — more
    steps cost nothing corpus-side. The deflation for k components is
    the documented repeat (subtract lambda vv', re-iterate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # full Gram as (i, j, gn) rows via position explode — the
    # expression twin of q209's numpy path, both triangles
    pos = emb.select(
        F.posexplode(F.col("embedding")).alias("i", "xi"), F.col("embedding")
    )
    cells = pos.select(
        "i",
        F.posexplode(F.col("embedding")).alias("j", "xj"),
        F.col("xi"),
    )
    g = materialize(cells.groupBy("i", "j").agg(
        F.sum(
            F.floor(
                F.col("xi").cast("double") * F.col("xj").cast("double") * 1000000000
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("gn")
    ))
    v1 = g.groupBy("i").agg(F.sum("gn").cast("bigint").alias("v"))
    m1 = v1.agg(F.max(F.abs(F.col("v"))).alias("mx"))
    v1n = materialize(v1.crossJoin(F.broadcast(m1)).select(
        "i", F.round(1000000.0 * F.col("v") / F.col("mx")).cast("bigint").alias("vn")
    ))
    v2 = materialize(
        g.join(
            F.broadcast(v1n.select(F.col("i").alias("jj"), "vn")),
            F.col("j") == F.col("jj"),
        )
        .groupBy("i")
        .agg(
            F.sum(
                F.round(F.col("gn") * 1.0 * F.col("vn") / 1000000.0).cast("bigint")
            )
            .cast("bigint")
            .alias("v")
        )
    )
    ray = (
        v1n.join(v2, "i")
        .agg(
            (
                F.sum(F.col("vn") * 1.0 * F.col("v")).cast("double")
                / F.sum(F.col("vn") * 1.0 * F.col("vn")).cast("double")
            ).alias("lam_n")
        )
    )
    m2 = v2.agg(F.max(F.abs(F.col("v"))).alias("mx"))
    w = Window.orderBy(F.abs(F.col("v")).desc(), "i")
    top = (
        v2.crossJoin(F.broadcast(m2))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            F.col("rk").cast("bigint").alias("rank"),
            F.col("i").cast("bigint").alias("dim"),
            F.round(1000000.0 * F.col("v") / F.col("mx"))
            .cast("bigint")
            .alias("loading_e6"),
        )
    )
    return (
        top.crossJoin(F.broadcast(ray))
        .select(
            "rank",
            "dim",
            "loading_e6",
            F.round(F.col("lam_n") / 1000000.0).cast("bigint").alias("lambda_milli"),
        )
        .orderBy("rank")
    )


# --- q396: Ledoit-Wolf covariance shrinkage intensity (round 6) -------------
_DUCK_LW = f"""
    WITH g AS (
      SELECT CAST(g1.i - 1 AS BIGINT) AS i, CAST(g2.j - 1 AS BIGINT) AS j,
             CAST(SUM(CAST(FLOOR(CAST(embedding[g1.i] AS DOUBLE)
                            * CAST(embedding[g2.j] AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS BIGINT) AS gn
      FROM embeddings,
           generate_series(1, {_DIM}) AS g1(i),
           generate_series(1, {_DIM}) AS g2(j)
      GROUP BY 1, 2),
         n_t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         s AS (
      -- tr(S) and ||S||_F^2 with S = G/n, G in nano units
      SELECT CAST(sum(CASE WHEN i = j THEN gn ELSE 0 END) AS BIGINT) AS trg,
             CAST(sum(CAST(gn AS HUGEINT) * gn) AS DOUBLE) AS gfrob2
      FROM g),
         r4 AS (
      SELECT CAST(sum(CAST(round(pow(list_dot_product(
               embedding::DOUBLE[], embedding::DOUBLE[]), 2) * 1000)
               AS BIGINT)) AS BIGINT) AS sum_norm4_m
      FROM embeddings),
         terms AS (
      SELECT n_t.n,
             s.trg / 1e9 / n_t.n / {_DIM} AS mu,
             s.gfrob2 / 1e18 / (n_t.n * 1.0 * n_t.n) AS s_frob2,
             r4.sum_norm4_m / 1000.0 AS sn4
      FROM n_t CROSS JOIN s CROSS JOIN r4),
         lw AS (
      SELECT n, mu, s_frob2,
             s_frob2 - {_DIM} * mu * mu AS dispersion2,
             greatest(sn4 / (n * 1.0 * n) - s_frob2 / n, 0.0) AS b2
      FROM terms)
    SELECT n,
           CAST(round(1000000.0 * mu) AS BIGINT) AS mu_e6,
           CAST(round(1000000.0 * dispersion2) AS BIGINT) AS dispersion2_e6,
           CAST(round(1000000.0 * b2) AS BIGINT) AS b2_e6,
           CAST(round(1000000.0 * least(b2 / dispersion2, 1.0)) AS BIGINT)
             AS shrinkage_e6
    FROM lw
"""


@register("q396_ledoit_wolf", _DUCK_LW)
def q396_ledoit_wolf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledoit-Wolf scalar shrinkage intensity (Ledoit & Wolf, J.
    Multivariate Analysis 2004 — sklearn's LedoitWolf default): how
    hard to pull the sample covariance toward mu*I, computed entirely
    from three scalars — tr(S), ||S||_F^2 (both from the q209 Gram)
    and SUM ||x||^4 (one extra per-row term) — the estimator that
    makes 64-dim covariance usable when n is small relative to d^2,
    upstream of any Mahalanobis/whitening step on embeddings.

    Exactness: the Gram is nano-quantized exact integers; ||x||^4
    quantizes to milli per row; every downstream number is double
    arithmetic on three exact integer aggregates.

    100 TB shape: one Gram pass + one norm pass (fusable into the
    same scan); everything else is scalar arithmetic. No d^2 x n
    blowup anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        F.posexplode(F.col("embedding")).alias("i", "xi"), F.col("embedding")
    )
    cells = pos.select(
        "i", F.posexplode(F.col("embedding")).alias("j", "xj"), F.col("xi")
    )
    g = cells.groupBy("i", "j").agg(
        F.sum(
            F.floor(
                F.col("xi").cast("double") * F.col("xj").cast("double") * 1000000000
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("gn")
    )
    n_t = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = g.agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("gn")).otherwise(0))
        .cast("bigint")
        .alias("trg"),
        F.sum(F.col("gn").cast("decimal(38,0)") * F.col("gn"))
        .cast("double")
        .alias("gfrob2"),
    )
    e = F.col("embedding").cast("array<double>")
    norm2 = dot(e, e)
    r4 = emb.agg(
        F.sum(quantise(F.pow(norm2, 2), 3))
        .cast("bigint")
        .alias("sum_norm4_m")
    )
    terms = (
        n_t.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(r4))
        .select(
            "n",
            (F.col("trg") / 1e9 / F.col("n") / _DIM).alias("mu"),
            (F.col("gfrob2") / 1e18 / (F.col("n") * 1.0 * F.col("n"))).alias(
                "s_frob2"
            ),
            (F.col("sum_norm4_m") / 1000.0).alias("sn4"),
        )
    )
    lw = terms.select(
        "n",
        "mu",
        "s_frob2",
        (F.col("s_frob2") - _DIM * F.col("mu") * F.col("mu")).alias("dispersion2"),
        F.greatest(
            F.col("sn4") / (F.col("n") * 1.0 * F.col("n"))
            - F.col("s_frob2") / F.col("n"),
            F.lit(0.0),
        ).alias("b2"),
    )
    return lw.select(
        "n",
        quantise("mu", 6).alias("mu_e6"),
        quantise("dispersion2", 6)
        .alias("dispersion2_e6"),
        quantise("b2", 6).alias("b2_e6"),
        quantise(F.least(F.col("b2") / F.col("dispersion2"), F.lit(1.0)), 6)
        .alias("shrinkage_e6"),
    )


# --- q411: expected-cost-optimal decision threshold (round 6) ---------------
_COST_FP = 1
_COST_FN = 5
_DUCK_COST_THRESH = f"""
    WITH scored AS (
      SELECT CAST(label % 2 AS INT) AS y,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
               AS s
      FROM embeddings),
         hist AS (
      SELECT s, sum(y) AS pos, sum(1 - y) AS neg FROM scored GROUP BY s),
         tot AS (SELECT sum(pos) AS p, sum(neg) AS n FROM hist),
         cum AS (
      SELECT s,
             sum(pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(neg) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM hist),
         cost AS (
      SELECT c.s, c.tp, c.fp, t.p, t.n,
             {_COST_FP} * c.fp + {_COST_FN} * (t.p - c.tp) AS cost
      FROM cum c CROSS JOIN tot t)
    SELECT CAST(s AS BIGINT) AS threshold_e6,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(p - tp AS BIGINT) AS fn,
           CAST(cost AS BIGINT) AS cost,
           CAST({_COST_FN} * p AS BIGINT) AS cost_reject_all,
           CAST({_COST_FP} * n AS BIGINT) AS cost_accept_all,
           CAST(round(10000.0 * (least({_COST_FN} * p, {_COST_FP} * n) - cost)
                      / least({_COST_FN} * p, {_COST_FP} * n)) AS BIGINT)
             AS savings_bp
    FROM cost
    ORDER BY cost, s
    LIMIT 1
"""


@register("q411_cost_optimal_threshold", _DUCK_COST_THRESH)
def q411_cost_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-cost-optimal decision threshold (Elkan, "The
    Foundations of Cost-Sensitive Learning", IJCAI 2001): sweep every
    achievable threshold (the distinct-score grid, q274's
    construction) and pick argmin of FP*c_fp + FN*c_fn with
    c_fn/c_fp = 5 — the asymmetric-cost answer where q274's Youden J
    implicitly weights both errors equally. Also reports both trivial
    policies (reject-all / accept-all) and the saving over the better
    one, which is the number a deployment review actually asks for.

    Exactness: the entire sweep is INTEGER arithmetic (cumulative
    counts times integer costs) — the argmin cannot tie-break
    differently (score tie-break on s ascending).

    100 TB shape: one score histogram (map-side combinable, bounded
    by distinct quantized scores), one cumulative window over that
    histogram, one TakeOrdered(1) — the q274 plan with a different
    objective; no per-row work after the histogram."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        (F.col("label") % 2).cast("int").alias("y"),
        quantise(F.element_at("embedding", 1).cast("double"), 6)
        .alias("s"),
    )
    hist = scored.groupBy("s").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    tot = hist.agg(F.sum("pos").alias("p"), F.sum("neg").alias("n"))
    wc = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "s",
        F.sum("pos").over(wc).alias("tp"),
        F.sum("neg").over(wc).alias("fp"),
    )
    cost = cum.crossJoin(F.broadcast(tot)).select(
        "s",
        "tp",
        "fp",
        "p",
        "n",
        (_COST_FP * F.col("fp") + _COST_FN * (F.col("p") - F.col("tp"))).alias(
            "cost"
        ),
    )
    best_triv = F.least(_COST_FN * F.col("p"), _COST_FP * F.col("n"))
    return (
        cost.select(
            F.col("s").cast("bigint").alias("threshold_e6"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            (F.col("p") - F.col("tp")).cast("bigint").alias("fn"),
            F.col("cost").cast("bigint").alias("cost"),
            (_COST_FN * F.col("p")).cast("bigint").alias("cost_reject_all"),
            (_COST_FP * F.col("n")).cast("bigint").alias("cost_accept_all"),
            F.round(10000.0 * (best_triv - F.col("cost")) / best_triv)
            .cast("bigint")
            .alias("savings_bp"),
        )
        .orderBy("cost", "threshold_e6")
        .limit(1)
    )
