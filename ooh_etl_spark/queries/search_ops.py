"""Eighteenth coverage wave: search & recommendation scoring — BM25
keyword ranking (the IR scoring function behind every keyword search
engine; Robertson & Zaragoza, "The Probabilistic Relevance Framework:
BM25 and Beyond", 2009) and association-rule metrics
(support/confidence/lift — Agrawal & Srikant, VLDB'94) over the
market-basket pairs of q117.

Numeric notes: BM25 terms are per-(doc, term) expressions computed from
exact integers (tf, doc length, df, N) and one exact ratio (avgdl) —
identical doubles in both engines (per-row math, q30 precedent); only
the final score sum crosses rows per doc, and it sums <= |query| terms
in a deterministic per-doc aggregation, quantized to basis points at
the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import DUCK_TOKENIZE, tokenize
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents, load_table

_QUERY_TERMS = ("spark", "table", "merge")
_K1 = 1.2
_B = 0.75
_TOP = 10


@register(
    "q135_bm25_search",
    f"""
    WITH d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         dl AS (
      SELECT doc_id, len(toks) AS dl FROM d),
         stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         tok AS (
      SELECT doc_id, unnest(toks) AS term FROM d),
         tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ('spark', 'table', 'merge')
      GROUP BY doc_id, term),
         df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term),
         scored AS (
      SELECT tf.doc_id,
             sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                 * (tf.tf * ({_K1} + 1))
                 / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                     / (stats.sum_dl * 1.0 / stats.n_docs))))
               AS score
      FROM tf
      JOIN df USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, CAST(round(score * 10000) AS BIGINT) AS score_bp
    FROM scored
    ORDER BY score_bp DESC, doc_id
    LIMIT {_TOP}
    """,
)
def q135_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search (k1=1.2, b=0.75, the Lucene-default variant
    with the +1-smoothed idf): score every document against a 3-term
    query, return the top 10. The tf table is built ONLY for query
    terms (the IN filter prunes before the (doc, term) shuffle — at
    100 TB this is why serving is cheap: work scales with matching
    postings, not corpus size); df and the corpus stats are tiny
    broadcasts; the per-doc score sums <= 3 per-(doc,term) terms
    computed from exact integers, so both engines produce identical
    doubles before the basis-point quantization."""
    docs = load_documents(spark, sf_dir)
    d = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    # checkpoint the narrow doc-length table and the (query-pruned,
    # postings-bounded) tf table: each feeds two consumers, and
    # without the checkpoints the tokenizing pass re-ran per consumer
    # (audited: 4 parquet scans of documents in one plan; now 2).
    dl = materialize(d.select("doc_id", F.size("toks").alias("dl")))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tok = d.select("doc_id", F.explode_outer("toks").alias("term")).filter(
        F.col("term").isin(*_QUERY_TERMS)
    )
    tf = materialize(
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl") * 1.0 / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term_score = idf * (F.col("tf") * (_K1 + 1)) / (
        F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / avgdl)
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    return (
        scored.select(
            "doc_id", quantise("score", 4).alias("score_bp")
        )
        .orderBy(F.col("score_bp").desc(), "doc_id")
        .limit(_TOP)
    )


_MIN_SUPPORT = 3


@register(
    "q136_association_rules",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
         item_supp AS (
      SELECT l_partkey, count(*) AS supp FROM items GROUP BY l_partkey),
         pair_supp AS (
      SELECT a.l_partkey AS ante, b.l_partkey AS cons, count(*) AS supp
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY ante, cons
      HAVING count(*) >= {_MIN_SUPPORT})
    SELECT p.ante, p.cons, CAST(p.supp AS BIGINT) AS pair_supp,
           CAST(round(10000.0 * p.supp / ia.supp) AS BIGINT) AS confidence_bp,
           CAST(round(10000.0 * p.supp * n.n_orders / (ia.supp * ic.supp))
                AS BIGINT) AS lift_e4
    FROM pair_supp p
    JOIN item_supp ia ON p.ante = ia.l_partkey
    JOIN item_supp ic ON p.cons = ic.l_partkey
    CROSS JOIN n
    ORDER BY pair_supp DESC, ante, cons
    """,
)
def q136_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining metrics (Apriori, Agrawal & Srikant
    VLDB'94): for every part pair co-occurring in >= 3 orders, the
    rule ante→cons with confidence (pair support / antecedent support)
    and lift (observed vs independence), both in integer 1e-4 units.
    Directed pairs (a != b, both directions) because confidence is
    asymmetric. The pair self-join is keyed on o_orderkey (fan-out
    bounded by lines-per-order); item supports reuse the DISTINCT
    items relation; the min-support HAVING prunes before the metric
    joins — the Apriori downward-closure step."""
    li = load_table(spark, sf_dir, "lineitem")
    # checkpoint the distinct (order, part) relation: it feeds the
    # order count, item supports, and BOTH pair-join sides — without
    # it the distinct shuffle re-ran per consumer (audited: 5 parquet
    # scans of lineitem in one plan; now 1).
    items = materialize(li.select("l_orderkey", "l_partkey").distinct())
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item_supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("ante"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("cons"))
    pair_supp = (
        a.join(b, "k")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= _MIN_SUPPORT)
    )
    ia = item_supp.select(F.col("l_partkey").alias("ante"), F.col("supp").alias("ante_supp"))
    ic = item_supp.select(F.col("l_partkey").alias("cons"), F.col("supp").alias("cons_supp"))
    return (
        pair_supp.join(ia, "ante")
        .join(ic, "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            F.col("supp").cast("bigint").alias("pair_supp"),
            F.round(10000.0 * F.col("supp") / F.col("ante_supp"))
            .cast("bigint")
            .alias("confidence_bp"),
            F.round(
                10000.0 * F.col("supp") * F.col("n_orders")
                / (F.col("ante_supp") * F.col("cons_supp"))
            )
            .cast("bigint")
            .alias("lift_e4"),
        )
        .orderBy(F.col("pair_supp").desc(), "ante", "cons")
    )


_TE_ALPHA = 10  # additive-smoothing pseudo-count


@register(
    "q137_target_encoding",
    f"""
    WITH g AS (
      SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS tot_c,
             count(*) AS n
      FROM orders),
         c AS (
      SELECT c_mktsegment,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS seg_c,
             count(*) AS n_seg
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_mktsegment)
    SELECT c_mktsegment, CAST(n_seg AS BIGINT) AS n_orders,
           CAST(round((seg_c + {_TE_ALPHA} * (g.tot_c * 1.0 / g.n))
                      / (n_seg + {_TE_ALPHA})) AS BIGINT) AS encoded_c
    FROM c CROSS JOIN g
    ORDER BY c_mktsegment
    """,
)
def q137_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (Micci-Barreca, SIGKDD Expl. 2001):
    each market segment encoded as the smoothed mean order value,
    (seg_sum + alpha*global_mean)/(seg_n + alpha) — the categorical →
    numeric transform of every tabular-ML pipeline, with additive
    smoothing so rare categories shrink toward the prior. Per-row cent
    quantization before both sums; the global prior is a 1-row
    broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cents = quantise("o_totalprice", 2)
    g = orders.agg(
        F.sum(cents).cast("bigint").alias("tot_c"), F.count(F.lit(1)).alias("n")
    )
    c = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(cents).cast("bigint").alias("seg_c"),
            F.count(F.lit(1)).alias("n_seg"),
        )
    )
    return (
        c.crossJoin(F.broadcast(g))
        .select(
            "c_mktsegment",
            F.col("n_seg").cast("bigint").alias("n_orders"),
            F.round(
                (F.col("seg_c") + _TE_ALPHA * (F.col("tot_c") * 1.0 / F.col("n")))
                / (F.col("n_seg") + _TE_ALPHA)
            )
            .cast("bigint")
            .alias("encoded_c"),
        )
        .orderBy("c_mktsegment")
    )


_WS_K = 50


@register(
    "q138_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             -- u in (0,1) from a multiplicative hash; ES key = u^(1/w)
             -- compared via ln(u)/w (monotone transform, no pow)
             ln(((doc_id * 2654435761) % 4294967296 + 1.0) / 4294967297.0)
               / n_chars AS es_key
      FROM documents),
         ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY es_key DESC, doc_id) AS rk
      FROM keyed)
    SELECT doc_id, n_chars FROM ranked
    WHERE rk <= {_WS_K}
    ORDER BY doc_id
    """,
)
def q138_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis,
    IPL 2006): each doc gets key u^(1/w) with w = n_chars and u a
    DETERMINISTIC hash-uniform — the top-k by key is a valid weighted
    sample, reproducible across runs/engines/partitionings (unlike
    rand()-based sampling). Compared in the monotone ln(u)/w form so
    no pow() is evaluated; one top-k over per-row keys, no global
    sort of the corpus at scale (rank-k cutoff via TakeOrdered)."""
    docs = load_table(spark, sf_dir, "documents")
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) + 1.0) / 4294967297.0
    # try_divide: an empty doc's key is NULL, as DuckDB's division by zero
    keyed = docs.select(
        "doc_id", "n_chars", F.try_divide(F.log(u), F.col("n_chars")).alias("es_key")
    )
    w = Window.orderBy(F.col("es_key").desc(), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _WS_K)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


_GWS_K = 10  # per-group sample size


@register(
    "q238_grouped_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             ln(((doc_id * 2654435761) % 4294967296 + 1.0) / 4294967297.0)
               / n_chars AS es_key
      FROM documents),
         ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rk
      FROM keyed)
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_GWS_K}
    ORDER BY lang, rk
    """,
)
def q238_grouped_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED weighted sampling without replacement — exactly k
    docs per language, selection probability proportional to length
    (Efraimidis-Spirakis 2006, q138's estimator partitioned by
    stratum): the subsample every data-mixture builder draws when a
    balanced-per-language dev set must still prefer substantial
    documents. Same deterministic priority key as q138 (multiplicative-
    hash uniform, compared via ln(u)/w — a monotone transform of
    u^(1/w), so no pow and no overflow), ranked within each language.

    Shape vs q138: the global form needs one total order; the
    stratified form shuffles once on the GROUP key and sorts within
    partitions — strictly cheaper and skew-immune at any scale (each
    stratum's top-k is a bounded heap; Spark's window top-k rewrite
    prunes with rank pushdown). This is the 100 TB answer for
    balanced sampling: never a global sort, one keyed exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) + 1.0) / F.lit(
        4294967297.0
    )
    keyed = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.try_divide(F.log(u), F.col("n_chars")).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), "doc_id")
    return (
        keyed.select(
            "lang",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= _GWS_K)
        .orderBy("lang", "rk")
    )


# --- q400: rank-biased overlap between two rankings (round 6) ---------------
_RBO_P = 0.9
_RBO_K = 20
_DUCK_RBO = f"""
    WITH agg AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_c,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1),
         ra AS (
      SELECT pk, row_number() OVER (ORDER BY rev_c DESC, pk) AS r
      FROM agg QUALIFY r <= {_RBO_K}),
         rb AS (
      SELECT pk, row_number() OVER (ORDER BY qty DESC, pk) AS r
      FROM agg QUALIFY r <= {_RBO_K}),
         ov AS (
      SELECT greatest(ra.r, rb.r) AS m
      FROM ra JOIN rb USING (pk)),
         grid AS (
      SELECT unnest(generate_series(1, {_RBO_K})) AS d),
         xd AS (
      SELECT grid.d,
             CAST(coalesce(sum(CASE WHEN ov.m <= grid.d THEN 1 END), 0)
                  AS BIGINT) AS x_d
      FROM grid LEFT JOIN ov ON ov.m <= grid.d GROUP BY grid.d),
         terms AS (
      SELECT d, x_d,
             CAST(round(1000000000.0 * power({_RBO_P!r}, d - 1) * x_d / d)
                  AS BIGINT) AS term_e9
      FROM xd)
    SELECT d, x_d, term_e9,
           CAST(round(sum(term_e9) OVER (ORDER BY d
                                         ROWS UNBOUNDED PRECEDING)
                      / 10000.0) AS BIGINT) AS rbo_e6
    FROM terms ORDER BY d
"""


@register("q400_rank_biased_overlap", _DUCK_RBO)
def q400_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between two top-20 part rankings — by
    revenue vs by unit volume (Webber, Moffat & Zobel, TOIS 2010):
    RBO(p) = (1-p) * sum_d p^(d-1) * |A_1..d ∩ B_1..d| / d, the
    top-weighted, non-conjoint-safe way to ask "do these two rankings
    agree", where Kendall/Spearman (q281/q384) need BOTH lists to rank
    the SAME items. Emitted per depth d with the running RBO, so the
    curve shows WHERE the rankings diverge (p=0.9 ~ top-10 carries
    ~86% of the weight).

    Exactness: both rankings rank exact integer aggregates with pk
    tie-breaks (engine-identical permutations); overlap counts are
    integers over a K=20 grid; each term quantizes p^(d-1)*X_d/d to
    1e-9 BEFORE the running sum, which is then exact.

    100 TB shape: each ranking is one map-side-combinable agg + a
    TakeOrderedAndProject top-K (no global sort); everything after is
    K-row arithmetic — two K-row lists joined and expanded against a
    K-row grid, driver-trivial at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(
            quantise(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        )
        .cast("bigint")
        .alias("rev_c"),
        F.sum(F.round(F.col("l_quantity")).cast("bigint"))
        .cast("bigint")
        .alias("qty"),
    )
    # the part frame feeds both legs: checkpoint once (q296-class);
    # each leg cuts to K via TakeOrderedAndProject FIRST, so the rank
    # window runs over K rows, never a single-partition pass over all
    # parts
    agg = materialize(agg)
    wa = Window.orderBy(F.col("rev_c").desc(), "pk")
    wb = Window.orderBy(F.col("qty").desc(), "pk")
    ra = (
        agg.orderBy(F.col("rev_c").desc(), "pk")
        .limit(_RBO_K)
        .select("pk", F.row_number().over(wa).alias("ra"))
    )
    rb = (
        agg.orderBy(F.col("qty").desc(), "pk")
        .limit(_RBO_K)
        .select("pk", F.row_number().over(wb).alias("rb"))
    )
    both = ra.join(rb, "pk").select(
        F.greatest(F.col("ra"), F.col("rb")).alias("m")
    )
    grid = spark.range(1, _RBO_K + 1).select(F.col("id").cast("int").alias("d"))
    xd = (
        grid.join(F.broadcast(both), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("m") <= F.col("d"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("x_d")
        )
    )
    terms = xd.select(
        "d",
        "x_d",
        F.round(
            1000000000.0
            * F.pow(F.lit(_RBO_P), F.col("d") - 1)
            * F.col("x_d")
            / F.col("d")
        )
        .cast("bigint")
        .alias("term_e9"),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        "d",
        "x_d",
        "term_e9",
        # (1-p) * cum_e9 / 1000 == cum_e9 / 10000 for p = 0.9: dividing
        # the EXACT integer cumsum once keeps .5 ties representable, so
        # both engines round the identical double (no 0.1-vs-decimal
        # literal skew).
        F.round(F.sum("term_e9").over(wcum) / 10000.0)
        .cast("bigint")
        .alias("rbo_e6"),
    ).orderBy("d")


# --- q404: Dirichlet-smoothed query-likelihood retrieval (round 6) ----------
_QL_MU = 10.0
_QL_TOP = 10
_DUCK_QL = f"""
    WITH d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         dl AS (SELECT doc_id, len(toks) AS dl FROM d),
         c AS (SELECT CAST(sum(dl) AS BIGINT) AS c_total FROM dl),
         tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
         cf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tok
      WHERE term IN ('spark', 'table', 'merge') GROUP BY term),
         tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
      WHERE term IN ('spark', 'table', 'merge') GROUP BY doc_id, term),
         scored AS (
      SELECT dl.doc_id, dl.dl,
             CAST(sum(CAST(round(1000000.0 * ln(
                      (coalesce(tf.tf, 0) + {_QL_MU!r} * cf.cf / c.c_total)
                      / (dl.dl + {_QL_MU!r}))) AS BIGINT)) AS BIGINT)
               AS score_e6
      FROM dl CROSS JOIN cf CROSS JOIN c
      LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term
      GROUP BY dl.doc_id, dl.dl)
    SELECT doc_id, dl, score_e6,
           row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS r
    FROM scored QUALIFY r <= {_QL_TOP}
    ORDER BY r
"""


@register("q404_dirichlet_query_likelihood", _DUCK_QL)
def q404_dirichlet_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    SIGIR 2001): score(d) = sum_q ln((tf + mu*p_C(q)) / (|d| + mu)) —
    the language-modeling alternative to q135's BM25, whose smoothing
    term doubles as a principled length normalizer (long documents
    need less smoothing). Every document scores every query term
    (zero-tf docs get pure background mass), so the ranking is total,
    not posting-limited.

    Exactness: tf/cf/dl/C are exact integers; each per-(doc, term)
    log term is an IEEE-identical double quantized to 1e-6 BEFORE the
    per-doc sum (an exact |Q|-term integer sum); ranking breaks ties
    on doc_id.

    100 TB shape: one tokenize pass feeds dl and the Q-filtered
    tf/cf aggregates (postings for 3 terms); the scoring join is
    dl LEFT JOIN tf with the 3-row cf/C broadcast — one doc-keyed
    shuffle; top-K is TakeOrderedAndProject. The all-docs scoring is
    the point (LM scoring); posting-only pruning (WAND) is the
    documented swap when |Q| grows."""
    d = load_documents(spark, sf_dir).select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    dl = materialize(d.select("doc_id", F.size("toks").alias("dl")))
    c = dl.agg(F.sum("dl").cast("bigint").alias("c_total"))
    tok = materialize(d.select("doc_id", F.explode_outer("toks").alias("term")).filter(
        F.col("term").isin(*_QUERY_TERMS)
    ))
    cf = tok.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    grid = dl.crossJoin(F.broadcast(cf)).crossJoin(F.broadcast(c))
    scored = (
        grid.join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            "dl",
            quantise(
                F.log(
                  (
                      F.coalesce(F.col("tf"), F.lit(0))
                      + _QL_MU * F.col("cf") / F.col("c_total")
                  )
                  / (F.col("dl") + _QL_MU)
              ),
                6,
            )
            .alias("term_e6"),
        )
        .groupBy("doc_id", "dl")
        .agg(F.sum("term_e6").cast("bigint").alias("score_e6"))
    )
    return (
        scored.select(
            "doc_id",
            "dl",
            "score_e6",
            F.row_number()
            .over(Window.orderBy(F.col("score_e6").desc(), "doc_id"))
            .alias("r"),
        )
        .filter(F.col("r") <= _QL_TOP)
        .orderBy("r")
    )


# --- q415: Rocchio pseudo-relevance-feedback expansion (round 6) ------------
_PRF_SEED = 10  # round-1 docs treated as pseudo-relevant
_PRF_EXP = 3  # expansion terms adopted
_PRF_W = 0.5  # expansion-term weight (original terms weigh 1.0)
_DUCK_PRF = f"""
    WITH d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         dl AS (SELECT doc_id, len(toks) AS dl FROM d),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
         tf_all AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term),
         df_all AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_all GROUP BY term),
         r1 AS (
      SELECT tf.doc_id,
             CAST(sum(CAST(round(1000000.0
                 * ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                 * (tf.tf * ({_K1} + 1))
                 / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                     / (stats.sum_dl * 1.0 / stats.n_docs))))
               AS BIGINT)) AS BIGINT) AS score_e6
      FROM tf_all tf
      JOIN df_all df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      WHERE tf.term IN ('spark', 'table', 'merge')
      GROUP BY tf.doc_id),
         seed AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rnk
        FROM r1 QUALIFY rnk <= {_PRF_SEED})),
         exp_cand AS (
      SELECT tf.term,
             CAST(count(*) AS BIGINT) AS df_r
      FROM tf_all tf JOIN seed USING (doc_id)
      WHERE tf.term NOT IN ('spark', 'table', 'merge')
      GROUP BY tf.term),
         exp_terms AS (
      SELECT term, df_r,
             CAST(round(1000000.0 * df_r
                        * ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1))
                  AS BIGINT) AS ow_e6,
             row_number() OVER (ORDER BY CAST(round(1000000.0 * df_r
                  * ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1))
                  AS BIGINT) DESC, term) AS rk
      FROM exp_cand JOIN df_all df USING (term) CROSS JOIN stats
      QUALIFY rk <= {_PRF_EXP}),
         q2 AS (
      SELECT term, 1.0 AS w FROM (VALUES ('spark'), ('table'), ('merge'))
        AS t(term)
      UNION ALL SELECT term, {_PRF_W!r} AS w FROM exp_terms),
         r2 AS (
      SELECT tf.doc_id,
             CAST(sum(CAST(round(1000000.0 * q2.w
                 * ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                 * (tf.tf * ({_K1} + 1))
                 / (tf.tf + {_K1} * (1 - {_B} + {_B} * dl.dl
                                     / (stats.sum_dl * 1.0 / stats.n_docs))))
               AS BIGINT)) AS BIGINT) AS score_e6
      FROM tf_all tf
      JOIN q2 ON tf.term = q2.term
      JOIN df_all df ON df.term = tf.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT r2.doc_id, r2.score_e6,
           row_number() OVER (ORDER BY r2.score_e6 DESC, r2.doc_id) AS r,
           CAST(CASE WHEN seed.doc_id IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS in_prf_seed
    FROM r2 LEFT JOIN seed ON r2.doc_id = seed.doc_id
    QUALIFY r <= {_TOP}
    ORDER BY r
"""


@register("q415_rocchio_prf", _DUCK_PRF)
def q415_rocchio_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio 1971;
    Robertson's offer weight, J.Doc 1990): BM25 round 1 picks 10
    pseudo-relevant docs; terms concentrated in them are scored by
    offer weight df_R * idf; the top 3 join the query at half weight;
    BM25 round 2 produces the final ranking — the classic two-pass
    recall amplifier (it finds docs sharing VOCABULARY with good
    results even when they miss the literal query terms). Output
    marks which final docs were round-1 seeds.

    Exactness: per-(doc, term) BM25 contributions quantize to 1e-6
    BEFORE each per-doc sum (exact integer sums, unlike q135's
    sum-then-quantize — documented difference); both ranking and
    expansion-term selection order on (quantized value, id).

    100 TB shape: the corpus-wide tf/df tables are one tokenize
    shuffle (built ONCE, reused by both rounds — checkpointed);
    round 1 prunes to 3-term postings; the expansion-term agg scans
    only the 10 seed docs' postings (semi-join); round 2 scans 6-term
    postings. Nothing rescans the corpus."""
    d = load_documents(spark, sf_dir).select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    dl = materialize(d.select("doc_id", F.size("toks").alias("dl")))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf_all = materialize(
        d.select("doc_id", F.explode_outer("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_all = materialize(tf_all.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    ))
    avgdl = F.col("sum_dl") * 1.0 / F.col("n_docs")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    bm_term = (
        idf
        * (F.col("tf") * (_K1 + 1))
        / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / avgdl))
    )

    def _scored(tf_subset, weight_col=None):
        t = (
            tf_subset.join(F.broadcast(df_all), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
        )
        contrib = bm_term if weight_col is None else F.col(weight_col) * bm_term
        return t.groupBy("doc_id").agg(
            F.sum(quantise(contrib, 6))
            .cast("bigint")
            .alias("score_e6")
        )

    r1 = _scored(tf_all.filter(F.col("term").isin(*_QUERY_TERMS)))
    seed = materialize(r1.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_e6").desc(), "doc_id"))
        .alias("r"),
    ).filter(F.col("r") <= _PRF_SEED).select("doc_id"))
    exp_cand = (
        tf_all.join(seed, "doc_id")
        .filter(~F.col("term").isin(*_QUERY_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df_r"))
    )
    ow = F.round(1000000.0 * F.col("df_r") * idf).cast("bigint")
    exp_terms = (
        exp_cand.join(F.broadcast(df_all), "term")
        .crossJoin(F.broadcast(stats))
        .select("term", ow.alias("ow_e6"))
        .select(
            "term",
            F.row_number()
            .over(Window.orderBy(F.col("ow_e6").desc(), "term"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= _PRF_EXP)
        .select("term", F.lit(_PRF_W).alias("w"))
    )
    q2 = (
        spark.createDataFrame(
            [(t, 1.0) for t in _QUERY_TERMS], "term string, w double"
        ).unionByName(exp_terms)
    )
    r2 = _scored(tf_all.join(F.broadcast(q2), "term"), weight_col="w")
    return (
        r2.join(seed.withColumn("in_seed", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            "score_e6",
            F.row_number()
            .over(Window.orderBy(F.col("score_e6").desc(), "doc_id"))
            .alias("r"),
            F.coalesce(F.col("in_seed"), F.lit(0))
            .cast("bigint")
            .alias("in_prf_seed"),
        )
        .filter(F.col("r") <= _TOP)
        .orderBy("r")
    )


# --- q416: team-draft interleaving evaluation (round 6) ---------------------
_TD_DEPTH = 10
_TD_TRUTH = 5
_TD_TWO60 = float(1 << 60)
_DUCK_TEAMDRAFT = f"""
    WITH RECURSIVE tok AS MATERIALIZED (
      SELECT doc_id, unnest({DUCK_TOKENIZE}) AS term FROM documents),
         tfq AS MATERIALIZED (
      SELECT doc_id,
             CAST(sum(CASE WHEN term = 'spark' THEN 1 ELSE 0 END) AS BIGINT)
               AS tf_a,
             CAST(sum(CASE WHEN term = 'table' THEN 1 ELSE 0 END) AS BIGINT)
               AS tf_b,
             CAST(sum(CASE WHEN term IN ('spark', 'table', 'merge')
                           THEN 1 ELSE 0 END) AS BIGINT) AS tf_all
      FROM tok GROUP BY doc_id),
         la AS MATERIALIZED (
      SELECT list(doc_id ORDER BY tf_a DESC, doc_id) AS l
      FROM (SELECT doc_id, tf_a FROM tfq WHERE tf_a > 0
            ORDER BY tf_a DESC, doc_id LIMIT {_TD_DEPTH})),
         lb AS MATERIALIZED (
      SELECT list(doc_id ORDER BY tf_b DESC, doc_id) AS l
      FROM (SELECT doc_id, tf_b FROM tfq WHERE tf_b > 0
            ORDER BY tf_b DESC, doc_id LIMIT {_TD_DEPTH})),
         truth AS MATERIALIZED (
      SELECT list(doc_id ORDER BY tf_all DESC, doc_id) AS l
      FROM (SELECT doc_id, tf_all FROM tfq
            ORDER BY tf_all DESC, doc_id LIMIT {_TD_TRUTH})),
         draft(pos, picked, na, nb, team, doc) AS (
      SELECT 0, CAST([] AS BIGINT[]), 0, 0, CAST(NULL AS VARCHAR),
             CAST(NULL AS BIGINT)
      UNION ALL
      SELECT d.pos + 1,
             list_append(d.picked, step.doc),
             d.na + CASE WHEN step.team = 'A' THEN 1 ELSE 0 END,
             d.nb + CASE WHEN step.team = 'B' THEN 1 ELSE 0 END,
             step.team, step.doc
      FROM draft d
      CROSS JOIN la CROSS JOIN lb
      CROSS JOIN LATERAL (
        SELECT t.team,
               CASE WHEN t.team = 'A'
                 THEN coalesce(
                   list_filter(la.l, x -> NOT list_contains(d.picked, x))[1],
                   list_filter(lb.l, x -> NOT list_contains(d.picked, x))[1])
                 ELSE coalesce(
                   list_filter(lb.l, x -> NOT list_contains(d.picked, x))[1],
                   list_filter(la.l, x -> NOT list_contains(d.picked, x))[1])
               END AS doc
        FROM (SELECT CASE
                WHEN d.na < d.nb THEN 'A'
                WHEN d.nb < d.na THEN 'B'
                WHEN CAST(concat('0x', substr(md5(concat('td#',
                       CAST(d.pos + 1 AS VARCHAR))), 1, 15)) AS BIGINT)
                     / {_TD_TWO60!r} < 0.5 THEN 'A'
                ELSE 'B' END AS team) t) step
      WHERE d.pos < {_TD_DEPTH}),
         rows_out AS (
      SELECT pos, doc, team,
             CAST(CASE WHEN list_contains(truth.l, doc) THEN 1 ELSE 0 END
                  AS BIGINT) AS clicked
      FROM draft CROSS JOIN truth WHERE pos >= 1)
    SELECT pos, CAST(doc AS BIGINT) AS doc_id, team, clicked,
           CAST(sum(CASE WHEN team = 'A' THEN clicked ELSE 0 END)
                  OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS a_clicks_cum,
           CAST(sum(CASE WHEN team = 'B' THEN clicked ELSE 0 END)
                  OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS b_clicks_cum
    FROM rows_out ORDER BY pos
"""


@register("q416_team_draft_interleave", _DUCK_TEAMDRAFT)
def q416_team_draft_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Team-draft interleaving (Radlinski, Kurup & Joachims, CIKM
    2008): merge two rankers' top-10 lists by alternating DRAFT picks
    (the behind team picks; ties broken by a deterministic md5 coin),
    each team contributing its best not-yet-picked doc — the online-
    evaluation design that turns ONE result page into a paired
    ranker comparison, immune to position bias because both teams
    face the same positions in expectation. Rankers: tf('spark') vs
    tf('table'); clicks simulated by a tf-total truth top-5; the
    cumulative per-team click columns ARE the credit assignment.

    Exactness: rankings and truth are integer-tf orderings with
    doc_id tie-breaks; the draft is a deterministic finite recursion
    (coin = q178's md5 slice on position), mirrored step-for-step by
    the oracle's recursive CTE with a LIST pick-state (q414's
    pattern); clicks and cumulations are integer.

    100 TB shape: corpus cost is one postings aggregate (3-term
    pruned); the draft itself is a 10-step loop over two 10-id lists
    — driver-side by construction (the parameter-server bound), as in
    production interleaving where it runs per-query at serve time."""
    import hashlib

    docs = load_documents(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode_outer(tokenize(F.col("text"))).alias("term")
    )
    tfq = materialize(tok.groupBy("doc_id").agg(
        F.sum(F.when(F.col("term") == "spark", 1).otherwise(0))
        .cast("bigint")
        .alias("tf_a"),
        F.sum(F.when(F.col("term") == "table", 1).otherwise(0))
        .cast("bigint")
        .alias("tf_b"),
        F.sum(F.when(F.col("term").isin(*_QUERY_TERMS), 1).otherwise(0))
        .cast("bigint")
        .alias("tf_all"),
    ))
    la = [
        r.doc_id
        for r in tfq.filter(F.col("tf_a") > 0)
        .orderBy(F.col("tf_a").desc(), "doc_id")
        .limit(_TD_DEPTH)
        .collect()
    ]
    lb = [
        r.doc_id
        for r in tfq.filter(F.col("tf_b") > 0)
        .orderBy(F.col("tf_b").desc(), "doc_id")
        .limit(_TD_DEPTH)
        .collect()
    ]
    truth = {
        r.doc_id
        for r in tfq.orderBy(F.col("tf_all").desc(), "doc_id")
        .limit(_TD_TRUTH)
        .collect()
    }

    def coin(pos: int) -> bool:
        h = hashlib.md5(f"td#{pos}".encode()).hexdigest()[:15]
        return int(h, 16) / _TD_TWO60 < 0.5

    picked: list[int] = []
    na = nb = 0
    a_cum = b_cum = 0
    out = []
    for pos in range(1, _TD_DEPTH + 1):
        team = "A" if (na < nb or (na == nb and coin(pos))) else "B"
        primary, backup = (la, lb) if team == "A" else (lb, la)
        doc = next((x for x in primary if x not in picked), None)
        if doc is None:
            doc = next((x for x in backup if x not in picked), None)
        picked.append(doc)
        if team == "A":
            na += 1
        else:
            nb += 1
        clicked = 1 if doc in truth else 0
        a_cum += clicked if team == "A" else 0
        b_cum += clicked if team == "B" else 0
        out.append((pos, doc, team, clicked, a_cum, b_cum))
    return spark.createDataFrame(
        out,
        "pos int, doc_id long, team string, clicked long, "
        "a_clicks_cum long, b_clicks_cum long",
    )
