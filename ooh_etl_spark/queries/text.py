"""Text-analysis queries over ``documents`` (BASELINE.json:6 surface).

All scoring is per-row expression work (shuffle-free until the final
aggregate); the token explode for word counts / tf-idf is the one
genuinely wide stage and shuffles only (token, id) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import (
    DUCK_TOKENIZE,
    fingerprint_md5,
    lang_id,
    quality_features,
    quality_score,
    tokenize,
)
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents


@register(
    "q20_token_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {DUCK_TOKENIZE} AS toks FROM documents)
    SELECT doc_id,
           len(toks)                 AS n_tokens,
           length(text)              AS n_chars,
           len(list_distinct(toks))  AS n_distinct,
           round(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                 / len(toks), 4)     AS mean_token_len
    FROM t
    """,
)
def q20_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (counts, distinct, mean token
    length) — all array expressions inside the scan stage; the
    mean-length fold is exact integer arithmetic over lengths."""
    docs = load_documents(spark, sf_dir)
    toks = tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / F.size(toks), 4
        ).alias("mean_token_len"),
    )


@register(
    "q21_word_counts",
    f"""
    SELECT word, count(*) AS n
    FROM (SELECT unnest({DUCK_TOKENIZE}) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def q21_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word counts: explode tokens → count per word → top-20.
    The explode's null-guard stays ABOVE the Generate (see comment) so
    the expensive split isn't double-evaluated below the repartition."""
    docs = load_documents(spark, sf_dir)
    return (
        # explode_outer: plain explode's inferred size>0/notnull filter
        # is pushed below the repartition exchange and re-evaluates the
        # split twice on the single-split scan (see operators/dedup.py).
        # The notnull filter on the exploded OUTPUT column restores
        # exact explode semantics (unnest(NULL) -> no rows) and cannot
        # be pushed below the Generate.
        docs.select(F.explode_outer(tokenize(F.col("text"))).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


@register(
    "q22_tfidf_top_term",
    f"""
    WITH d AS (SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents WHERE doc_id < 200),
         tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
         idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM d),
         scored AS (
           SELECT doc_id, term, round(tf * ln(n_docs / df), 4) AS tfidf
           FROM tf JOIN idf USING (term) CROSS JOIN n)
    SELECT doc_id, term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored)
    WHERE rn = 1
    """,
)
def q22_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top term per document: tf from one (doc, term) aggregate,
    idf derived FROM tf (reuses its exchange rather than re-scanning),
    both small sides broadcast back; window top-1 per doc."""
    docs = load_documents(spark, sf_dir).filter(F.col("doc_id") < 200)
    tok = docs.select(
        "doc_id", F.explode_outer(tokenize(F.col("text"))).alias("term")
    ).filter(F.col("term").isNotNull())
    # checkpoint tf: it feeds both the idf rollup and the scoring join
    # (ReuseExchange does NOT apply across the two consumers, so the
    # tokenize pass ran twice — audited at 3 parquet scans, now 2).
    tf = materialize(
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df(term) = distinct docs containing term = row count per term in
    # tf, which is already distinct on (doc_id, term).
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "tfidf")
    )


_DUCK_STOP = "['the','a','of','to','and','in','is']"

# Averages are taken over integer basis points (round(x*10000)): the
# per-doc ratios are 4-dp doubles whose float sums can straddle a
# round-half boundary differently per engine; integer sums cannot.
_DUCK_QUALITY = f"""
    WITH t AS (
      SELECT lang, text, {DUCK_TOKENIZE} AS toks,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
      FROM documents),
         f AS (
      SELECT lang,
             len(toks) AS n_tokens,
             round(len(list_filter(toks, x -> list_contains({_DUCK_STOP}, x)))
                   / len(toks), 4) AS stop_ratio,
             round(punct / length(text), 4) AS punct_ratio
      FROM t),
         bp AS (
      SELECT lang, n_tokens,
             CAST(round(stop_ratio * 10000, 0) AS BIGINT) AS stop_bp,
             CAST(round((0.4 * least(n_tokens / 100.0, 1.0)
                       + 0.3 * least(stop_ratio * 5, 1.0)
                       + 0.3 * (1 - least(punct_ratio * 10, 1.0))) * 10000, 0)
                  AS BIGINT) AS q_bp
      FROM f)
    SELECT lang,
           round(avg(n_tokens), 2)          AS avg_tokens,
           round(avg(stop_bp) / 10000, 4)   AS avg_stop_ratio,
           round(avg(q_bp) / 10000, 4)      AS avg_quality
    FROM bp
    GROUP BY lang
"""


@register("q23_doc_quality", _DUCK_QUALITY)
def q23_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length, stopword, punctuation signals)
    rolled up per language. Per-doc ratios quantize to integer basis
    points BEFORE averaging (float round-half differs per engine)."""
    docs = load_documents(spark, sf_dir)
    feats = quality_features(F.col("text"))
    per_doc = docs.select(
        "lang",
        feats["n_tokens"].alias("n_tokens"),
        quantise(feats["stopword_ratio"], 4).alias("stop_bp"),
        quantise(quality_score(F.col("text"), rounded=False), 4)
        .alias("q_bp"),
    )
    return per_doc.groupBy("lang").agg(
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        F.round(F.avg("stop_bp") / 10000, 4).alias("avg_stop_ratio"),
        F.round(F.avg("q_bp") / 10000, 4).alias("avg_quality"),
    )


_DUCK_LANG_SCORES = {
    "de": "['der','die','das','und','ist','nicht','ein']",
    "en": "['the','a','of','to','and','in','is']",
    "es": "['el','la','de','que','y','los','un']",
    "fr": "['le','la','de','et','les','des','un']",
    "zh": "['的','了','是','在','我','有','和']",
}

_DUCK_LANG_ID = f"""
    WITH t AS (SELECT lang, {DUCK_TOKENIZE} AS toks FROM documents),
         s AS (SELECT lang,
                      {', '.join(f"len(list_filter(toks, x -> list_contains({words}, x))) AS s_{code}"
                                  for code, words in _DUCK_LANG_SCORES.items())}
               FROM t),
         p AS (SELECT lang,
                      CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'unknown'
                           WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                           WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                           WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                           WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                           ELSE 'zh' END AS predicted
               FROM s)
    SELECT lang, predicted, count(*) AS n FROM p GROUP BY lang, predicted
"""


@register("q24_lang_id", _DUCK_LANG_ID)
def q24_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (argmax of per-language hit counts,
    deterministic tie-break) vs the labeled lang column — a confusion
    matrix from one scan + one tiny aggregate."""
    docs = load_documents(spark, sf_dir)
    return (
        docs.select("lang", lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q25_fingerprints",
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_unique,
           min(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS min_fp
    FROM documents
    GROUP BY source
    """,
)
def q25_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text per
    source — exact-dup detection's content-addressed key, plus distinct
    counts per source."""
    docs = load_documents(spark, sf_dir)
    fp = fingerprint_md5(F.col("text"))
    return docs.select("source", fp.alias("fp")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.min("fp").alias("min_fp"),
    )


@register(
    "q237_langid_f1",
    f"""
    WITH conf AS ({_DUCK_LANG_ID}),
         per AS (
      SELECT cls,
             sum(CASE WHEN lang = cls AND predicted = cls THEN n ELSE 0 END)
               AS tp,
             sum(CASE WHEN lang <> cls AND predicted = cls THEN n ELSE 0 END)
               AS fp,
             sum(CASE WHEN lang = cls AND predicted <> cls THEN n ELSE 0 END)
               AS fn
      FROM conf, (SELECT DISTINCT lang AS cls FROM conf) c
      GROUP BY cls)
    SELECT cls AS lang,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(CASE WHEN tp + fp = 0 THEN NULL
                ELSE FLOOR(10000.0 * tp / (tp + fp)) END AS BIGINT)
             AS precision_bp,
           CAST(CASE WHEN tp + fn = 0 THEN NULL
                ELSE FLOOR(10000.0 * tp / (tp + fn)) END AS BIGINT)
             AS recall_bp,
           CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE FLOOR(10000.0 * 2 * tp / (2 * tp + fp + fn)) END
                AS BIGINT) AS f1_bp
    FROM per
    ORDER BY lang
    """,
)
def q237_langid_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the q24 language
    identifier — the classifier-eval layer that turns a confusion
    table into the metrics a model card reports. Every metric reduces
    to pure integer counts (F1 = 2tp/(2tp+fp+fn) — no
    precision-recall intermediate, so no compounding of rounding),
    floored to basis points in one exact-input double division per
    cell; empty denominators yield NULL rather than a fake 0.

    Shape: the corpus pass is q24's one aggregate to the |langs|²
    confusion table; the metric layer is a tiny class-keyed rollup
    over that bounded table (cross join against the distinct class
    list, both register-sized). This is the pattern for ANY
    classifier eval at 100 TB: reduce to the confusion matrix first,
    compute metrics on the matrix, never on rows.
    """
    conf = q24_lang_id(spark, sf_dir)
    classes = conf.select(F.col("lang").alias("cls")).distinct()
    per = (
        conf.crossJoin(classes)
        .groupBy("cls")
        .agg(
            F.sum(
                F.when(
                    (F.col("lang") == F.col("cls"))
                    & (F.col("predicted") == F.col("cls")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    (F.col("lang") != F.col("cls"))
                    & (F.col("predicted") == F.col("cls")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("lang") == F.col("cls"))
                    & (F.col("predicted") != F.col("cls")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    return per.select(
        F.col("cls").alias("lang"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.floor(10000.0 * F.col("tp") / (F.col("tp") + F.col("fp"))),
        )
        .cast("bigint")
        .alias("precision_bp"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.floor(10000.0 * F.col("tp") / (F.col("tp") + F.col("fn"))),
        )
        .cast("bigint")
        .alias("recall_bp"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.floor(
                10000.0 * 2 * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
            ),
        )
        .cast("bigint")
        .alias("f1_bp"),
    ).orderBy("lang")
