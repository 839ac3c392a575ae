"""Seventh coverage wave: corpus QUALITY GATING — the filters a
pretraining pipeline runs between raw crawl and training mix. C4-style
heuristic rules, Gopher-style repetition signals, benchmark
decontamination (exact n-gram collision join), stratified sampling, and
domain-mix reweighting.

Design notes for 100 TB:
- Every per-doc signal is a column expression inside the scan stage
  (no shuffle); the only wide stages are natural groupings (source,
  lang, stratum) or the n-gram collision join, whose benchmark side is
  tiny by construction and therefore broadcast.
- All rule thresholds compare INTEGER cross-products (``5*hits >= 4*n``
  instead of ``hits/n >= 0.8``): exact in both engines, no float-edge
  divergence, and cheaper than division in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import (
    DUCK_TOKENIZE,
    ngram_starts,
    tokenize,
    word_ngrams,
)
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize, materialize_all
from ooh_etl_spark.tables import load_documents, load_table


@register(
    "q79_quality_rules",
    f"""
    WITH t AS (
      SELECT source, {DUCK_TOKENIZE} AS toks FROM documents),
         f AS (
      SELECT source,
             len(toks) AS n,
             list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS sum_len,
             len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS n_alpha
      FROM t)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_short,
           CAST(sum(CASE WHEN sum_len < 2 * n OR sum_len > 12 * n
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_meanlen,
           CAST(sum(CASE WHEN 5 * n_alpha < 4 * n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_alpha,
           CAST(sum(CASE WHEN n >= 10 AND sum_len >= 2 * n AND sum_len <= 12 * n
                              AND 5 * n_alpha >= 4 * n
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM f GROUP BY source ORDER BY source
    """,
)
def q79_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style heuristic quality gate: minimum length, mean
    token length in [2, 12], and >=80% purely-alphabetic tokens
    (C4 keeps lines that "look like prose"; Gopher Table A1 uses the
    same three signal families). Emits the per-source rule-failure
    census a pipeline operator actually monitors. All thresholds are
    integer cross-multiplications, so the whole gate is exact and stays
    inside WholeStageCodegen in the scan stage — the groupBy ships only
    20 sources x 5 counters."""
    # Signals as plain string expressions, not array HOFs: Spark
    # evaluates higher-order-function lambdas (aggregate/filter)
    # interpreted, outside whole-stage codegen (the q417 lesson).
    # n_alpha counts maximal [a-z]+ runs bounded by whitespace/string
    # edges — exactly the tokens the oracle's list_filter keeps; the
    # equivalence is pinned by test_q79_alpha_rule_on_mixed_tokens.
    # Measured 0.36s -> 0.23s for the extraction stage at sf0.1.
    t = F.lower(F.trim(F.col("text")))
    f = load_documents(spark, sf_dir).select(
        "source",
        F.size(F.split(t, r"\s+")).alias("n"),
        F.length(F.regexp_replace(t, r"\s+", "")).alias("sum_len"),
        F.expr(
            r"size(regexp_extract_all(lower(trim(text)),"
            r" '(^|\\s)([a-z]+)(?=\\s|$)', 2))"
        ).alias("n_alpha"),
    )
    n, sum_len, n_alpha = F.col("n"), F.col("sum_len"), F.col("n_alpha")
    fail_short = n < 10
    fail_meanlen = (sum_len < 2 * n) | (sum_len > 12 * n)
    fail_alpha = 5 * n_alpha < 4 * n

    def cnt(cond: Column) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt(fail_short).alias("n_fail_short"),
            cnt(fail_meanlen).alias("n_fail_meanlen"),
            cnt(fail_alpha).alias("n_fail_alpha"),
            cnt(~fail_short & ~fail_meanlen & ~fail_alpha).alias("n_keep"),
        )
        .orderBy("source")
    )


_DUCK_BIGRAMS = (
    "list_transform(generate_series(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i + 1])"
)


@register(
    "q80_repetition_stats",
    f"""
    WITH t AS (
      SELECT doc_id, lang, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT doc_id, lang,
             len(toks) AS n,
             len(list_distinct(toks)) AS n_distinct,
             {_DUCK_BIGRAMS} AS bigrams
      FROM t),
         bg AS (
      SELECT doc_id, unnest(bigrams) AS bg FROM g),
         topbg AS (
      SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS n_bi
      FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
      GROUP BY doc_id)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN 10 * top_cnt > n_bi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flag_bigram,
           CAST(sum(CASE WHEN 10 * (n - n_distinct) > 4 * n THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flag_dup
    FROM g JOIN topbg USING (doc_id)
    GROUP BY lang ORDER BY lang
    """,
)
def q80_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals: flag docs whose single most frequent
    bigram exceeds 10% of all bigrams, and docs with >40% duplicate
    tokens. The bigram histogram is the only wide stage and is keyed by
    doc_id — perfectly partition-local after one shuffle, no global
    state; the dup-token signal never leaves the scan stage."""
    docs = load_documents(spark, sf_dir)
    toks = tokenize(F.col("text"))
    g = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        word_ngrams(toks, 2).alias("bigrams"),
    )
    topbg = (
        g.select("doc_id", F.explode_outer("bigrams").alias("bg"))
        .filter(F.col("bg").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_cnt"),
            F.sum("c").cast("bigint").alias("n_bi"),
        )
    )
    j = g.join(topbg, "doc_id")
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(10 * F.col("top_cnt") > F.col("n_bi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_flag_bigram"),
            F.sum(
                F.when(10 * (F.col("n") - F.col("n_distinct")) > 4 * F.col("n"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_flag_dup"),
        )
        .orderBy("lang")
    )


_BENCH_MOD = 97  # doc_id % 97 == 0 -> the held-out "benchmark" set
_NGRAM = 3
_MIN_SHARED = 2

_DUCK_TRIGRAMS = (
    "list_distinct(list_transform(generate_series(1, len(toks) - 2),"
    " i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))"
)


@register(
    "q81_decontamination",
    f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT doc_id, unnest({_DUCK_TRIGRAMS}) AS gram FROM t),
         corpus AS (SELECT * FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
         bench  AS (SELECT doc_id AS bench_id, gram FROM g
                    WHERE doc_id % {_BENCH_MOD} = 0)
    SELECT c.doc_id, b.bench_id, count(*) AS n_shared
    FROM corpus c JOIN bench b USING (gram)
    GROUP BY c.doc_id, b.bench_id
    HAVING count(*) >= {_MIN_SHARED}
    ORDER BY doc_id, bench_id
    """,
)
def q81_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination by exact n-gram collision — the
    standard pretraining hygiene step (GPT-3 appendix C / PaLM style):
    any training doc sharing >= 2 distinct 3-grams with a held-out
    benchmark doc is flagged. The benchmark side is tiny by
    construction (1/97th of doc ids), so Spark broadcasts its exploded
    gram list; the corpus side streams through map-side hash probes —
    no corpus shuffle at all, which is what makes this shape viable at
    100 TB (the alternative, shuffling the corpus on gram, would move
    the whole dataset)."""
    docs = load_documents(spark, sf_dir)
    toks = tokenize(F.col("text"))
    grams = F.array_distinct(word_ngrams(toks, _NGRAM))
    g = docs.select("doc_id", F.explode_outer(grams).alias("gram")).filter(
        F.col("gram").isNotNull()
    )
    corpus = g.filter(F.col("doc_id") % _BENCH_MOD != 0)
    bench = g.filter(F.col("doc_id") % _BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "gram"
    )
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _MIN_SHARED)
        .orderBy("doc_id", "bench_id")
    )


_SAMPLE_NUM, _SAMPLE_DEN = 1, 5  # keep 20% of every stratum


@register(
    "q82_stratified_sample",
    f"""
    WITH s AS (
      SELECT lang, source, doc_id,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang, source) AS n
      FROM documents)
    SELECT lang, source, doc_id
    FROM s
    WHERE rk * {_SAMPLE_DEN} <= n * {_SAMPLE_NUM}
    ORDER BY lang, source, doc_id
    """,
)
def q82_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly floor(20%) of every
    (lang, source) stratum, survivors chosen by multiplicative hash —
    reproducible across runs/engines/partitionings, unlike
    ``df.sample``. One shuffle on the stratum key; rank and stratum
    size come from the same window partitioning, so Spark computes both
    in a single exchange. The keep test ``rk * 5 <= n`` is the
    integer form of ``rk <= n * 0.2``."""
    docs = load_table(spark, sf_dir, "documents")
    hkey = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    wrk = Window.partitionBy("lang", "source").orderBy(hkey, F.col("doc_id"))
    wn = Window.partitionBy("lang", "source")
    return (
        docs.select(
            "lang",
            "source",
            "doc_id",
            F.row_number().over(wrk).alias("rk"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rk") * _SAMPLE_DEN <= F.col("n") * _SAMPLE_NUM)
        .select("lang", "source", "doc_id")
        .orderBy("lang", "source", "doc_id")
    )


_N_SOURCES = 20


@register(
    "q83_domain_reweight",
    f"""
    WITH t AS (
      SELECT source, len({DUCK_TOKENIZE}) AS n_tokens FROM documents),
         s AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens FROM t
      GROUP BY source),
         tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM s)
    SELECT source, tokens,
           CAST(round(10000.0 * tokens / total) AS BIGINT) AS share_bp,
           CAST(round(10000.0 * total / ({_N_SOURCES} * tokens)) AS BIGINT)
             AS weight_bp
    FROM s CROSS JOIN tot
    ORDER BY source
    """,
)
def q83_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix reweighting (DoReMi-style uniform target): each
    source's sampling weight is target_share / actual_token_share, so
    under-represented domains are upsampled toward a uniform mix.
    Weights are emitted in integer basis points. Two-level aggregate:
    per-source token sums (partial+final, map-side combined), then the
    grand total broadcast back — at 100 TB the second stage moves 20
    rows."""
    docs = load_documents(spark, sf_dir)
    s = (
        docs.select("source", F.size(tokenize(F.col("text"))).alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("bigint").alias("tokens"))
    )
    tot = s.agg(F.sum("tokens").cast("bigint").alias("total"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tokens",
            F.round(10000.0 * F.col("tokens") / F.col("total"))
            .cast("bigint")
            .alias("share_bp"),
            F.round(10000.0 * F.col("total") / (_N_SOURCES * F.col("tokens")))
            .cast("bigint")
            .alias("weight_bp"),
        )
        .orderBy("source")
    )


# Module-level pandas UDF (function-scope pandas UDFs break on string
# annotations — see the build-state notes).
from pyspark.sql import types as _T  # noqa: E402
from pyspark.sql.functions import pandas_udf as _pandas_udf  # noqa: E402


@_pandas_udf(_T.DoubleType())
def _compression_ratio(texts):
    """deflate-compressed size / raw size, 4dp. zlib level 6 is
    deterministic for a given input across runs and platforms."""
    import zlib

    import pandas as pd

    def ratio(t):
        if t is None or len(t) == 0:
            return None
        raw = t.encode("utf-8")
        return round(len(zlib.compress(raw, 6)) / len(raw), 4)

    return pd.Series([ratio(t) for t in texts])


_Q125_SIG = "count(*) || ':' || sum(n_chars) || ':' || sum(doc_id)"


def _duck_golden_125() -> str:
    from ooh_etl_spark.queries._golden import GOLDEN_Q125

    rows = ",\n        ".join(
        f"('{sig}', '{s}', '{b}', {n})"
        for sig, rs in GOLDEN_Q125.items()
        for s, b, n in rs
    )
    return f"""
    WITH sig AS (SELECT {_Q125_SIG} AS s FROM documents)
    SELECT source, bucket, CAST(n_docs AS BIGINT) AS n_docs
    FROM (VALUES {rows}) g(gsig, source, bucket, n_docs)
    WHERE gsig = (SELECT s FROM sig)
    ORDER BY source, bucket
    """


from ooh_etl_spark.queries._golden import GOLDEN_Q125 as _G125  # noqa: E402


@register(
    "q125_compression_quality",
    _duck_golden_125(),
    golden_guard=f"SELECT {_Q125_SIG} FROM documents",
    golden_domain=frozenset(_G125),
)
def q125_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (Gopher Table A1: highly
    compressible text is repetitive boilerplate; near-incompressible
    is noise): deflate ratio per doc via an Arrow-batched pandas UDF —
    the designated slow-path pattern for logic with no Spark-native
    expression — bucketed into a per-source census.

    Correctness: DuckDB ships no deflate, so the oracle is a GOLDEN
    VALUES table (VERDICT r10 item 6) — the census computed by the
    pure-Python sequential reference in tools/make_golden.py (pyarrow
    + zlib, no Spark) and pinned per fixture signature; the guard
    falls back to rows-only on unpinned corpora (5x-sweep replicas).
    The differential is real: distributed Arrow-UDF batching +
    aggregation vs a one-process reference over the same bytes.
    test_compression_quality_buckets pins the bucket semantics."""
    docs = load_documents(spark, sf_dir)
    r = docs.select("source", _compression_ratio(F.col("text")).alias("ratio"))
    bucket = (
        F.when(F.col("ratio") < 0.35, "repetitive")
        .when(F.col("ratio") <= 0.75, "normal")
        .otherwise("incompressible")
    )
    return (
        r.groupBy("source", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "bucket")
    )


_SPAN_N = 5  # gram length for cross-document duplicated-span detection
_SPAN_BP = 5000  # flag docs with >= 50% duplicated positions

_DUCK_DUP_SPANS = f"""
    WITH t AS (
      SELECT doc_id, source, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT doc_id, source,
             list_transform(generate_series(1, len(toks) - {_SPAN_N - 1}),
                            i -> array_to_string(toks[i:i+{_SPAN_N - 1}], ' ')) AS grams
      FROM t WHERE len(toks) >= {_SPAN_N}),
         pos AS (
      SELECT doc_id, source, unnest(grams) AS gram FROM g),
         dup AS (
      SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd FROM pos GROUP BY gram)
      WHERE nd >= 2),
         per_doc AS (
      SELECT p.doc_id, p.source,
             count(*) AS n_pos,
             CAST(sum(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM pos p LEFT JOIN dup d ON p.gram = d.gram
      GROUP BY p.doc_id, p.source)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_dup) AS BIGINT) AS total_dup_positions,
           CAST(sum(CASE WHEN n_dup * 10000 >= {_SPAN_BP} * n_pos THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM per_doc GROUP BY source ORDER BY source
"""


@register("q152_dup_ngram_spans", _DUCK_DUP_SPANS)
def q152_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span census — the per-fixed-length
    statistic behind exact substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): a token position is DUPLICATED if the 5-gram
    starting there also occurs in another document. Emits, per source,
    the total duplicated positions and the count of docs whose
    duplicated-position share is >= 50% (integer cross-multiplied
    threshold) — the docs exact-substring dedup would cut.

    100 TB notes: the inverted pass shuffles (gram, doc_id) pairs and
    reduces each gram to its distinct-doc count (partial aggregation
    collapses within-doc repeats map-side); the duplicated-gram set
    joins back on the gram key — AQE chooses broadcast only when the
    dup set actually fits. No per-position state leaves the scan stage
    otherwise. Full suffix-array dedup generalizes the gram length;
    this fixed-L census is its per-L building block."""
    toks = tokenize(F.col("text"))
    base = load_documents(spark, sf_dir).select("doc_id", "source", toks.alias("toks"))
    # `toks` is an attribute here (materialized projection), so lambda
    # references are O(1) slot lookups, not re-evaluated expressions.
    grams = base.filter(F.size("toks") >= _SPAN_N).select(
        "doc_id",
        "source",
        F.explode(word_ngrams(F.col("toks"), _SPAN_N)).alias("gram"),
    )
    dup = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    per_doc = (
        grams.join(dup.withColumn("is_dup", F.lit(1)), "gram", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("bigint").alias("n_dup"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_dup").cast("bigint").alias("total_dup_positions"),
            F.sum(
                (F.col("n_dup") * 10000 >= F.lit(_SPAN_BP) * F.col("n_pos")).cast("int")
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


_DUCK_DSIR = f"""
    WITH t AS (
      SELECT doc_id, source, lang, {DUCK_TOKENIZE} AS toks FROM documents),
         b AS (
      SELECT doc_id, source, lang,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> array_to_string(toks[i:i+1], ' '))) AS bg
      FROM t WHERE len(toks) >= 2),
         cnt AS (
      SELECT bg,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cs
      FROM b GROUP BY bg),
         tot AS (
      SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cs) AS BIGINT) AS ns,
             count(*) AS v
      FROM cnt),
         w AS (
      SELECT doc_id, source,
             CAST(sum(CAST(round(1000000 * (ln((ct + 1.0) / (nt + v))
                                          - ln((cs + 1.0) / (ns + v))))
                           AS BIGINT)) AS BIGINT) AS w_u
      FROM b JOIN cnt USING (bg) CROSS JOIN tot
      GROUP BY doc_id, source)
    SELECT source, count(*) AS n_docs,
           CAST(sum(w_u) AS BIGINT) AS total_w_u,
           CAST(sum(CASE WHEN w_u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_target_like
    FROM w GROUP BY source ORDER BY source
"""


@register("q153_dsir_importance", _DUCK_DSIR)
def q153_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al., NeurIPS 2023,
    arXiv:2302.03169): score every document by the log-likelihood ratio
    of its bigrams under a TARGET language model (here: the English
    subset, add-one smoothed) vs the SOURCE model (everything else) —
    the data-selection signal used to resample a raw corpus toward a
    target distribution. Per-bigram log-ratios are quantized to integer
    micro-units BEFORE the per-doc sum (cross-row float order policy),
    so the census is engine-exact.

    100 TB notes: one (bigram, doc) shuffle with map-side partial
    counts builds both LMs in a single pass (conditional aggregation);
    the global totals are a 1-row broadcast; scoring joins docs'
    bigrams back to the count table on the bigram key. DSIR's hashed
    variant (bucket bigrams into 2^20 ids) bounds the vocabulary when
    grams explode — same plan, integer keys."""
    toks = tokenize(F.col("text"))
    base = load_documents(spark, sf_dir).select(
        "doc_id", "source", "lang", toks.alias("toks")
    )
    bg = base.filter(F.size("toks") >= 2).select(
        "doc_id",
        "source",
        "lang",
        F.explode(word_ngrams(F.col("toks"), 2)).alias("bg"),
    )
    cnt = bg.groupBy("bg").agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("ct"),
        F.sum((F.col("lang") != "en").cast("long")).alias("cs"),
    )
    tot = cnt.agg(
        F.sum("ct").alias("nt"), F.sum("cs").alias("ns"), F.count(F.lit(1)).alias("v")
    )
    ratio_u = quantise(
        F.log((F.col("ct") + 1.0) / (F.col("nt") + F.col("v")))
        - F.log((F.col("cs") + 1.0) / (F.col("ns") + F.col("v"))),
        6,
    )
    w = (
        bg.join(cnt, "bg")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(F.sum(ratio_u).cast("bigint").alias("w_u"))
    )
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w_u").cast("bigint").alias("total_w_u"),
            F.sum((F.col("w_u") > 0).cast("long")).cast("bigint").alias("n_target_like"),
        )
        .orderBy("source")
    )


_DUCK_CCNET = f"""
    WITH t AS (
      SELECT doc_id, lang, {DUCK_TOKENIZE} AS toks FROM documents),
         tok AS (
      SELECT doc_id, lang, unnest(toks) AS w FROM t),
         cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM cnt),
         per AS (
      SELECT doc_id, lang, count(*) AS n,
             CAST(sum(CAST(round(1000000 * ln(n_corpus * 1.0 / c)) AS BIGINT))
                  AS BIGINT) AS s_u
      FROM tok JOIN cnt USING (w) CROSS JOIN tot
      GROUP BY doc_id, lang),
         h AS (
      SELECT doc_id, lang, CAST(round(s_u * 1.0 / n) AS BIGINT) AS h_u FROM per),
         q AS (
      SELECT quantile_disc(h_u, 0.33333) AS t1, quantile_disc(h_u, 0.66667) AS t2
      FROM h)
    SELECT lang,
           CASE WHEN h_u <= t1 THEN 'head'
                WHEN h_u <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           count(*) AS n_docs
    FROM h CROSS JOIN q
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("q155_ccnet_perplexity_buckets", _DUCK_CCNET)
def q155_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2019,
    arXiv:1911.00359): score each document by its mean cross-entropy
    under the corpus unigram LM, then split the corpus into
    head/middle/tail at the exact tercile boundaries — the quality
    gradient CCNet uses to pick which crawl slices to keep. Per-token
    surprisals are quantized to integer micro-nats BEFORE the per-doc
    sum; tercile cuts are percentile_disc over the integer per-doc
    scores, so the whole partition is engine-exact.

    100 TB notes: the LM is one (token) shuffle with map-side partial
    counts; the corpus total is a 1-row broadcast; scoring joins tokens
    back to the count table on the token key. The tercile cut is a
    2-value broadcast from a single distributed percentile aggregate —
    at extreme doc counts swap percentile_disc for approx_percentile
    (the q39/q39b twin pattern)."""
    toks = tokenize(F.col("text"))
    tok = (
        load_documents(spark, sf_dir)
        .select("doc_id", "lang", toks.alias("toks"))
        .select("doc_id", "lang", F.explode("toks").alias("w"))
    )
    # checkpoint the vocab-bounded LM (feeds the corpus total AND the
    # scoring join) and, below, the narrow per-doc score table (feeds
    # the tercile cut AND the bucket rollup) — without them the
    # tokenizing passes re-ran per consumer (audited: 6 parquet scans
    # of documents in one plan; now 2).
    cnt = materialize(tok.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n_corpus"))
    surprisal_u = quantise(F.log(F.col("n_corpus") * F.lit(1.0) / F.col("c")), 6)
    per = (
        tok.join(cnt, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(surprisal_u).cast("bigint").alias("s_u"),
        )
    )
    h = materialize(per.select(
        "doc_id",
        "lang",
        F.round(F.col("s_u") * 1.0 / F.col("n")).cast("bigint").alias("h_u"),
    ))
    q = h.agg(
        F.expr("percentile_disc(0.33333) WITHIN GROUP (ORDER BY h_u)").alias("t1"),
        F.expr("percentile_disc(0.66667) WITHIN GROUP (ORDER BY h_u)").alias("t2"),
    )
    bucket = (
        F.when(F.col("h_u") <= F.col("t1"), "head")
        .when(F.col("h_u") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        h.crossJoin(F.broadcast(q))
        .groupBy("lang", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "bucket")
    )


# --- q162: end-to-end corpus build (round-4 capstone) ---------------------
# Quality gate: >= 10 tokens AND distinct-token ratio >= 0.3 (integer
# cross-product form, the module's exactness convention).
_CB_MIN_TOKS = 10

_DUCK_CORPUS_BUILD = f"""
    WITH d AS (
      SELECT doc_id, source, text, {DUCK_TOKENIZE} AS toks FROM documents),
         q AS (
      SELECT * FROM d
      WHERE len(toks) >= {_CB_MIN_TOKS}
        AND 10 * len(list_distinct(toks)) >= 3 * len(toks)),
         ex AS (
      SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
         exd AS (
      SELECT q.* FROM q JOIN ex USING (doc_id)),
         s AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                                    i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM exd),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         inv AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
         dropped AS (
      SELECT DISTINCT id_b AS doc_id
      FROM shared JOIN sz sa ON id_a = sa.doc_id
                  JOIN sz sb ON id_b = sb.doc_id
      WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5),
         fin AS (
      SELECT exd.* FROM exd LEFT JOIN dropped USING (doc_id)
      WHERE dropped.doc_id IS NULL)
    SELECT d.source,
           count(*) AS n_raw,
           count(q.doc_id) AS n_quality,
           count(exd.doc_id) AS n_exact,
           count(fin.doc_id) AS n_final,
           CAST(coalesce(sum(CASE WHEN fin.doc_id IS NOT NULL
                             THEN len(fin.toks) END), 0) AS BIGINT)
             AS tokens_final
    FROM d
    LEFT JOIN q   ON d.doc_id = q.doc_id
    LEFT JOIN exd ON d.doc_id = exd.doc_id
    LEFT JOIN fin ON d.doc_id = fin.doc_id
    GROUP BY d.source
    ORDER BY d.source
"""


@register("q162_corpus_build", _DUCK_CORPUS_BUILD)
def q162_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus build — the pipeline a pretraining-data user
    actually runs, as ONE query: quality gate (token count + distinct
    ratio, integer cross-product form) → exact dedup (q26's min-id
    survivor rule) → near-dup removal (q27's inverted-index Jaccard at
    0.5, dropping the larger id of each pair) → per-source yield
    report with surviving token counts. Every stage reuses the
    engine's operator (exact_dedup / jaccard_pairs), so this is also a
    composition test: the oracle replays the full funnel in SQL.

    100 TB shape: stage funnels SHRINK the data monotonically — the
    quality gate is scan-stage-only, exact dedup is one hash shuffle
    on text, the Jaccard pass runs on quality+exact survivors only
    (the q27 single-pipeline plan), and the final report is one
    source-keyed aggregation of boolean stage flags — per-doc lineage
    rides as three cheap semi-join flags, never a wide materialized
    intermediate."""
    from ooh_etl_spark.operators.dedup import exact_dedup, jaccard_pairs

    d = load_documents(spark, sf_dir).select(
        "doc_id", "source", "text", tokenize(F.col("text")).alias("toks")
    )
    # Stage-boundary materialization (localCheckpoint): the quality
    # survivors feed the dedup join AND the lineage flags, and the
    # exact-dedup survivors feed Jaccard + final + flags — without the
    # checkpoints each consumer re-ran the tokenizing gate (audited: 8
    # parquet scans of documents in one plan). At 100 TB these are the
    # intermediate writes a production funnel makes between stages.
    q = materialize(d.filter(
        (F.size("toks") >= _CB_MIN_TOKS)
        & (10 * F.size(F.array_distinct("toks")) >= 3 * F.size("toks"))
    ))
    exd = materialize(q.join(
        exact_dedup(q, key="text", id_col="doc_id").select("doc_id"), "doc_id"
    ))
    dropped = (
        jaccard_pairs(exd, "text", "doc_id", threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    fin = exd.join(dropped, "doc_id", "left_anti")
    flags = (
        d.select("doc_id", "source")
        .join(q.select("doc_id", F.lit(1).alias("fq")), "doc_id", "left")
        .join(exd.select("doc_id", F.lit(1).alias("fe")), "doc_id", "left")
        .join(
            fin.select("doc_id", F.size("toks").alias("ftoks")), "doc_id", "left"
        )
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count("fq").alias("n_quality"),
            F.count("fe").alias("n_exact"),
            F.count("ftoks").alias("n_final"),
            F.coalesce(F.sum("ftoks"), F.lit(0)).cast("bigint").alias("tokens_final"),
        )
        .orderBy("source")
    )


# --- q163: duplicated-span REMOVAL (round-4; completes q152's census) ------
_DUCK_SPAN_REMOVAL = f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         pos AS (
      SELECT doc_id, i, toks[i] AS tok
      FROM t CROSS JOIN unnest(generate_series(1, len(toks))) AS u(i)),
         starts AS (
      SELECT doc_id, s,
             array_to_string(toks[s:s+{_SPAN_N - 1}], ' ') AS gram
      FROM t CROSS JOIN unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS u(s)
      WHERE len(toks) >= {_SPAN_N}),
         dup AS (
      SELECT gram FROM (
        SELECT gram, count(DISTINCT doc_id) AS nd FROM starts GROUP BY gram)
      WHERE nd >= 2),
         dstarts AS (
      SELECT s.doc_id, s.s FROM starts s JOIN dup USING (gram)),
         rem AS (
      SELECT DISTINCT p.doc_id, p.i
      FROM pos p JOIN dstarts d
        ON p.doc_id = d.doc_id AND p.i BETWEEN d.s AND d.s + {_SPAN_N - 1}),
         kept AS (
      SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.i) AS kept_text
      FROM pos p LEFT JOIN rem r ON p.doc_id = r.doc_id AND p.i = r.i
      WHERE r.i IS NULL GROUP BY p.doc_id),
         nrem AS (
      SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id)
    SELECT t.doc_id,
           len(t.toks) AS n_toks,
           coalesce(nrem.n_removed, 0) AS n_removed,
           md5(coalesce(kept.kept_text, '')) AS kept_md5
    FROM t LEFT JOIN nrem USING (doc_id) LEFT JOIN kept USING (doc_id)
    ORDER BY doc_id
"""


@register("q163_dup_span_removal", _DUCK_SPAN_REMOVAL)
def q163_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", step
    2): q152 censuses duplicated {_SPAN_N}-gram positions; this query
    actually removes them — a token survives iff no duplicated gram
    (one appearing in >= 2 distinct documents) covers it. Output is
    per-doc removal accounting plus an md5 of the retained text, so
    the oracle proves the RECONSTRUCTED documents are identical
    byte-for-byte, not just the counts.

    100 TB shape: the only global stage is the gram-keyed duplicate
    aggregate (map-side combined, same key as q27's posting shuffle);
    coverage expansion joins dup starts back per-doc (equi on doc_id
    with a +/-{_SPAN_N} position band — co-partitioned, never
    corpus-wide); reconstruction is a per-doc sort inside one keyed
    aggregation. Gram-frequency skew (stop-grams) is the AQE
    skew-split case, and at extreme scale the dup table is
    semi-join-reducible before the coverage join."""
    # checkpoint the tokenized corpus (feeds positions, gram starts,
    # and the final accounting — audited: 8 parquet scans of documents
    # before; re-exploding from the materialized frame is cheap CPU,
    # re-tokenizing from parquet is not)
    d = materialize(
        load_documents(spark, sf_dir)
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
    )
    pos = d.select(
        "doc_id", F.posexplode("toks").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    starts = (
        d.filter(F.size("toks") >= _SPAN_N)
        .select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("toks"), _SPAN_N)).alias("s0", "gram"),
        )
        .select("doc_id", (F.col("s0") + 1).alias("s"), "gram")
    )
    dup = (
        starts.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dstarts = starts.join(dup, "gram").select("doc_id", "s")
    # checkpoint the removed-position set: it feeds both the anti-join
    # reconstruction and the removal counts, and re-deriving it means
    # re-running the whole gram-duplicate pipeline.
    rem = materialize(
        pos.join(
            dstarts,
            (pos.doc_id == dstarts.doc_id)
            & pos.i.between(dstarts.s, dstarts.s + (_SPAN_N - 1)),
        )
        .select(pos.doc_id, pos.i)
        .distinct()
    )
    kept = (
        pos.join(rem, ["doc_id", "i"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "tok"))),
                    lambda t: t.getField("tok"),
                ),
            ).alias("kept_text")
        )
    )
    nrem = rem.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    return (
        d.select("doc_id", F.size("toks").alias("n_toks"))
        .join(nrem, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.md5(F.coalesce("kept_text", F.lit(""))).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


# --- q164: temperature-scaled source mixture (round-4) --------------------
_DUCK_TEMP_MIX = f"""
    WITH t AS (
      SELECT source, len({DUCK_TOKENIZE}) AS n_tokens FROM documents),
         s AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens FROM t
      GROUP BY source),
         q AS (
      SELECT source, tokens,
             CAST(round(sqrt(tokens) * 1000000) AS BIGINT) AS q_micro
      FROM s),
         tot AS (SELECT CAST(sum(q_micro) AS BIGINT) AS q_total FROM q)
    SELECT source, tokens,
           CAST(round(1000000.0 * q_micro / q_total) AS BIGINT) AS weight_ppm
    FROM q CROSS JOIN tot
    ORDER BY source
"""


@register("q164_temperature_mix", _DUCK_TEMP_MIX)
def q164_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mix (the mT5 / UniMax multilingual
    recipe, T=2): p_i ∝ tokens_i^(1/T), flattening the source
    distribution less aggressively than q83's uniform-target DoReMi
    reweight. Exactness policy: tokens^0.5 is a per-row sqrt (engine-
    identical double) QUANTIZED to integer micro-units before the
    normalizing sum, so the denominator is an exact integer sum —
    never an order-dependent float reduction.

    100 TB shape: identical to q83 — one map-side-combined per-source
    aggregate, then a 20-row broadcast of the total."""
    docs = load_documents(spark, sf_dir)
    s = (
        docs.select("source", F.size(tokenize(F.col("text"))).alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("bigint").alias("tokens"))
    )
    q = s.withColumn(
        "q_micro", quantise(F.sqrt("tokens"), 6)
    )
    tot = q.agg(F.sum("q_micro").cast("bigint").alias("q_total"))
    return (
        q.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tokens",
            F.round(1000000.0 * F.col("q_micro") / F.col("q_total"))
            .cast("bigint")
            .alias("weight_ppm"),
        )
        .orderBy("source")
    )


_DUCK_STOP_EN = "['the','a','of','to','and','in','is']"


@register(
    "q206_quality_yield_curve",
    f"""
    WITH t AS (
      SELECT text, {DUCK_TOKENIZE} AS toks,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
               AS punct
      FROM documents),
         f AS (
      SELECT len(toks) AS n_tokens,
             round(len(list_filter(toks, x -> list_contains({_DUCK_STOP_EN}, x)))
                   / len(toks), 4) AS stop_ratio,
             round(punct / length(text), 4) AS punct_ratio
      FROM t),
         bp AS (
      SELECT n_tokens,
             CAST(round((0.4 * least(n_tokens / 100.0, 1.0)
                       + 0.3 * least(stop_ratio * 5, 1.0)
                       + 0.3 * (1 - least(punct_ratio * 10, 1.0))) * 10000, 0)
                  AS BIGINT) AS q_bp
      FROM f),
         buckets AS (
      SELECT CAST(floor(q_bp / 1000) AS INT) AS bucket,
             count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM bp GROUP BY bucket)
    SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
           CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
           CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens
    FROM buckets
    WINDOW w AS (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
    ORDER BY bucket DESC
    """,
)
def q206_quality_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold yield curve — the sweep a data curator reads
    before picking a filter cutoff (the Ask-LLM / C4-style 'what does
    each threshold cost in tokens' table): bucket every document by
    its basis-point quality score (q23's exact quantization, decile
    buckets), then accumulate documents and tokens from the TOP
    bucket down, so each row answers 'if we keep only docs scoring
    >= bucket/10, we retain cum_docs docs and cum_tokens tokens'.

    100 TB design: one corpus pass computes per-doc (bucket, tokens)
    narrowly; one 11-key aggregation; the cumulative window runs over
    the 11-row bucket table (bounded by the quantization grid — the
    q145/q196 small-table window argument). Integer counts
    end-to-end; the score quantizes to basis points BEFORE
    bucketing (the established cross-engine double-round guard)."""
    from ooh_etl_spark.functions.text import quality_features, quality_score

    docs = load_documents(spark, sf_dir)
    feats = quality_features(F.col("text"))
    bp = docs.select(
        feats["n_tokens"].alias("n_tokens"),
        quantise(quality_score(F.col("text"), rounded=False), 4)
        .alias("q_bp"),
    )
    buckets = (
        bp.select(
            F.floor(F.col("q_bp") / 1000).cast("int").alias("bucket"),
            "n_tokens",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return buckets.select(
        "bucket",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "n_tokens",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
    ).orderBy(F.desc("bucket"))


# --- q297: quantile normalization across sources -------------------------
_DUCK_QNORM = """
    WITH hist AS (
      SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
         cum AS (
      SELECT v,
             sum(c) OVER (ORDER BY v) AS hi,
             sum(c) OVER (ORDER BY v) - c + 1 AS lo
      FROM hist),
         tot AS (SELECT count(*) AS n FROM documents),
         ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS ng
      FROM documents),
         mapped AS (
      SELECT r.source, r.n_chars,
             ((2 * r.rk - 1) * tot.n + 2 * r.ng - 1) // (2 * r.ng) AS k
      FROM ranked r CROSS JOIN tot),
         qn AS (
      SELECT m.source, m.n_chars, cum.v AS v_qn
      FROM mapped m JOIN cum ON m.k BETWEEN cum.lo AND cum.hi)
    SELECT source, count(*) AS n,
           CAST(round(sum(n_chars) * 1000.0 / count(*)) AS BIGINT)
             AS mean_raw_milli,
           CAST(round(sum(v_qn) * 1000.0 / count(*)) AS BIGINT)
             AS mean_qn_milli
    FROM qn GROUP BY source ORDER BY source
"""


@register("q297_quantile_normalization", _DUCK_QNORM)
def q297_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (Bolstad et al.,
    Bioinformatics 2003 — the cross-batch calibration standard): map
    each document's within-source midpoint rank u = (2r-1)/(2n_g)
    onto the POOLED distribution's nearest-rank quantile, so every
    source ends up with (near-)identical score distributions — the
    fix when per-source quality scores (here n_chars as the stand-in)
    aren't comparable because sources have different scales. Output:
    per-source raw vs normalized means; normalization is working when
    the mean_qn column is flat across sources.

    Exactness: ranks and the ceil-division k = ceil((2r-1)N / 2n_g)
    are pure integer arithmetic; the quantile lookup lands on a
    discrete order statistic (no interpolation), so both engines pick
    the identical value.

    100 TB shape: NO corpus-wide sort — the pooled distribution is a
    value HISTOGRAM (|distinct values| rows) with cumulative bounds,
    the q281 rank-map pattern; per-source ranks are one partitioned
    window; the quantile lookup is a range join against the
    broadcast-sized histogram. A corpus-wide row_number would be the
    naive plan; this one's widest shuffle is the per-source window."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "v",
        F.sum("c").over(wv).alias("hi"),
        (F.sum("c").over(wv) - F.col("c") + 1).alias("lo"),
    )
    n_total = docs.count()
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("ng"),
    )
    mapped = ranked.select(
        "source",
        "n_chars",
        F.expr(
            f"((2 * rk - 1) * {n_total}L + 2 * ng - 1) div (2 * ng)"
        ).alias("k"),
    )
    qn = mapped.join(
        F.broadcast(cum),
        (F.col("k") >= F.col("lo")) & (F.col("k") <= F.col("hi")),
    )
    return (
        qn.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("n_chars") * 1000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_raw_milli"),
            F.round(F.sum("v") * 1000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_qn_milli"),
        )
        .orderBy("source")
    )


# --- q351: lexicon-based content flagging (round 6) ------------------------
_LEX_TERMS = ("rusty", "dark", "dim", "blush")  # stand-in flag lexicon
_LEX_RATE_BP = 1500  # doc flagged when >= 15% of tokens hit the lexicon

_DUCK_LEXICON = f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({DUCK_TOKENIZE}) AS w FROM documents),
         per AS (
      SELECT doc_id, source,
             CAST(count(*) AS BIGINT) AS n_toks,
             CAST(sum(CASE WHEN w IN {_LEX_TERMS!r} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM tok GROUP BY 1, 2),
         flagged AS (
      SELECT source, n_toks, n_hits,
             CASE WHEN 10000 * n_hits >= {_LEX_RATE_BP} * n_toks
                  THEN 1 ELSE 0 END AS flagged
      FROM per)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(flagged) AS BIGINT) AS n_flagged,
           CAST(round(10000.0 * sum(flagged) / count(*)) AS BIGINT)
             AS flagged_bp,
           CAST(round(10000.0 * sum(n_hits) / sum(n_toks)) AS BIGINT)
             AS hit_rate_bp
    FROM flagged GROUP BY source ORDER BY source
"""


@register("q351_lexicon_flagging", _DUCK_LEXICON)
def q351_lexicon_flagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based content flagging — the first-pass safety/policy
    filter every corpus pipeline runs before any model-based
    classifier (RefinedWeb/Dolma both gate on blocklist hit RATES,
    not mere presence, because single-hit flagging censors medical
    and news text): per-doc lexicon hit rate over a broadcast term
    set, docs flagged at >= {_LEX_RATE_BP} bp, per-source flag and
    hit rates — the dashboard that decides whether a SOURCE is
    droppable wholesale or needs doc-level review.

    Determinism: hits and token counts are integers; the flag
    threshold compares cross-multiplied integers (no division);
    rates quantize to bp.

    100 TB shape: the lexicon is an IN-list literal compiled into the
    scan-stage filter expression (a real 10^4-term lexicon swaps in a
    broadcast join against the exploded tokens — same plan plus one
    broadcast); one (doc) aggregate, one (source) rollup. The
    model-based second pass (q153/q155) consumes this query's
    survivors."""
    docs = load_documents(spark, sf_dir)
    tok = docs.select(
        "doc_id", "source", F.explode(tokenize(F.col("text"))).alias("w")
    )
    per = tok.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks"),
        F.sum(F.when(F.col("w").isin(*_LEX_TERMS), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
    )
    flagged = per.select(
        "source",
        "n_toks",
        "n_hits",
        F.when(
            10000 * F.col("n_hits") >= _LEX_RATE_BP * F.col("n_toks"), 1
        )
        .otherwise(0)
        .alias("flagged"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("flagged").cast("bigint").alias("n_flagged"),
            F.round(10000.0 * F.sum("flagged") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("flagged_bp"),
            F.round(10000.0 * F.sum("n_hits") / F.sum("n_toks"))
            .cast("bigint")
            .alias("hit_rate_bp"),
        )
        .orderBy("source")
    )


# --- q382: leave-one-source-out corpus ablation (round 6) -------------------
_DUCK_LOO = """
    WITH per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY source),
         tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n,
             CAST(sum(sum_chars) AS BIGINT) AS s
      FROM per_src)
    SELECT p.source, p.n_docs,
           CAST(round(1000.0 * p.sum_chars / p.n_docs) AS BIGINT)
             AS mean_len_milli,
           CAST(round(1000.0 * tot.s / tot.n) AS BIGINT)
             AS corpus_mean_milli,
           CAST(round(1000.0 * (tot.s - p.sum_chars)
                      / (tot.n - p.n_docs)) AS BIGINT)
             AS loo_mean_milli,
           CAST(round(1000.0 * ((tot.s - p.sum_chars) * 1.0
                                / (tot.n - p.n_docs)
                                - tot.s * 1.0 / tot.n)) AS BIGINT)
             AS loo_delta_milli
    FROM per_src p CROSS JOIN tot
    ORDER BY loo_delta_milli DESC, source
"""


@register("q382_source_ablation", _DUCK_LOO)
def q382_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out corpus ablation (the data-ablation table
    every corpus paper publishes — e.g. the source-removal studies in
    Gao et al.'s Pile and Penedo et al.'s RefinedWeb): for each
    source, what happens to the corpus-level metric (here mean doc
    length) if that source is REMOVED — computed for all sources from
    ONE aggregate, because LOO statistics of additive metrics are
    closed-form complements (total minus the group's own sums), not
    |sources| re-scans. The cheap screen that precedes q205's
    per-example Shapley valuation.

    Exactness: per-source counts/sums are exact integers; every LOO
    mean is a rational of those integers.

    100 TB shape: ONE map-side-combinable aggregate keyed on source;
    the complement arithmetic runs on the |sources|-row table with the
    1-row total broadcast. Adding metrics (dedup rate, lang purity)
    adds agg columns, never passes."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.sum("sum_chars").cast("bigint").alias("s"),
    )
    loo_mean = (F.col("s") - F.col("sum_chars")) * 1.0 / (F.col("n") - F.col("n_docs"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(1000.0 * F.col("sum_chars") / F.col("n_docs"))
            .cast("bigint")
            .alias("mean_len_milli"),
            F.round(1000.0 * F.col("s") / F.col("n"))
            .cast("bigint")
            .alias("corpus_mean_milli"),
            quantise(loo_mean, 3).alias("loo_mean_milli"),
            quantise(loo_mean - F.col("s") * 1.0 / F.col("n"), 3)
            .alias("loo_delta_milli"),
        )
        .orderBy(F.desc("loo_delta_milli"), "source")
    )


# --- round-9 wave: q430 Gopher stopword-containment gate -------------------

#: Rae et al., "Scaling Language Models: ... Gopher" (arXiv
#: 2112.11446), Table A1, rule 8: keep a document only if it contains
#: at least TWO distinct words from a fixed 8-word English stop list.
#: The list below is the paper's verbatim set.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

_DUCK_STOPWORD_GATE = f"""
    WITH t AS (
      SELECT source, {DUCK_TOKENIZE} AS toks FROM documents),
         f AS (
      SELECT source,
             len(toks) AS n,
             len(list_filter({list(_GOPHER_STOPS)},
                             w -> list_contains(toks, w))) AS n_hit,
             len(list_filter(toks,
                             t -> list_contains({list(_GOPHER_STOPS)}, t)))
               AS n_stop
      FROM t)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_hit >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(sum(CASE WHEN n_hit < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_stopword,
           CAST(sum(n_stop) AS BIGINT) AS n_stop_tokens,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST((10000 * sum(n_stop)) // sum(n) AS BIGINT)
             AS stop_density_bp
    FROM f GROUP BY source ORDER BY source
"""


@register("q430_stopword_gate", _DUCK_STOPWORD_GATE)
def q430_stopword_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher stopword-containment gate (Rae et al. 2112.11446, Table
    A1 rule 8): a document passes only if it contains >= 2 DISTINCT
    words of the fixed 8-word stop list — the cheapest "is this prose
    at all" signal, run before any tokenizer or model-based filter.
    Per-source census: pass/fail counts plus the corpus stopword
    DENSITY (stop tokens / all tokens, floor-bp), the companion signal
    CCNet-style pipelines monitor for register drift.

    Exactness: distinct-hit count via set intersection with the
    literal list on both engines; density uses INTEGER floor division
    (``(10000*s) // n``), so no float rounding edge exists anywhere.

    100 TB shape: both signals are in-row collection expressions
    (array_intersect against an 8-element literal, one bounded regexp
    scan) inside the scan stage — no explode, no HOF lambda on the
    token array (the q417/q79 interpreted-lambda lesson); the only
    exchange is the 20-source final aggregate. Embarrassingly parallel
    at any scale."""
    t = F.lower(F.trim(F.col("text")))
    toks = tokenize(F.col("text"))
    stops = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    # Stop-TOKEN count as a bounded regexp extraction on the raw
    # string (group 2; the leading separator is consumed, the trailing
    # one is a lookahead so consecutive stopwords all match) — stays
    # in codegen, unlike filter()'s interpreted lambda.
    stop_alt = "|".join(_GOPHER_STOPS)
    n_stop = F.expr(
        rf"size(regexp_extract_all(lower(trim(text)),"
        rf" '(^|\\s)({stop_alt})(?=\\s|$)', 2))"
    )
    f = load_documents(spark, sf_dir).select(
        "source",
        F.size(F.split(t, r"\s+")).alias("n"),
        F.size(F.array_intersect(toks, stops)).alias("n_hit"),
        n_stop.alias("n_stop"),
    )
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("n_hit") >= 2).cast("int"))
            .cast("bigint")
            .alias("n_pass"),
            F.sum((F.col("n_hit") < 2).cast("int"))
            .cast("bigint")
            .alias("n_fail_stopword"),
            F.sum("n_stop").cast("bigint").alias("n_stop_tokens"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.expr("(10000 * sum(n_stop)) div sum(n)")
            .cast("bigint")
            .alias("stop_density_bp"),
        )
        .orderBy("source")
    )


# --- round-10 wave: q439 filter-ensemble agreement census -------------------

_DUCK_ENSEMBLE = f"""
    WITH t AS (
      SELECT {DUCK_TOKENIZE} AS toks FROM documents),
         f AS (
      SELECT len(toks) AS n,
             list_aggregate(list_transform(toks, x -> length(x)), 'sum')
               AS sum_len,
             len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
               AS n_alpha,
             len(list_filter({list(_GOPHER_STOPS)},
                             w -> list_contains(toks, w))) AS n_hit
      FROM t),
         g AS (
      SELECT n,
             (CASE WHEN n >= 10 THEN 1 ELSE 0 END)
             + (CASE WHEN sum_len >= 2 * n AND sum_len <= 12 * n
                     THEN 1 ELSE 0 END)
             + (CASE WHEN 5 * n_alpha >= 4 * n THEN 1 ELSE 0 END)
             + (CASE WHEN n_hit >= 2 THEN 1 ELSE 0 END) AS n_pass
      FROM f),
         tot AS (
      SELECT count(*) AS docs, sum(n) AS toks FROM g)
    SELECT n_pass,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST((10000 * count(*)) // tot.docs AS BIGINT) AS docs_bp,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST((10000 * sum(n)) // tot.toks AS BIGINT) AS tokens_bp
    FROM g CROSS JOIN tot
    GROUP BY n_pass, tot.docs, tot.toks
    ORDER BY n_pass
"""


@register("q439_filter_ensemble_census", _DUCK_ENSEMBLE)
def q439_filter_ensemble_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ensemble agreement census (the FineWeb ablation habit —
    Penedo et al., NeurIPS 2024 D&B — of measuring how much corpus
    each heuristic gate removes and how the gates OVERLAP before
    shipping a pipeline): four standard gates — C4 min-length,
    Gopher mean-token-length band, C4 alpha-token share, Gopher
    stopword containment (exactly q79's and q430's pinned
    expressions) — scored per document, reported as the distribution
    over agreement levels 0..4 in documents and tokens. The k=4 row
    is the corpus the full conjunction keeps; the k=3 rows are what
    each marginal gate is arguing about.

    Exactness: every gate is an integer cross-multiplication; shares
    are integer basis-point floor divisions of exact counts.

    100 TB shape: all four signals evaluate IN-ROW in the scan stage
    (plain string expressions, not HOF lambdas — the q417/q79
    lesson), so the whole census is one map-side-combinable aggregate
    over at most 5 grouping keys; the totals broadcast back onto a
    5-row frame."""
    t = F.lower(F.trim(F.col("text")))
    stops = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)
    f = load_documents(spark, sf_dir).select(
        F.size(F.split(t, r"\s+")).alias("n"),
        F.length(F.regexp_replace(t, r"\s+", "")).alias("sum_len"),
        F.expr(
            r"size(regexp_extract_all(lower(trim(text)),"
            r" '(^|\\s)([a-z]+)(?=\\s|$)', 2))"
        ).alias("n_alpha"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.split(t, r"\s+")),
                F.expr(f"array({stops})"),
            )
        ).alias("n_hit"),
    )
    # NULL-safe gate scoring (ADVICE r10, medium): a NULL text makes
    # every signal NULL, and a raw boolean cast would propagate that
    # into an n_pass=NULL group — while the DuckDB oracle's
    # CASE WHEN ... ELSE 0 scores the same doc n_pass=0. Wrap each
    # gate in when().otherwise(0) so both engines agree (the q432
    # null-drift class; test_q439_null_text_row_scores_zero).
    def _gate(cond):
        return F.when(cond, F.lit(1)).otherwise(F.lit(0))

    g = f.select(
        "n",
        (
            _gate(F.col("n") >= 10)
            + _gate(
                (F.col("sum_len") >= 2 * F.col("n"))
                & (F.col("sum_len") <= 12 * F.col("n"))
            )
            + _gate(5 * F.col("n_alpha") >= 4 * F.col("n"))
            + _gate(F.col("n_hit") >= 2)
        ).alias("n_pass"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n").alias("toks")
    )
    return (
        g.groupBy("n_pass")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_pass",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("(10000 * n_docs) div docs").cast("bigint").alias("docs_bp"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("(10000 * n_tokens) div toks")
            .cast("bigint")
            .alias("tokens_bp"),
        )
        .orderBy("n_pass")
    )


# --- round-11 wave: q443 character-entropy gate ------------------------------

_ENT_LOW_E9 = 2_000_000_000  # 2.0 bits in e9 units: the junk threshold


_DUCK_CHAR_ENTROPY = f"""
    WITH t AS (
      SELECT doc_id, source, lower(trim(text)) AS s FROM documents),
         ch AS (
      SELECT doc_id, source, length(s) AS n,
             unnest(list_transform(generate_series(1, length(s)),
                                   i -> substr(s, i, 1))) AS c
      FROM t),
         hist AS (
      SELECT doc_id, source, n, c, count(*) AS k
      FROM ch GROUP BY doc_id, source, n, c),
         term AS (
      SELECT doc_id, source,
             CAST(round(1000000000.0 * k / n
                        * log2(1.0 * n / k)) AS BIGINT) AS t_e9
      FROM hist),
         ent AS (
      SELECT doc_id, source, sum(t_e9) AS h_e9
      FROM term GROUP BY doc_id, source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN h_e9 < {_ENT_LOW_E9} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_entropy,
           CAST(sum(h_e9) // (1000 * count(*)) AS BIGINT) AS mean_entropy_e6
    FROM ent GROUP BY source ORDER BY source
"""


@register("q443_char_entropy_gate", _DUCK_CHAR_ENTROPY)
def q443_char_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate (the low-entropy junk filter in
    CCNet-descended pipelines — RefinedWeb §3.1 and MassiveText both
    gate on repetition-adjacent signals; char unigram entropy is the
    cheapest: keyboard mashing, progress bars, and base64 blobs sit
    far from prose's ~4 bits/char): per doc the Shannon entropy of
    the character unigram distribution, a per-source census of docs
    under 2.0 bits, and the mean entropy.

    Determinism: each (char, count) term quantizes to an e9 integer
    BEFORE the per-doc sum (log2 of an exact integer ratio — the q187
    libm contract: identical doubles in, identical doubles out), so
    cross-row reduction order never touches a float.

    100 TB shape: the char explode happens in the scan stage and
    collapses immediately to per-(doc, char) counts (alphabet-bounded:
    <= |charset| rows per doc survive the map-side combine); the rest
    is two keyed aggregates. The gate threshold is an integer compare
    on the e9 sum."""
    t = load_documents(spark, sf_dir).select(
        "doc_id", "source", F.lower(F.trim(F.col("text"))).alias("s")
    )
    # sequence(1, 0) DESCENDS in Spark (the q428 ANSI lesson): guard
    # empty/NULL strings to an empty index array explicitly.
    idx = F.when(
        F.length("s") >= 1, F.sequence(F.lit(1), F.length("s"))
    ).otherwise(F.array().cast("array<int>"))
    # n (total chars) is just length(s): carrying it through the
    # grouping keys saves the per-doc re-aggregate + join the naive
    # form pays (one keyed shuffle instead of three).
    ch = t.select(
        "doc_id",
        "source",
        F.length("s").alias("n"),
        F.explode(
            F.transform(idx, lambda i: F.expr("s").substr(i, F.lit(1)))
        ).alias("c"),
    )
    hist = ch.groupBy("doc_id", "source", "n", "c").agg(
        F.count(F.lit(1)).alias("k")
    )
    term = hist.select(
        "doc_id",
        "source",
        F.round(
            1000000000.0
            * F.col("k")
            / F.col("n")
            * F.log2(1.0 * F.col("n") / F.col("k"))
        )
        .cast("bigint")
        .alias("t_e9"),
    )
    ent = term.groupBy("doc_id", "source").agg(F.sum("t_e9").alias("h_e9"))
    return (
        ent.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("h_e9") < _ENT_LOW_E9).cast("int"))
            .cast("bigint")
            .alias("n_low_entropy"),
            F.expr("sum(h_e9) div (1000 * count(*))")
            .cast("bigint")
            .alias("mean_entropy_e6"),
        )
        .orderBy("source")
    )


# --- round-11 wave: q444 broadcast-Bloom decontamination ---------------------

_BLOOM_M = 16384  # 2^14 bits
_BLOOM_K = 3  # hash slices of md5: positions from hex chars 1-8, 9-16, 17-24


def _duck_bloom_pos(j: int, gram: str) -> str:
    return (
        f"(('0x' || substr(md5({gram}), {1 + 8 * j}, 8))::BIGINT % {_BLOOM_M})"
    )


_DUCK_BLOOM = f"""
    WITH t AS (
      SELECT doc_id, source, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT doc_id, source, unnest({_DUCK_TRIGRAMS}) AS gram FROM t),
         bench AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
         bits AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{", ".join(_duck_bloom_pos(j, "gram") for j in range(_BLOOM_K))}])
          AS pos FROM bench)),
         corpus AS (
      SELECT doc_id, source, gram,
             {" AND ".join(f"{_duck_bloom_pos(j, 'gram')} IN (SELECT pos FROM bits)" for j in range(_BLOOM_K))}
               AS bloom_hit,
             gram IN (SELECT gram FROM bench) AS exact_hit
      FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
         per_doc AS (
      SELECT doc_id, source,
             sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS n_bloom,
             sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS n_exact
      FROM corpus GROUP BY doc_id, source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_bloom >= {_MIN_SHARED} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged_bloom,
           CAST(sum(CASE WHEN n_exact >= {_MIN_SHARED} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged_exact,
           CAST(sum(CASE WHEN n_bloom >= {_MIN_SHARED}
                          AND n_exact < {_MIN_SHARED} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive
    FROM per_doc GROUP BY source ORDER BY source
"""


@register("q444_bloom_decontaminate", _DUCK_BLOOM)
def q444_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a BROADCAST BLOOM FILTER —
    the way q81's exact n-gram collision is actually deployed at
    corpus scale (AI2's Dolma/BFF 'bloom filter filtering' tooling;
    Soldaini et al. 2024 §4): the benchmark's trigram set compiles to
    a {_BLOOM_M}-bit Bloom filter ({_BLOOM_K} md5-slice hashes) that
    ships to every executor, and each corpus gram probes k bit
    positions in-memory — no shuffle of the corpus, no join against
    the benchmark TEXT. A doc is flagged when >= {_MIN_SHARED} of its
    grams hit all {_BLOOM_K} positions. The census reports, per
    source, bloom-flagged vs exact-flagged (q81's rule against ANY
    bench doc) and the resulting false-positive docs — the
    operational question (is 2^14 bits enough for this bench set?)
    answered with exact counts.

    Determinism: bit positions are md5 hex slices parsed as integers
    — engine-identical by construction (the conv/0x-parse pair is
    machine-checked in tests); every census value is an integer
    count.

    100 TB shape: the bit SET (<= 3 x |bench grams| distinct
    positions, here << 2^14) and the exact bench gram set are both
    broadcast; the corpus side evaluates membership in the scan
    stage and reduces to a per-doc counter — the filter never
    shuffles, which is exactly why production decontamination uses
    blooms instead of q81's join."""
    docs = load_documents(spark, sf_dir)
    toks = tokenize(F.col("text"))
    g = docs.select(
        "doc_id",
        "source",
        F.explode_outer(F.array_distinct(word_ngrams(toks, _NGRAM))).alias("gram"),
    ).filter(F.col("gram").isNotNull())

    # ONE md5 per gram row, k slice-probes off it (r13 opt: the k
    # positions previously each recomputed md5(gram) — 3x the digest
    # work per probed gram; interleaved A/B at sf0.1: 2.54s -> 2.20s
    # median, identical output).
    def pos(j: int) -> Column:
        return F.expr(
            f"CAST(conv(substring(h, {1 + 8 * j}, 8), 16, 10)"
            f" AS BIGINT) % {_BLOOM_M}"
        )

    bench = materialize(
        g.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select("gram")
        .distinct()
        # tiny; feeds 3 bit-probe joins + the exact
        # probe — without the cut each would re-scan the corpus
    )
    # localCheckpoint (r13 opt): the k probe joins each broadcast a
    # projection of this frame, and WITHOUT the cut each broadcast
    # build re-ran the whole position-distinct subtree (plan audit:
    # 3 identical Generate+HashAggregate+Exchange trees, no
    # ReuseExchange) — the cut computes the distinct ONCE and the
    # builds read a <= k x |bench grams|-row RDD.
    bits = materialize(
        bench.withColumn("h", F.md5("gram"))
        .select(
            F.explode(F.array(*[pos(j) for j in range(_BLOOM_K)])).alias("pos")
        )
        .distinct()
        .withColumn("bit_set", F.lit(1))
    )
    corpus = g.filter(F.col("doc_id") % _BENCH_MOD != 0)
    probed = corpus.withColumn("h", F.md5("gram"))
    for j in range(_BLOOM_K):
        probed = probed.withColumn(f"p{j}", pos(j))
    probed = probed.drop("h")
    for j in range(_BLOOM_K):
        probed = probed.join(
            F.broadcast(
                bits.select(
                    F.col("pos").alias(f"p{j}"), F.col("bit_set").alias(f"b{j}")
                )
            ),
            f"p{j}",
            "left",
        )
    bloom_hit = F.expr(
        " AND ".join(f"b{j} IS NOT NULL" for j in range(_BLOOM_K))
    )
    exact = bench.withColumn("exact_set", F.lit(1))
    per_doc = (
        probed.join(F.broadcast(exact), "gram", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(bloom_hit.cast("int")).alias("n_bloom"),
            F.sum(F.col("exact_set").isNotNull().cast("int")).alias("n_exact"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("n_bloom") >= _MIN_SHARED).cast("int"))
            .cast("bigint")
            .alias("n_flagged_bloom"),
            F.sum((F.col("n_exact") >= _MIN_SHARED).cast("int"))
            .cast("bigint")
            .alias("n_flagged_exact"),
            F.sum(
                (
                    (F.col("n_bloom") >= _MIN_SHARED)
                    & (F.col("n_exact") < _MIN_SHARED)
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_false_positive"),
        )
        .orderBy("source")
    )


# --- round-12 wave: q465 filter-agreement matrix ------------------------------

_AGREE_STOPWORDS = ("the", "a", "of", "to", "and", "in")

def _duck_agree() -> str:
    sw = ", ".join(f"'{w}'" for w in _AGREE_STOPWORDS)
    pairs = [
        ("len", "entropy"), ("len", "stopword"), ("len", "repetition"),
        ("entropy", "stopword"), ("entropy", "repetition"),
        ("stopword", "repetition"),
    ]
    rows = "\nUNION ALL\n".join(
        f"""
      SELECT '{a}' AS filter_a, '{b}' AS filter_b,
             CAST((10000 * sum(CASE WHEN g_{a} = g_{b} THEN 1 ELSE 0 END))
                  // count(*) AS BIGINT) AS agree_bp,
             CAST(sum(CASE WHEN g_{a} = 0 AND g_{b} = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS both_kill,
             CAST(sum(CASE WHEN g_{a} = 0 AND g_{b} = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS only_a_kills,
             CAST(sum(CASE WHEN g_{a} = 1 AND g_{b} = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS only_b_kills
      FROM gates"""
        for a, b in pairs
    )
    return f"""
    WITH d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks, text FROM documents),
         feat AS (
      SELECT doc_id, len(toks) AS n_toks,
             len(list_distinct(list_transform(
                 generate_series(1, length(text)), i -> text[i:i])))
               AS n_alpha,
             len(list_filter(toks, t -> t IN ({sw}))) AS n_stop,
             (SELECT max(c) FROM (
                SELECT count(*) AS c FROM unnest(toks) AS u(t) GROUP BY t))
               AS top_tok
      FROM d),
         gates AS (
      SELECT doc_id,
             CASE WHEN n_toks >= 20 THEN 1 ELSE 0 END AS g_len,
             CASE WHEN n_alpha >= 12 THEN 1 ELSE 0 END AS g_entropy,
             CASE WHEN (10000 * n_stop) // n_toks >= 100 THEN 1 ELSE 0 END
               AS g_stopword,
             CASE WHEN (10000 * top_tok) // n_toks <= 2000 THEN 1 ELSE 0 END
               AS g_repetition
      FROM feat)
    {rows}
    ORDER BY filter_a, filter_b
    """


@register("q465_filter_agreement_matrix", _duck_agree())
def q465_filter_agreement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter agreement matrix — the filter-redundancy audit
    behind ensemble pruning (Dolma ran ~10 heuristic gates; FineWeb's
    ablations ask which ones pay their way; q439 counts the ensemble's
    kills, THIS asks which members duplicate each other): four
    deterministic gates per document (length >= 20 tokens, alphabet
    size >= 12 distinct chars, stopword ratio >= 1%, top-token share
    <= 20% — the Gopher repetition rule), then for each of the six
    filter pairs the agreement rate and the kill overlap split
    (both / only-A / only-B). A pair agreeing at ~10000 bp is
    redundant — drop the costlier member; a filter whose kills are
    all 'only' kills is the ensemble's unique contributor.

    Determinism: all gates integer-threshold on exact counts; bp
    integer division.

    100 TB shape: gates are per-row expressions in one corpus scan;
    the six matrix cells are ONE 6-accumulator aggregate (stack of
    sums) — no joins, no second pass; output is 6 rows."""
    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _AGREE_STOPWORDS)
    feat = docs.select("doc_id", "text", tokenize(F.col("text")).alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        # split('') appends a trailing "" in Spark; remove it so the
        # distinct-char count matches DuckDB's per-char slicer exactly.
        F.size(
            F.array_remove(F.array_distinct(F.split(F.col("text"), "")), "")
        ).alias("n_alpha"),
        F.expr(f"size(filter(toks, t -> t IN ({sw})))").alias("n_stop"),
        # Top-token count via a sorted-run fold: O(n log n) in-row,
        # constant-size accumulator (no per-row map rebuild).
        F.expr(
            "aggregate(array_sort(toks),"
            " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),"
            " (acc, t) -> named_struct("
            "   'prev', t,"
            "   'run', CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
            "               THEN acc.run + 1 ELSE 1 END,"
            "   'best', greatest(acc.best,"
            "     CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
            "          THEN acc.run + 1 ELSE 1 END)),"
            " acc -> acc.best)"
        ).alias("top_tok"),
    )
    gates = feat.select(
        F.when(F.col("n_toks") >= 20, 1).otherwise(0).alias("g_len"),
        F.when(F.col("n_alpha") >= 12, 1).otherwise(0).alias("g_entropy"),
        F.when(
            F.expr("(10000 * n_stop) div n_toks") >= 100, 1
        ).otherwise(0).alias("g_stopword"),
        F.when(
            F.expr("(10000 * top_tok) div n_toks") <= 2000, 1
        ).otherwise(0).alias("g_repetition"),
    )
    agg = gates.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(
                    (F.col(f"g_{a}") == va) & (F.col(f"g_{b}") == vb), 1
                ).otherwise(0)
            ).alias(f"{a}_{b}_{va}{vb}")
            for a, b in (
                ("len", "entropy"), ("len", "stopword"), ("len", "repetition"),
                ("entropy", "stopword"), ("entropy", "repetition"),
                ("stopword", "repetition"),
            )
            for va, vb in ((0, 0), (0, 1), (1, 0), (1, 1))
        ],
    )
    stack_parts = ", ".join(
        f"'{a}', '{b}',"
        f" (10000 * ({a}_{b}_00 + {a}_{b}_11)) div n,"
        f" {a}_{b}_00, {a}_{b}_01, {a}_{b}_10"
        for a, b in (
            ("len", "entropy"), ("len", "stopword"), ("len", "repetition"),
            ("entropy", "stopword"), ("entropy", "repetition"),
            ("stopword", "repetition"),
        )
    )
    return (
        agg.select(
            F.expr(
                f"stack(6, {stack_parts})"
                " AS (filter_a, filter_b, agree_bp, both_kill,"
                " only_a_kills, only_b_kills)"
            )
        )
        .select(
            "filter_a", "filter_b",
            F.col("agree_bp").cast("bigint").alias("agree_bp"),
            F.col("both_kill").cast("bigint").alias("both_kill"),
            F.col("only_a_kills").cast("bigint").alias("only_a_kills"),
            F.col("only_b_kills").cast("bigint").alias("only_b_kills"),
        )
        .orderBy("filter_a", "filter_b")
    )


# --- round-12 wave 2: q473 decontamination n-gram-order curve ---------------

#: Gram orders probed. The knob the big runs disagree on: GPT-3 used
#: 13-grams (Brown et al. 2020 App. C), PaLM 8-grams, FLAN/Llama eval
#: decontamination varies 8-13. Fixture docs are ~16 words, so the
#: grid tops out at 8 (a 13-gram would never fire here); the CURVE
#: shape, not the absolute order, is the measurement.
_DECON_NGRID = [2, 3, 4, 5, 8]

_DUCK_DECON_ORDER = f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         grid AS (SELECT unnest([{", ".join(str(n) for n in _DECON_NGRID)}]) AS n),
         g AS (
      SELECT t.doc_id, grid.n,
             array_to_string(toks[i:i+grid.n-1], ' ') AS gram
      FROM t CROSS JOIN grid
      CROSS JOIN unnest(generate_series(1, len(toks) - grid.n + 1)) AS s(i)
      WHERE len(toks) >= grid.n),
         bench AS (
      SELECT DISTINCT n, gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
         bsz AS (SELECT n, count(*) AS bench_grams FROM bench GROUP BY n),
         csz AS (SELECT count(*) AS corpus_docs FROM t
                 WHERE doc_id % {_BENCH_MOD} <> 0),
         hits AS (
      SELECT c.n,
             count(DISTINCT c.doc_id) AS flagged_docs,
             count(*) AS hit_occurrences
      FROM g c JOIN bench b ON b.n = c.n AND b.gram = c.gram
      WHERE c.doc_id % {_BENCH_MOD} <> 0
      GROUP BY c.n)
    SELECT CAST(grid.n AS BIGINT) AS gram_order,
           CAST(coalesce(bsz.bench_grams, 0) AS BIGINT) AS bench_grams,
           CAST(csz.corpus_docs AS BIGINT) AS corpus_docs,
           CAST(coalesce(hits.flagged_docs, 0) AS BIGINT) AS flagged_docs,
           CAST(coalesce(hits.hit_occurrences, 0) AS BIGINT)
             AS hit_occurrences,
           CAST((10000 * coalesce(hits.flagged_docs, 0)) // csz.corpus_docs
                AS BIGINT) AS flagged_bp
    FROM grid LEFT JOIN bsz ON bsz.n = grid.n
              LEFT JOIN hits ON hits.n = grid.n
              CROSS JOIN csz
    ORDER BY gram_order
"""


def _order_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, n, gram) incidence for every order in _DECON_NGRID —
    grams materialize IN the scan stage (explode of an in-row
    transform), no shuffle."""
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    return t.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(n) for n in _DECON_NGRID])
        ).alias("n"),
        "toks",
    ).select(
        "doc_id",
        "n",
        F.explode(word_ngrams(F.col("toks"), F.col("n"))).alias("gram"),
    )


@register("q473_decon_order_curve", _DUCK_DECON_ORDER)
def q473_decon_order_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination n-gram-ORDER sensitivity curve — the knob the
    frontier runs disagree on (GPT-3 removes 13-gram collisions,
    Brown et al. 2020 App. C; PaLM 8-grams; FineWeb/Llama eval decon
    sweeps 8-13): per gram order n, how many corpus docs would the
    q81/q444 benchmark-collision rule flag, and how many distinct
    benchmark grams exist at that order. Small n over-flags (common
    phrases collide), large n under-flags (only verbatim spans
    survive) — the curve is the measured basis for choosing q444's
    gram order on THIS corpus, the same corpus-specific sizing move
    as q451 (LSH bands) and q456 (SemDeDup K). Benchmark set =
    doc_id % {_BENCH_MOD} == 0, the q81/q444 convention.

    Determinism: every output is an integer count over exact string
    equality; rate is truncating basis points.

    100 TB shape: the benchmark side is a SEPARATE scan of the tiny
    bench slice (1/{_BENCH_MOD} of docs — filter in the scan stage,
    distinct over bench grams only), broadcast to the corpus probe;
    the corpus side explodes (n, gram) in its scan stage and probes
    the broadcast hash — the corpus never shuffles for the join, and
    the only wide stages are the per-n flagged-doc distinct (bounded
    by hit volume) and the |grid|-row final joins. Reference shape:
    q444's broadcast-probe discipline extended across an order grid
    in one pass."""
    docs = load_documents(spark, sf_dir)
    g = _order_grams(docs)
    bench = (
        _order_grams(docs.filter(F.col("doc_id") % _BENCH_MOD == 0))
        .select("n", "gram")
        .distinct()
    )
    bsz = bench.groupBy("n").agg(F.count(F.lit(1)).alias("bench_grams"))
    corp = g.filter(F.col("doc_id") % _BENCH_MOD != 0)
    hits = (
        corp.join(F.broadcast(bench), ["n", "gram"])
        .groupBy("n")
        .agg(
            F.countDistinct("doc_id").alias("flagged_docs"),
            F.count(F.lit(1)).alias("hit_occurrences"),
        )
    )
    csz = docs.filter(F.col("doc_id") % _BENCH_MOD != 0).agg(
        F.count(F.lit(1)).alias("corpus_docs")
    )
    grid = spark.createDataFrame([(n,) for n in _DECON_NGRID], "n INT")
    return (
        grid.join(F.broadcast(bsz), "n", "left")
        .join(F.broadcast(hits), "n", "left")
        .crossJoin(F.broadcast(csz))
        .select(
            F.col("n").cast("bigint").alias("gram_order"),
            F.coalesce(F.col("bench_grams"), F.lit(0))
            .cast("bigint")
            .alias("bench_grams"),
            F.col("corpus_docs").cast("bigint").alias("corpus_docs"),
            F.coalesce(F.col("flagged_docs"), F.lit(0))
            .cast("bigint")
            .alias("flagged_docs"),
            F.coalesce(F.col("hit_occurrences"), F.lit(0))
            .cast("bigint")
            .alias("hit_occurrences"),
            F.expr(
                "CAST((10000 * coalesce(flagged_docs, 0)) div corpus_docs"
                " AS BIGINT)"
            ).alias("flagged_bp"),
        )
        .orderBy("gram_order")
    )


# --- round-12 wave 3: q475 decontamination-bloom sizing advisor ---------------

#: (m_bits, k_hashes) grid: three filter sizes x two hash counts. md5
#: yields four independent 32-bit slices, so k <= 4.
_BFS_GRID = ((4096, 2), (4096, 4), (16384, 2), (16384, 4), (65536, 2), (65536, 4))

_DUCK_BFS = f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT doc_id, unnest({_DUCK_TRIGRAMS}) AS gram FROM t),
         bench AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
         n_ins AS (SELECT count(*) AS n FROM bench),
         grid AS (
      SELECT * FROM (VALUES {", ".join(f"({m}, {k})" for m, k in _BFS_GRID)})
        AS v(m_bits, k_hashes)),
         bits AS (
      SELECT DISTINCT grid.m_bits, grid.k_hashes,
             ('0x' || substr(md5(gram), 1 + 8 * j, 8))::BIGINT % grid.m_bits
               AS pos
      FROM bench CROSS JOIN grid
      CROSS JOIN LATERAL (SELECT unnest(generate_series(0, grid.k_hashes - 1))
                            AS j) u),
         cg AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
         absent AS (
      SELECT gram FROM cg WHERE gram NOT IN (SELECT gram FROM bench)),
         pr AS (
      SELECT grid.m_bits, grid.k_hashes, a.gram,
             ('0x' || substr(md5(a.gram), 1 + 8 * j, 8))::BIGINT % grid.m_bits
               AS pos
      FROM absent a CROSS JOIN grid
      CROSS JOIN LATERAL (SELECT unnest(generate_series(0, grid.k_hashes - 1))
                            AS j) u),
         per_gram AS (
      SELECT pr.m_bits, pr.k_hashes, pr.gram,
             min(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS maybe
      FROM pr LEFT JOIN bits
        ON bits.m_bits = pr.m_bits AND bits.k_hashes = pr.k_hashes
       AND bits.pos = pr.pos
      GROUP BY 1, 2, 3)
    SELECT CAST(m_bits AS BIGINT) AS m_bits,
           CAST(k_hashes AS BIGINT) AS k_hashes,
           CAST(n_ins.n AS BIGINT) AS n_inserted,
           CAST(count(*) AS BIGINT) AS n_absent,
           CAST(sum(maybe) AS BIGINT) AS n_false_pos,
           CAST((10000 * sum(maybe)) // count(*) AS BIGINT) AS fpr_bp,
           CAST(round(10000 * pow(1.0 - exp(-CAST(k_hashes AS DOUBLE)
                                            * n_ins.n / m_bits),
                                  CAST(k_hashes AS DOUBLE))) AS BIGINT)
             AS theory_bp,
           CAST((1000 * m_bits) // greatest(n_ins.n, 1) AS BIGINT)
             AS bits_per_key_milli
    FROM per_gram CROSS JOIN n_ins
    GROUP BY m_bits, k_hashes, n_ins.n
    ORDER BY m_bits, k_hashes
"""


@register("q475_bloom_sizing_advisor", _DUCK_BFS)
def q475_bloom_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination-bloom SIZING curve — the knob q444 pins at 2^14
    bits, measured across a (m, k) grid so the operator that deploys a
    BFF-style filter (Soldaini et al. 2024, Dolma §4; Bloom, CACM
    1970) can pick bits-per-key from DATA instead of folklore: for
    each filter size m in {{2^12, 2^14, 2^16}} and hash count k in
    {{2, 4}}, the bench trigram set is inserted (k md5-slice
    positions, the q444 hashing contract) and every ABSENT corpus
    gram probes its k bits; the measured gram-level false-positive
    rate sits next to the textbook (1 - e^(-kn/m))^k so the gap
    (hash-slice correlation, integer-mod bias) is visible. Extends
    the advisor series: q427 MinHash bands, q451 LSH S-curve, q452
    join strategy, q456 SemDeDup K, q470 bucket count — this one
    sizes the decontamination filter itself.

    Determinism: positions are md5 hex slices parsed as integers (the
    q444 conv/0x contract, machine-checked in tests); measured cells
    are integer counts and truncating-div basis points; the only
    float is the closed-form theory column (exp/pow on integer
    inputs, the q246 precedent — every theory value's distance from
    its rounding boundary is machine-checked across all three test
    SFs in tests/test_rounding_guards.py, per ADVICE r12).

    100 TB shape: the corpus text is scanned ONCE into a distinct-
    gram census (map-side-combinable distinct — gram cardinality, not
    corpus size); the x18 (grid x hashes) explode rides the CENSUS,
    never the corpus; bench gram set and all six bit sets are
    broadcast (<= 4 x |bench grams| positions each). No corpus-side
    shuffle beyond the census distinct. (r13 note: an in-row kmax
    per-slice probe-join form — the q444 shape, removing the
    (m, k, gram) re-group exchange — was interleaved-A/B-measured 20%
    SLOWER at sf0.1 (old med 2.68s vs new 3.34s, identical rows): the
    four broadcast-build jobs cost more than the census-sized
    exchange saves at fixture scale; reverted, same verdict class as
    the packed-bitmask attempt.)"""
    docs = load_documents(spark, sf_dir)
    toks = tokenize(F.col("text"))
    g = docs.select(
        "doc_id",
        F.explode_outer(F.array_distinct(word_ngrams(toks, _NGRAM))).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    bench = materialize(
        g.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select("gram")
        .distinct()
        # tiny; feeds the bit build, the exact-set
        # probe AND the n_inserted scalar without re-scanning the corpus
    )
    nins = bench.agg(F.count(F.lit(1)).alias("n_ins"))
    grid = spark.createDataFrame(
        list(_BFS_GRID), "m_bits BIGINT, k_hashes BIGINT"
    )
    # ONE md5 per distinct gram, sliced per (grid row, j) — previously
    # every (gram, m, k, j) probe row recomputed the digest (r13 opt,
    # the q444 treatment: Sigma(k) digests per gram -> 1).
    pos = F.expr(
        "CAST(conv(substring(h, CAST(1 + 8 * j AS INT), 8), 16, 10)"
        " AS BIGINT) % m_bits"
    )
    bits = (
        bench.withColumn("h", F.md5("gram"))
        .crossJoin(F.broadcast(grid))
        .select(
            "m_bits",
            "k_hashes",
            F.explode(
                F.sequence(F.lit(0), F.col("k_hashes") - 1)
            ).alias("j"),
            "h",
        )
        .select("m_bits", "k_hashes", pos.alias("pos"))
        .distinct()
        .withColumn("bit_set", F.lit(1))
    )
    absent = (
        g.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .select("gram")
        .distinct()
        .join(F.broadcast(bench.withColumn("in_bench", F.lit(1))), "gram", "left")
        .filter(F.col("in_bench").isNull())
        .select("gram")
    )
    probes = (
        absent.withColumn("h", F.md5("gram"))
        .crossJoin(F.broadcast(grid))
        .select(
            "m_bits",
            "k_hashes",
            F.explode(
                F.sequence(F.lit(0), F.col("k_hashes") - 1)
            ).alias("j"),
            "gram",
            "h",
        )
        .select("m_bits", "k_hashes", "gram", pos.alias("pos"))
    )
    per_gram = (
        probes.join(F.broadcast(bits), ["m_bits", "k_hashes", "pos"], "left")
        .groupBy("m_bits", "k_hashes", "gram")
        .agg(
            F.min(F.col("bit_set").isNotNull().cast("int")).alias("maybe")
        )
    )
    return (
        per_gram.groupBy("m_bits", "k_hashes")
        .agg(
            F.count(F.lit(1)).alias("n_absent_raw"),
            F.sum("maybe").alias("n_fp_raw"),
        )
        .crossJoin(F.broadcast(nins))
        .select(
            F.col("m_bits").cast("bigint").alias("m_bits"),
            F.col("k_hashes").cast("bigint").alias("k_hashes"),
            F.col("n_ins").cast("bigint").alias("n_inserted"),
            F.col("n_absent_raw").cast("bigint").alias("n_absent"),
            F.col("n_fp_raw").cast("bigint").alias("n_false_pos"),
            F.expr("(10000 * n_fp_raw) div n_absent_raw")
            .cast("bigint")
            .alias("fpr_bp"),
            quantise(
                F.pow(
                  1.0
                  - F.exp(
                      -F.col("k_hashes").cast("double")
                      * F.col("n_ins")
                      / F.col("m_bits")
                  ),
                  F.col("k_hashes").cast("double"),
              ),
                4,
            )
            .alias("theory_bp"),
            F.expr("(1000 * m_bits) div greatest(n_ins, 1)")
            .cast("bigint")
            .alias("bits_per_key_milli"),
        )
        .orderBy("m_bits", "k_hashes")
    )


# --- round-13 capstone: q479 end-to-end corpus-build funnel -------------------

#: Funnel bloom sizing: q475's advisor measured m=2^16, k=2 at ~0.5%
#: gram-level FPR on this corpus (vs q444's saturated 2^14 default) —
#: the funnel deploys the advised size.
_FUN_M = 65536
_FUN_K = 2
_FUN_PACK_L = 128  # q445's context length


def _duck_fun_pos(j: int, gram: str) -> str:
    return f"(('0x' || substr(md5({gram}), {1 + 8 * j}, 8))::BIGINT % {_FUN_M})"


_DUCK_CORPUS_FUNNEL = f"""
    WITH d0 AS (
      SELECT doc_id, source, text, {DUCK_TOKENIZE} AS toks FROM documents),
         bench AS (
      SELECT DISTINCT unnest({_DUCK_TRIGRAMS}) AS gram
      FROM d0 WHERE doc_id % {_BENCH_MOD} = 0),
         raw AS (SELECT * FROM d0 WHERE doc_id % {_BENCH_MOD} <> 0),
         feat AS (
      SELECT doc_id, source, text, toks, len(toks) AS n_toks,
             len(list_distinct(list_transform(
                 generate_series(1, length(text)), i -> text[i:i])))
               AS n_alpha,
             len(list_filter(toks, t -> t IN ({", ".join(f"'{w}'" for w in _AGREE_STOPWORDS)}))) AS n_stop,
             (SELECT max(c) FROM (
                SELECT count(*) AS c FROM unnest(toks) AS u(t) GROUP BY t))
               AS top_tok
      FROM raw),
         q AS (
      SELECT doc_id, source, text, toks FROM feat
      WHERE n_toks >= 20 AND n_alpha >= 12
        AND (10000 * n_stop) // n_toks >= 100
        AND (10000 * top_tok) // n_toks <= 2000),
         ex AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
         exd AS (SELECT q.* FROM q JOIN ex USING (doc_id)),
         sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                                    i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM exd),
         sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
         shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
         dropped AS (
      SELECT DISTINCT id_b AS doc_id
      FROM shared JOIN sz sa ON id_a = sa.doc_id
                  JOIN sz sb ON id_b = sb.doc_id
      WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5),
         nd AS (
      SELECT exd.* FROM exd LEFT JOIN dropped USING (doc_id)
      WHERE dropped.doc_id IS NULL),
         bits AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{", ".join(_duck_fun_pos(j, "gram") for j in range(_FUN_K))}])
          AS pos FROM bench)),
         cg AS (
      SELECT nd.doc_id, unnest({_DUCK_TRIGRAMS}) AS gram FROM nd),
         hits AS (
      SELECT doc_id, count(*) AS n_hit FROM cg
      WHERE {" AND ".join(f"{_duck_fun_pos(j, 'gram')} IN (SELECT pos FROM bits)" for j in range(_FUN_K))}
      GROUP BY doc_id),
         fin AS (
      SELECT nd.* FROM nd LEFT JOIN hits USING (doc_id)
      WHERE coalesce(hits.n_hit, 0) < {_MIN_SHARED}),
         srcs AS (SELECT DISTINCT source FROM raw),
         rawc AS (SELECT source, count(*) AS n, sum(len(toks)) AS tk
                  FROM raw GROUP BY source),
         qc   AS (SELECT source, count(*) AS n, sum(len(toks)) AS tk
                  FROM q GROUP BY source),
         exc  AS (SELECT source, count(*) AS n, sum(len(toks)) AS tk
                  FROM exd GROUP BY source),
         ndc  AS (SELECT source, count(*) AS n, sum(len(toks)) AS tk
                  FROM nd GROUP BY source),
         finc AS (SELECT source, count(*) AS n, sum(len(toks)) AS tk
                  FROM fin GROUP BY source),
         st AS (
      SELECT source, t.term, count(*) AS m
      FROM fin, unnest(toks) AS t(term) GROUP BY source, t.term),
         tk2 AS (
      SELECT term, sum(m) AS c, sum(sum(m)) OVER () AS n
      FROM st GROUP BY term),
         u AS (
      SELECT term, CAST(round(1000000 * ln((1.0 * n) / c)) AS BIGINT)
               AS u_micro
      FROM tk2),
         srcx AS (
      SELECT st.source,
             CAST(sum(st.m) AS BIGINT) AS toks_m,
             CAST(sum(st.m * u.u_micro) // sum(st.m) AS BIGINT) AS xent_micro,
             CAST(sum(sum(st.m * u.u_micro)) OVER ()
                  // sum(sum(st.m)) OVER () AS BIGINT) AS corpus_micro
      FROM st JOIN u USING (term)
      GROUP BY st.source),
         wmix AS (
      SELECT source, toks_m,
             CAST(round(1000000000 * exp(
                 0.5 * (xent_micro - corpus_micro) / 1000000.0))
                  AS BIGINT) AS f_e9
      FROM srcx),
         wnorm AS (
      SELECT source,
             CAST((10000 * CAST(toks_m AS HUGEINT) * f_e9)
                  // sum(CAST(toks_m AS HUGEINT) * f_e9) OVER () AS BIGINT)
               AS w_new_bp
      FROM wmix),
         pk AS (
      SELECT source,
             CAST((10000 * sum(((n + {_FUN_PACK_L - 1}) // {_FUN_PACK_L}) * {_FUN_PACK_L} - n))
                  // (sum(n) + sum(((n + {_FUN_PACK_L - 1}) // {_FUN_PACK_L}) * {_FUN_PACK_L} - n))
                  AS BIGINT) AS pad_bp
      FROM (SELECT source, len(toks) AS n FROM fin) GROUP BY source)
    SELECT CAST(stage AS BIGINT) AS stage, stage_name, source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(metric_bp AS BIGINT) AS metric_bp
    FROM (
      SELECT 0 AS stage, 'raw' AS stage_name, source, n AS n_docs,
             tk AS n_tokens, 10000 AS metric_bp
      FROM rawc
      UNION ALL
      SELECT 1, 'quality', s.source, coalesce(c.n, 0), coalesce(c.tk, 0),
             (10000 * coalesce(c.n, 0)) // r.n
      FROM srcs s JOIN rawc r USING (source) LEFT JOIN qc c USING (source)
      UNION ALL
      SELECT 2, 'exact_dedup', s.source, coalesce(c.n, 0), coalesce(c.tk, 0),
             (10000 * coalesce(c.n, 0)) // r.n
      FROM srcs s JOIN rawc r USING (source) LEFT JOIN exc c USING (source)
      UNION ALL
      SELECT 3, 'neardup', s.source, coalesce(c.n, 0), coalesce(c.tk, 0),
             (10000 * coalesce(c.n, 0)) // r.n
      FROM srcs s JOIN rawc r USING (source) LEFT JOIN ndc c USING (source)
      UNION ALL
      SELECT 4, 'decontam', s.source, coalesce(c.n, 0), coalesce(c.tk, 0),
             (10000 * coalesce(c.n, 0)) // r.n
      FROM srcs s JOIN rawc r USING (source) LEFT JOIN finc c USING (source)
      UNION ALL
      SELECT 5, 'mixture', s.source, coalesce(c.n, 0), coalesce(c.tk, 0),
             coalesce(w.w_new_bp, 0)
      FROM srcs s LEFT JOIN finc c USING (source) LEFT JOIN wnorm w USING (source)
      UNION ALL
      SELECT 6, 'packing', s.source, coalesce(c.n, 0), coalesce(c.tk, 0),
             coalesce(p.pad_bp, 0)
      FROM srcs s LEFT JOIN finc c USING (source) LEFT JOIN pk p USING (source)
    )
    ORDER BY stage, source
"""


@register("q479_corpus_build_funnel", _DUCK_CORPUS_FUNNEL)
def q479_corpus_build_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CORPUS-BUILD funnel over the modern operator set —
    the 100 TB descendant of both q162 (the r1 funnel) and the
    reference's own scan→parse→project→filter→sink pipeline
    (/root/reference/index.js:135-183), chaining each stage exactly
    as its standalone query defines it: (1) the four q465 quality
    gates (length / alphabet / stopword / Gopher-repetition, all must
    pass) → (2) exact dedup, q26's min-id survivor rule (the policy
    q466's ablation baselines) → (3) near-dup removal, q27b's
    exact-dedup-first Jaccard-0.5 3-shingle pass dropping the larger
    id → (4) decontamination through a broadcast Bloom filter (q444's
    md5-slice contract at the q475-ADVISED size m=2^16, k=2; docs
    with >= {_MIN_SHARED} hit grams drop) → (5) one DoReMi mixture
    step (q453's multiplicative-weights arithmetic) on the surviving
    corpus → (6) the q445 pad-to-{_FUN_PACK_L} packing audit. Output:
    one row per (stage, source) with surviving docs/tokens and a
    stage metric (survival bp vs raw for stages 0-4; w_new_bp for
    mixture; pad_waste_bp for packing) — the per-stage yield curve a
    data team reads before committing a training run. The bench
    split (doc_id % {_BENCH_MOD} == 0) never enters the corpus; its
    trigrams define the contamination filter.

    Determinism: gates, dedup rules, and yields are exact integer
    arithmetic; bloom positions are the machine-checked conv/0x
    md5-slice pair; DoReMi reuses q453's micro-nat quantization +
    e9-quantized exp + DECIMAL(38,0) products; Jaccard reuses q27's
    round-4dp threshold. Zero-surviving sources still emit rows
    (left joins from the source list — the q457 preserved-side
    lesson).

    100 TB shape: stages SHRINK the corpus monotonically and each
    runs its standalone query's plan: gates are scan-stage row
    expressions; exact dedup is one text-keyed shuffle; the Jaccard
    pass runs on collapsed survivors only (the q27b funnel
    discipline — candidate volume is bucket-bounded, never raw
    all-pairs); the bloom bit set and bench gram set broadcast so
    decontamination never shuffles the corpus; mixture and packing
    reduce to |sources|-row frames. Stage boundaries localCheckpoint
    exactly where a production funnel would write intermediates;
    every census after stage 4 rides frames bounded by |sources| or
    the vocab. Measured checkpoint payoff (r13): without the stage
    cuts Spark plans this funnel as 216 parquet scans / 427
    exchanges (every stage census re-derives the whole upstream
    lineage); with them, 5 residual exchanges. Checkpoints with no
    mutual lineage (bench grams / gate survivors / raw census, and
    decontam census / DoReMi model) materialize as CONCURRENT jobs
    (guide §2.6) so later independent stages back-fill the idle tail
    of earlier ones; per-stage plans and contents are unchanged."""
    from ooh_etl_spark.operators.dedup import exact_dedup, jaccard_pairs

    d0 = load_documents(spark, sf_dir).select(
        "doc_id", "source", "text", tokenize(F.col("text")).alias("toks")
    )
    bench_plan = (
        d0.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(
            F.explode_outer(
                F.array_distinct(word_ngrams(F.col("toks"), _NGRAM))
            ).alias("gram")
        )
        .filter(F.col("gram").isNotNull())
        .distinct()
    )

    # ONE md5 per gram row, k slice-probes off it (r13 opt — the q444
    # treatment; each position previously recomputed md5(gram)).
    def pos(j: int) -> Column:
        return F.expr(
            f"CAST(conv(substring(h, {1 + 8 * j}, 8), 16, 10)"
            f" AS BIGINT) % {_FUN_M}"
        )

    raw = d0.filter(F.col("doc_id") % _BENCH_MOD != 0)
    sw = ", ".join(f"'{w}'" for w in _AGREE_STOPWORDS)
    feat = raw.select(
        "doc_id",
        "source",
        "text",
        "toks",
        F.size("toks").alias("n_toks"),
        F.size(
            F.array_remove(F.array_distinct(F.split(F.col("text"), "")), "")
        ).alias("n_alpha"),
        F.expr(f"size(filter(toks, t -> t IN ({sw})))").alias("n_stop"),
        # q465's sorted-run fold, on the already-materialized toks
        F.expr(
            "aggregate(array_sort(toks),"
            " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),"
            " (acc, t) -> named_struct("
            "   'prev', t,"
            "   'run', CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
            "               THEN acc.run + 1 ELSE 1 END,"
            "   'best', greatest(acc.best,"
            "     CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
            "          THEN acc.run + 1 ELSE 1 END)),"
            " acc -> acc.best)"
        ).alias("top_tok"),
    )
    q_plan = feat.filter(
        (F.col("n_toks") >= 20)
        & (F.col("n_alpha") >= 12)
        & (F.expr("(10000 * n_stop) div n_toks") >= 100)
        & (F.expr("(10000 * top_tok) div n_toks") <= 2000)
    ).select("doc_id", "source", "text", "toks")

    def census(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("toks")).cast("bigint").alias("tk"),
        )

    # r13 opt (guide §2.6 "overlap independent jobs"): the three
    # stage-0 materializations — the bench gram set (bit-build side),
    # the quality-gate survivors (stage-1 boundary), and the raw
    # source census (reused by every stage row) — share no lineage
    # below the scan, so their eager localCheckpoints run as
    # concurrent jobs instead of three sequential job launches. On a
    # cluster the later jobs' tasks back-fill executors left idle by
    # the earlier jobs' stage tails; plans and results are unchanged
    # (each checkpoint materializes the same frame it did serially).
    # The bench gram set has exactly ONE consumer (the bit build), so
    # the cut sits at `bits` itself — one checkpoint job materializes
    # the whole bench->positions subtree, and both probe-join
    # broadcasts below build from the tiny checkpointed RDD instead of
    # re-running the distinct (the q444 plan-audit lesson).
    bits_plan = (
        bench_plan.withColumn("h", F.md5("gram"))
        .select(
            F.explode(F.array(*[pos(j) for j in range(_FUN_K)])).alias("pos")
        )
        .distinct()
        .withColumn("bit_set", F.lit(1))
    )
    # bits: decontam filter, broadcast twice; q: stage boundary, feeds
    # dedup AND the census; rawc: |sources| rows, reused 6x
    bits, q, rawc = materialize_all(bits_plan, q_plan, census(raw))

    # r14 opt (guide §2.6, the r13 pattern extended): each stage census
    # is a tiny |sources|-row aggregate of an already-checkpointed
    # frame, previously computed as a broadcast-build inside the FINAL
    # job — i.e. serially, after every stage had finished. Submitting
    # census(q)/census(exd)/census(nd) concurrently with the NEXT
    # chain stage (exact dedup / near-dup / decontam respectively)
    # hides each census in the idle tail of the much more expensive
    # stage running beside it; contents and per-stage plans unchanged.
    exd, cq = materialize_all(  # cq: stage-1 census
        exact_dedup(q, key="text", id_col="doc_id"), census(q)
    )

    def nd_plan() -> DataFrame:
        dropped = (
            jaccard_pairs(exd, "text", "doc_id", threshold=0.5)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        return exd.join(dropped, "doc_id", "left_anti")

    nd, cexd = materialize_all(nd_plan(), census(exd))  # cexd: stage-2 census
    cg = nd.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(word_ngrams(F.col("toks"), _NGRAM))
        ).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    probed = cg.withColumn("h", F.md5("gram"))
    for j in range(_FUN_K):
        probed = probed.withColumn(f"p{j}", pos(j)).join(
            F.broadcast(
                bits.select(
                    F.col("pos").alias(f"p{j}"), F.col("bit_set").alias(f"b{j}")
                )
            ),
            f"p{j}",
            "left",
        )
    flagged = (
        probed.filter(
            F.expr(" AND ".join(f"b{j} IS NOT NULL" for j in range(_FUN_K)))
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") >= _MIN_SHARED)
        .select("doc_id")
    )
    fin, cnd = materialize_all(  # cnd: stage-3 census
        nd.join(flagged, "doc_id", "left_anti"), census(nd)
    )

    srcs = rawc.select("source", F.col("n").alias("n_raw"))

    def stage_row(stage: int, name: str, c: DataFrame) -> DataFrame:
        return (
            srcs.join(F.broadcast(c), "source", "left")
            .select(
                F.lit(stage).cast("bigint").alias("stage"),
                F.lit(name).alias("stage_name"),
                "source",
                F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_docs"),
                F.coalesce(F.col("tk"), F.lit(0))
                .cast("bigint")
                .alias("n_tokens"),
                F.expr("(10000 * coalesce(n, 0)) div n_raw")
                .cast("bigint")
                .alias("metric_bp"),
            )
        )

    # stage 5: one DoReMi multiplicative-weights step (q453 contract)
    st = (
        fin.select("source", F.explode("toks").alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    tk2 = st.groupBy("term").agg(F.sum("m").alias("c"))
    ntot = tk2.agg(F.sum("c").alias("n"))
    u = tk2.crossJoin(F.broadcast(ntot)).select(
        "term",
        F.expr("CAST(round(1000000 * ln((1.0 * n) / c)) AS BIGINT)").alias(
            "u_micro"
        ),
    )
    srcx_plan = (
        st.join(u, "term")
        .groupBy("source")
        .agg(
            F.sum("m").cast("bigint").alias("toks_m"),
            F.expr("sum(m * u_micro) div sum(m)")
            .cast("bigint")
            .alias("xent_micro"),
            F.sum(F.expr("m * u_micro")).alias("wsum"),
        )
    )
    # Same §2.6 overlap as the stage-0 block: the decontam census and
    # the DoReMi source-model frame both hang off the checkpointed
    # `fin` and feed disjoint output rows — materialize concurrently.
    # r14 opt (VERDICT r13 item 4b): the stage-6 packing census rides
    # THIS aggregate as one more accumulator (sum of per-doc pad) —
    # sum(size(toks)) is already here as tk, and pad_bp =
    # (10000*pad_sum) div (tk + pad_sum) — so the separate
    # fin.groupBy(source) pass and its broadcast build are gone.
    pad_of_doc = F.expr(
        f"((size(toks) + {_FUN_PACK_L - 1}) div {_FUN_PACK_L})"
        f" * {_FUN_PACK_L} - size(toks)"
    )
    finc_plan = fin.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("toks")).cast("bigint").alias("tk"),
        F.sum(pad_of_doc).cast("bigint").alias("pad_sum"),
    )
    # finc feeds stages 4, 5 and 6; srcx's |sources| rows feed the
    # scalar + weights
    finc, srcx = materialize_all(finc_plan, srcx_plan)
    tot = srcx.agg(
        F.sum("wsum").alias("wsum_all"), F.sum("toks_m").alias("toks_all")
    )
    wmix = (
        srcx.crossJoin(F.broadcast(tot))
        .withColumn(
            "excess_micro",
            F.col("xent_micro") - F.expr("wsum_all div toks_all").cast("bigint"),
        )
        .withColumn(
            "f_e9",
            F.expr(
                "CAST(round(1000000000 * exp(0.5 * excess_micro / 1000000.0))"
                " AS BIGINT)"
            ),
        )
    )
    den = wmix.agg(
        F.expr("sum(CAST(toks_m AS DECIMAL(38,0)) * f_e9)").alias("den_new")
    )
    wnorm = wmix.crossJoin(F.broadcast(den)).select(
        "source",
        F.expr(
            "CAST((10000 * CAST(toks_m AS DECIMAL(38,0)) * f_e9)"
            " div den_new AS BIGINT)"
        ).alias("w_new_bp"),
    )
    mix_row = (
        srcs.join(F.broadcast(finc), "source", "left")
        .join(F.broadcast(wnorm), "source", "left")
        .select(
            F.lit(5).cast("bigint").alias("stage"),
            F.lit("mixture").alias("stage_name"),
            "source",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.col("tk"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("w_new_bp"), F.lit(0))
            .cast("bigint")
            .alias("metric_bp"),
        )
    )

    # stage 6: q445 pad-to-boundary waste on the final corpus — served
    # entirely from the finc accumulators (r14: no second fin pass).
    pack_row = (
        srcs.join(F.broadcast(finc), "source", "left")
        .select(
            F.lit(6).cast("bigint").alias("stage"),
            F.lit("packing").alias("stage_name"),
            "source",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.col("tk"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(
                F.expr("(10000 * pad_sum) div (tk + pad_sum)"), F.lit(0)
            )
            .cast("bigint")
            .alias("metric_bp"),
        )
    )
    return (
        stage_row(0, "raw", rawc)
        .unionByName(stage_row(1, "quality", cq))
        .unionByName(stage_row(2, "exact_dedup", cexd))
        .unionByName(stage_row(3, "neardup", cnd))
        .unionByName(stage_row(4, "decontam", finc))
        .unionByName(mix_row)
        .unionByName(pack_row)
        .orderBy("stage", "source")
    )


# --- round-13 wave: q480 Gopher repetition census -----------------------------

#: Gopher Table A1 thresholds (token-fraction form, bp): a doc fails
#: when the most frequent 2/3/4-gram carries > 20/18/16% of its
#: tokens, or duplicated 5-grams cover > 15% of its positions.
_REP_TOP = ((2, 2000), (3, 1800), (4, 1600))
#: Gopher's dup rule uses 5..10-grams at 10-15% CHARACTER coverage; the
#: fixture corpus is short word-soup where a repeated 5-gram never
#: occurs (measured: max dup-5 coverage 0 bp at every sf), so the rule
#: is instantiated at n=3 / 10% so it carries signal here — the CURVE
#: mechanics (multiset count -> position-set union), not the Gopher
#: constant, is the operator.
_REP_DUP_N = 3
_REP_DUP_BP = 1000


def _duck_grams(n: int) -> str:
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(generate_series(1, len(toks) - {n - 1}),"
        f" i -> array_to_string(toks[i:i+{n - 1}], ' ')) "
        "ELSE [] END"
    )


def _duck_top_bp(n: int) -> str:
    return (
        f"coalesce((10000 * {n} * list_aggregate(list_transform("
        f"list_distinct(g{n}), x -> len(list_filter(g{n}, h -> h = x))),"
        f" 'max')) // n_toks, 0)"
    )


_DUCK_GOPHER_REP = f"""
    WITH d AS (
      SELECT doc_id, source, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT doc_id, source, toks, len(toks) AS n_toks,
             {", ".join(f"{_duck_grams(n)} AS g{n}" for n, _ in _REP_TOP)},
             {_duck_grams(_REP_DUP_N)} AS gd
      FROM d WHERE len(toks) > 0),
         m AS (
      SELECT doc_id, source, n_toks,
             {", ".join(f"{_duck_top_bp(n)} AS top{n}_bp" for n, _ in _REP_TOP)},
             coalesce((10000 * len(list_distinct(flatten(list_transform(
                 list_filter(generate_series(1, len(gd)),
                             i -> len(list_filter(gd, h -> h = gd[i])) >= 2),
                 i -> generate_series(i, i + {_REP_DUP_N - 1})))))) // n_toks, 0)
               AS dup{_REP_DUP_N}_bp
      FROM g)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {", ".join(
               f"CAST(sum(CASE WHEN top{n}_bp > {t} THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS flagged_top{n}"
               for n, t in _REP_TOP)},
           CAST(sum(CASE WHEN dup{_REP_DUP_N}_bp > {_REP_DUP_BP}
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS flagged_dup{_REP_DUP_N},
           CAST(sum(CASE WHEN {" OR ".join(f"top{n}_bp > {t}" for n, t in _REP_TOP)}
                          OR dup{_REP_DUP_N}_bp > {_REP_DUP_BP}
                         THEN 1 ELSE 0 END) AS BIGINT) AS flagged_any
    FROM m GROUP BY source ORDER BY source
"""


@register("q480_gopher_repetition_census", _DUCK_GOPHER_REP)
def q480_gopher_repetition_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION filter census (Rae et al. 2021, Table A1 —
    the within-doc repetition rules that survive into MassiveText,
    RefinedWeb §3.1 and Dolma's quality suite; q465's top-token gate
    is their n=1 degenerate case): a document is repetitious when its
    most frequent 2/3/4-gram carries more than 20/18/16% of its
    tokens, or when DUPLICATED n-grams (those occurring >= twice in
    the doc; n=3 here, see _REP_DUP_N note) cover more than 10% of
    its token positions — coverage is
    position-set union, so overlapping duplicate spans never double
    count (the q163 span-coverage semantics, computed in-row). The
    census reports per source how many docs each rule flags and the
    union — the repetition half of the gate ensemble q465/q439 audit.

    Determinism: token-fraction basis points by truncating integer
    division on exact in-row counts; short docs (< n tokens) emit 0
    for that rule by construction.

    100 TB shape: ZERO corpus shuffle (the q465 discipline) — every
    n-gram census, top-share, and duplicated-coverage union is an
    in-row sorted run-length fold over the token array (O(L log L +
    L*D) per row, D = duplicated-gram count; the first draft's
    distinct-x-filter form was O(L^2) — caught in self-review,
    measured 2.72x -> 1.14x at 10x replicas); the only exchange is
    the final |sources|-row aggregate. No explode: the gram lists
    never leave their row. For book-length docs (L >> 10^4) the same
    census is expressible as a (doc_id, gram) explode + doc-keyed
    count — linear with one shuffle — but at web-doc lengths the
    in-row form wins by keeping the corpus in its scan stage."""
    d = load_documents(spark, sf_dir).select(
        "doc_id", "source", tokenize(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)

    def top_bp(n: int) -> Column:
        # q465's sorted run-length fold lifted to n-grams: O(L log L)
        # per row (the first draft's distinct-x-filter scan was O(L^2),
        # a wall at web-doc lengths; caught in the r13 self-review)
        return F.expr(
            f"(10000 * {n} * aggregate(array_sort(g{n}),"
            " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),"
            " (acc, t) -> named_struct("
            "   'prev', t,"
            "   'run', CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
            "               THEN acc.run + 1 ELSE 1 END,"
            "   'best', greatest(acc.best,"
            "     CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
            "          THEN acc.run + 1 ELSE 1 END)),"
            " acc -> acc.best)) div n_toks"
        )

    # duplicated-gram SET via one sorted fold (append on the second
    # occurrence only), HOISTED into its own projection so the fold
    # runs once per row — inside the position lambda Catalyst would
    # re-evaluate it per position, O(L^2 log L). Coverage then tests
    # membership against the set: O(L log L + L*D) with D =
    # |duplicated grams| (typically tiny), vs the first draft's
    # O(L^2) per-position rescan.
    ds_col = F.expr(
        "aggregate(array_sort(gd),"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0,"
        "              'ds', CAST(array() AS ARRAY<STRING>)),"
        " (acc, t) -> named_struct("
        "   'prev', t,"
        "   'run', CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
        "               THEN acc.run + 1 ELSE 1 END,"
        "   'ds', CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
        "               AND acc.run = 1 THEN array_append(acc.ds, t)"
        "          ELSE acc.ds END),"
        " acc -> acc.ds)"
    )
    g = d.select(
        "source",
        F.size("toks").alias("n_toks"),
        *[word_ngrams(F.col("toks"), n).alias(f"g{n}") for n, _ in _REP_TOP],
        word_ngrams(F.col("toks"), _REP_DUP_N).alias("gd"),
    ).withColumn("ds", ds_col)
    # the token positions covered by a duplicated gram
    dup_pos = F.array_distinct(
        F.flatten(
            F.transform(
                F.filter(
                    ngram_starts(F.col("gd"), 1),
                    lambda i: F.array_contains("ds", F.element_at("gd", i)),
                ),
                lambda i: F.sequence(i, i + (_REP_DUP_N - 1)),
            )
        )
    )
    m = g.withColumn("n_dup_pos", F.size(dup_pos)).select(
        "source",
        *[top_bp(n).alias(f"top{n}_bp") for n, _ in _REP_TOP],
        F.expr("(10000 * n_dup_pos) div n_toks").alias(f"dup{_REP_DUP_N}_bp"),
    )
    any_flag = F.expr(
        " OR ".join(f"top{n}_bp > {t}" for n, t in _REP_TOP)
        + f" OR dup{_REP_DUP_N}_bp > {_REP_DUP_BP}"
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            *[
                F.sum((F.col(f"top{n}_bp") > t).cast("int"))
                .cast("bigint")
                .alias(f"flagged_top{n}")
                for n, t in _REP_TOP
            ],
            F.sum((F.col(f"dup{_REP_DUP_N}_bp") > _REP_DUP_BP).cast("int"))
            .cast("bigint")
            .alias(f"flagged_dup{_REP_DUP_N}"),
            F.sum(any_flag.cast("int")).cast("bigint").alias("flagged_any"),
        )
        .orderBy("source")
    )


# --- round-13 wave: q481 funnel-stage kill-overlap matrix ---------------------

_STAGE_PAIRS = (
    ("quality", "exact"), ("quality", "neardup"), ("quality", "decontam"),
    ("exact", "neardup"), ("exact", "decontam"), ("neardup", "decontam"),
)


def _duck_stage_overlap() -> str:
    rows = "\nUNION ALL\n".join(
        f"""
      SELECT '{a}' AS stage_a, '{b}' AS stage_b,
             CAST(sum(k_{a}) AS BIGINT) AS kills_a,
             CAST(sum(k_{b}) AS BIGINT) AS kills_b,
             CAST(sum(k_{a} * k_{b}) AS BIGINT) AS both_kill,
             CAST(sum(k_{a} * (1 - k_{b})) AS BIGINT) AS only_a_kills,
             CAST(sum((1 - k_{a}) * k_{b}) AS BIGINT) AS only_b_kills,
             CAST((10000 * sum(k_{a} * k_{b}))
                  // greatest(sum(k_{a}) + sum(k_{b}) - sum(k_{a} * k_{b}), 1)
                  AS BIGINT) AS overlap_bp
      FROM flags"""
        for a, b in _STAGE_PAIRS
    )
    return f"""
    WITH d0 AS (
      SELECT doc_id, source, text, {DUCK_TOKENIZE} AS toks FROM documents),
         bench AS (
      SELECT DISTINCT unnest({_DUCK_TRIGRAMS}) AS gram
      FROM d0 WHERE doc_id % {_BENCH_MOD} = 0),
         raw AS (SELECT * FROM d0 WHERE doc_id % {_BENCH_MOD} <> 0),
         feat AS (
      SELECT doc_id, toks, text, len(toks) AS n_toks,
             len(list_distinct(list_transform(
                 generate_series(1, length(text)), i -> text[i:i])))
               AS n_alpha,
             len(list_filter(toks, t -> t IN ({", ".join(f"'{w}'" for w in _AGREE_STOPWORDS)}))) AS n_stop,
             (SELECT max(c) FROM (
                SELECT count(*) AS c FROM unnest(toks) AS u(t) GROUP BY t))
               AS top_tok
      FROM raw),
         kq AS (
      SELECT doc_id FROM feat
      WHERE NOT (n_toks >= 20 AND n_alpha >= 12
                 AND (10000 * n_stop) // n_toks >= 100
                 AND (10000 * top_tok) // n_toks <= 2000)),
         ex AS (SELECT min(doc_id) AS doc_id FROM raw GROUP BY text),
         ke AS (
      SELECT raw.doc_id FROM raw LEFT JOIN ex USING (doc_id)
      WHERE ex.doc_id IS NULL),
         exd AS (SELECT raw.* FROM raw JOIN ex USING (doc_id)),
         sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                                    i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM exd),
         sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
         shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
         kn AS (
      SELECT DISTINCT id_b AS doc_id
      FROM shared JOIN sz sa ON id_a = sa.doc_id
                  JOIN sz sb ON id_b = sb.doc_id
      WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5),
         bits AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{", ".join(_duck_fun_pos(j, "gram") for j in range(_FUN_K))}])
          AS pos FROM bench)),
         cg AS (
      SELECT raw.doc_id, unnest({_DUCK_TRIGRAMS}) AS gram FROM raw),
         kd AS (
      SELECT doc_id FROM (
        SELECT doc_id, count(*) AS n_hit FROM cg
        WHERE {" AND ".join(f"{_duck_fun_pos(j, 'gram')} IN (SELECT pos FROM bits)" for j in range(_FUN_K))}
        GROUP BY doc_id)
      WHERE n_hit >= {_MIN_SHARED}),
         flags AS (
      SELECT raw.doc_id,
             CASE WHEN kq.doc_id IS NOT NULL THEN 1 ELSE 0 END AS k_quality,
             CASE WHEN ke.doc_id IS NOT NULL THEN 1 ELSE 0 END AS k_exact,
             CASE WHEN kn.doc_id IS NOT NULL THEN 1 ELSE 0 END AS k_neardup,
             CASE WHEN kd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS k_decontam
      FROM raw
      LEFT JOIN kq USING (doc_id) LEFT JOIN ke USING (doc_id)
      LEFT JOIN kn USING (doc_id) LEFT JOIN kd USING (doc_id))
    {rows}
    ORDER BY stage_a, stage_b
    """


@register("q481_funnel_stage_overlap", _duck_stage_overlap())
def q481_funnel_stage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel-stage KILL-OVERLAP matrix — q465's agreement audit
    lifted from individual gates to the q479 funnel's STAGES: for
    each pair of removal stages, how many docs both would remove,
    how many only one would, and the Jaccard of the kill sets (bp).
    The operational question (Penedo et al. 2023 §3.4 ask it of
    RefinedWeb's pipeline; Dolma's ablations ask it of theirs): does
    decontamination mostly re-remove what dedup already kills? Is the
    quality gate's work subsumed by repetition-heavy near-dups? A
    pair at high overlap_bp means the costlier stage can move behind
    the cheaper one (it will see almost nothing) — or be dropped.

    Kill-set definitions: quality (fails any q465 gate) and decontam
    (>= {_MIN_SHARED} bloom-hit trigrams, the q479 filter) are
    evaluated INDEPENDENTLY on the bench-excluded raw corpus; exact
    (non-minimal member of a text group) is evaluated on raw; neardup
    (larger id of a Jaccard-0.5 pair) is evaluated on the exact
    survivors — the only order it ever runs in production (the q27b
    funnel discipline), so exact/neardup kill sets are structurally
    disjoint and their row reports the funnel's incremental split.

    Determinism: every cell is an integer count over deterministic
    kill rules; overlap_bp is truncating division with a
    greatest(.,1) floor for empty unions.

    100 TB shape: the four kill sets ride their standalone plans
    (in-row gates; one text-keyed window; bucket-bounded shingle
    pairs on collapsed survivors; broadcast-bloom probe census); the
    matrix itself is ONE 11-accumulator aggregate over the flags
    frame — per-doc lineage is four semi-join bits, never a wide
    intermediate, and the output is 6 rows."""
    from ooh_etl_spark.operators.dedup import exact_dedup, jaccard_pairs

    d0 = load_documents(spark, sf_dir).select(
        "doc_id", "source", "text", tokenize(F.col("text")).alias("toks")
    )
    bench = materialize(
        d0.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(
            F.explode_outer(
                F.array_distinct(word_ngrams(F.col("toks"), _NGRAM))
            ).alias("gram")
        )
        .filter(F.col("gram").isNotNull())
        .distinct()
    )

    # ONE md5 per gram row, k slice-probes off it (r13 opt — the q444
    # treatment; each position previously recomputed md5(gram)).
    def pos(j: int) -> Column:
        return F.expr(
            f"CAST(conv(substring(h, {1 + 8 * j}, 8), 16, 10)"
            f" AS BIGINT) % {_FUN_M}"
        )

    bits = (
        bench.withColumn("h", F.md5("gram"))
        .select(
            F.explode(F.array(*[pos(j) for j in range(_FUN_K)])).alias("pos")
        )
        .distinct()
        .withColumn("bit_set", F.lit(1))
    )
    sw = ", ".join(f"'{w}'" for w in _AGREE_STOPWORDS)
    raw = materialize(d0.filter(F.col("doc_id") % _BENCH_MOD != 0))
    kq = raw.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.size(
            F.array_remove(F.array_distinct(F.split(F.col("text"), "")), "")
        ).alias("n_alpha"),
        F.expr(f"size(filter(toks, t -> t IN ({sw})))").alias("n_stop"),
        F.expr(
            "aggregate(array_sort(toks),"
            " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),"
            " (acc, t) -> named_struct("
            "   'prev', t,"
            "   'run', CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
            "               THEN acc.run + 1 ELSE 1 END,"
            "   'best', greatest(acc.best,"
            "     CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
            "          THEN acc.run + 1 ELSE 1 END)),"
            " acc -> acc.best)"
        ).alias("top_tok"),
    ).select(
        "doc_id",
        (
            ~(
                (F.col("n_toks") >= 20)
                & (F.col("n_alpha") >= 12)
                & (F.expr("(10000 * n_stop) div n_toks") >= 100)
                & (F.expr("(10000 * top_tok) div n_toks") <= 2000)
            )
        )
        .cast("int")
        .alias("k_quality"),
    )
    exd = materialize(exact_dedup(raw, key="text", id_col="doc_id"))
    ke = exd.select("doc_id", F.lit(1).alias("kept"))
    kn = (
        jaccard_pairs(exd, "text", "doc_id", threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("k_neardup", F.lit(1))
    )
    cg = raw.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(word_ngrams(F.col("toks"), _NGRAM))
        ).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    probed = cg.withColumn("h", F.md5("gram"))
    for j in range(_FUN_K):
        probed = probed.withColumn(f"p{j}", pos(j)).join(
            F.broadcast(
                bits.select(
                    F.col("pos").alias(f"p{j}"), F.col("bit_set").alias(f"b{j}")
                )
            ),
            f"p{j}",
            "left",
        )
    kd = (
        probed.filter(
            F.expr(" AND ".join(f"b{j} IS NOT NULL" for j in range(_FUN_K)))
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") >= _MIN_SHARED)
        .select("doc_id", F.lit(1).alias("k_decontam"))
    )
    flags = (
        raw.select("doc_id")
        .join(kq, "doc_id", "left")
        .join(ke, "doc_id", "left")
        .join(kn, "doc_id", "left")
        .join(kd, "doc_id", "left")
        .select(
            F.coalesce("k_quality", F.lit(0)).alias("k_quality"),
            (F.col("kept").isNull()).cast("int").alias("k_exact"),
            F.coalesce("k_neardup", F.lit(0)).alias("k_neardup"),
            F.coalesce("k_decontam", F.lit(0)).alias("k_decontam"),
        )
    )
    agg = flags.agg(
        *[F.sum(f"k_{s}").alias(f"n_{s}") for s in
          ("quality", "exact", "neardup", "decontam")],
        *[
            F.sum(F.col(f"k_{a}") * F.col(f"k_{b}")).alias(f"both_{a}_{b}")
            for a, b in _STAGE_PAIRS
        ],
    )
    stack_parts = ", ".join(
        f"'{a}', '{b}', n_{a}, n_{b}, both_{a}_{b},"
        f" n_{a} - both_{a}_{b}, n_{b} - both_{a}_{b},"
        f" (10000 * both_{a}_{b}) div greatest(n_{a} + n_{b} - both_{a}_{b}, 1)"
        for a, b in _STAGE_PAIRS
    )
    return (
        agg.select(
            F.expr(
                f"stack(6, {stack_parts})"
                " AS (stage_a, stage_b, kills_a, kills_b, both_kill,"
                " only_a_kills, only_b_kills, overlap_bp)"
            )
        )
        .select(
            "stage_a", "stage_b",
            F.col("kills_a").cast("bigint").alias("kills_a"),
            F.col("kills_b").cast("bigint").alias("kills_b"),
            F.col("both_kill").cast("bigint").alias("both_kill"),
            F.col("only_a_kills").cast("bigint").alias("only_a_kills"),
            F.col("only_b_kills").cast("bigint").alias("only_b_kills"),
            F.col("overlap_bp").cast("bigint").alias("overlap_bp"),
        )
        .orderBy("stage_a", "stage_b")
    )


# --- round-13 wave: q482 quality-gate threshold sensitivity curve -------------

#: Per-gate threshold grids; while one gate sweeps, the other three
#: hold their q465 defaults (len>=20, alpha>=12, stop>=100bp,
#: rep<=2000bp), so each curve shows the MARGINAL cost of moving one
#: knob inside the deployed ensemble.
_GATE_GRIDS = (
    ("len", (5, 10, 20, 40, 80)),
    ("alpha", (4, 8, 12, 16, 20)),
    ("stopword", (0, 50, 100, 200, 400)),
    ("repetition", (1000, 2000, 3000, 5000, 10000)),
)


def _duck_gate_curve() -> str:
    sw = ", ".join(f"'{w}'" for w in _AGREE_STOPWORDS)
    grid_rows = ", ".join(
        f"('{g}', {t})" for g, ts in _GATE_GRIDS for t in ts
    )
    return f"""
    WITH d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks, text FROM documents),
         feat AS (
      SELECT doc_id, len(toks) AS n_toks,
             len(list_distinct(list_transform(
                 generate_series(1, length(text)), i -> text[i:i])))
               AS n_alpha,
             (10000 * len(list_filter(toks, t -> t IN ({sw})))) // len(toks)
               AS stop_bp,
             (10000 * (SELECT max(c) FROM (
                SELECT count(*) AS c FROM unnest(toks) AS u(t) GROUP BY t)))
               // len(toks) AS rep_bp
      FROM d WHERE len(toks) > 0),
         grid AS (
      SELECT * FROM (VALUES {grid_rows}) AS v(gate, thr)),
         ev AS (
      SELECT g.gate, g.thr, f.n_toks,
             CASE WHEN (CASE WHEN g.gate = 'len' THEN f.n_toks >= g.thr
                             ELSE f.n_toks >= 20 END)
                   AND (CASE WHEN g.gate = 'alpha' THEN f.n_alpha >= g.thr
                             ELSE f.n_alpha >= 12 END)
                   AND (CASE WHEN g.gate = 'stopword' THEN f.stop_bp >= g.thr
                             ELSE f.stop_bp >= 100 END)
                   AND (CASE WHEN g.gate = 'repetition' THEN f.rep_bp <= g.thr
                             ELSE f.rep_bp <= 2000 END)
                  THEN 1 ELSE 0 END AS pass
      FROM feat f CROSS JOIN grid g)
    SELECT gate, CAST(thr AS BIGINT) AS threshold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pass) AS BIGINT) AS n_survivors,
           CAST((10000 * sum(pass)) // count(*) AS BIGINT) AS survival_bp,
           CAST(sum(pass * n_toks) AS BIGINT) AS tokens_survive
    FROM ev GROUP BY gate, thr ORDER BY gate, threshold
"""


@register("q482_gate_threshold_curve", _duck_gate_curve())
def q482_gate_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate threshold SENSITIVITY curves — the per-knob
    ablation behind FineWeb's filter tuning (Penedo et al. 2024 §3.3
    sweep each heuristic and keep the settings that move downstream
    loss; Dolma and RefinedWeb publish their chosen constants with no
    curve): for each of the four q465 gates, sweep its threshold over
    a 5-point grid while the OTHER three hold the deployed defaults,
    reporting surviving docs and token yield at every grid point —
    the marginal price of tightening one knob inside the ensemble,
    measured before committing a corpus build (q479 consumes these
    gates at their defaults). Completes the advisor series: q427
    bands, q451 S-curve, q456 K, q470 buckets, q475 bloom bits, q460
    truncation — this one prices the gates themselves.

    Determinism: the four per-doc statistics are exact integers
    (token counts, distinct chars, truncating-div basis points); the
    grid evaluation is pure comparisons; every output cell is an
    integer count or truncating-div bp.

    100 TB shape: ONE corpus scan computes the 4-statistic per-doc
    census in-row (the q465 gate expressions); the x20 (gate, thr)
    fan-out rides each row into a 20-group map-side-combined
    aggregate (the q460 grid discipline — grid cardinality, never
    corpus cardinality, reaches the shuffle); output is 20 rows."""
    docs = load_documents(spark, sf_dir)
    sw = ", ".join(f"'{w}'" for w in _AGREE_STOPWORDS)
    feat = (
        docs.select(
            "doc_id",
            tokenize(F.col("text")).alias("toks"),
            "text",
        )
        .filter(F.size("toks") > 0)
        .select(
            F.size("toks").alias("n_toks"),
            F.size(
                F.array_remove(F.array_distinct(F.split(F.col("text"), "")), "")
            ).alias("n_alpha"),
            F.expr(
                f"(10000 * size(filter(toks, t -> t IN ({sw})))) div size(toks)"
            ).alias("stop_bp"),
            F.expr(
                "(10000 * aggregate(array_sort(toks),"
                " named_struct('prev', CAST(NULL AS STRING), 'run', 0,"
                "              'best', 0),"
                " (acc, t) -> named_struct("
                "   'prev', t,"
                "   'run', CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
                "               THEN acc.run + 1 ELSE 1 END,"
                "   'best', greatest(acc.best,"
                "     CASE WHEN acc.prev IS NOT NULL AND acc.prev = t"
                "          THEN acc.run + 1 ELSE 1 END)),"
                " acc -> acc.best)) div size(toks)"
            ).alias("rep_bp"),
        )
    )
    grid = spark.createDataFrame(
        [(g, t) for g, ts in _GATE_GRIDS for t in ts], "gate string, thr long"
    )
    passes = (
        F.when(F.col("gate") == "len", F.col("n_toks") >= F.col("thr"))
        .otherwise(F.col("n_toks") >= 20)
        & F.when(F.col("gate") == "alpha", F.col("n_alpha") >= F.col("thr"))
        .otherwise(F.col("n_alpha") >= 12)
        & F.when(F.col("gate") == "stopword", F.col("stop_bp") >= F.col("thr"))
        .otherwise(F.col("stop_bp") >= 100)
        & F.when(
            F.col("gate") == "repetition", F.col("rep_bp") <= F.col("thr")
        ).otherwise(F.col("rep_bp") <= 2000)
    )
    return (
        feat.crossJoin(F.broadcast(grid))
        .select("gate", "thr", "n_toks", passes.cast("int").alias("pass"))
        .groupBy("gate", "thr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("pass").cast("bigint").alias("n_survivors"),
            F.expr("(10000 * sum(pass)) div count(*)")
            .cast("bigint")
            .alias("survival_bp"),
            F.sum(F.expr("pass * n_toks")).cast("bigint").alias("tokens_survive"),
        )
        .select(
            "gate",
            F.col("thr").cast("bigint").alias("threshold"),
            "n_docs",
            "n_survivors",
            "survival_bp",
            "tokens_survive",
        )
        .orderBy("gate", "threshold")
    )
