"""Ninth coverage wave: statistical text analysis — the corpus-level
measurements (entropy, Zipf slope, Heaps vocabulary growth, char-n-gram
profiles) that guide filtering thresholds, plus SCD2 validity intervals
over the event stream.

Scale notes: every query here is one explode + one-or-two natural-key
shuffles; nothing global except deliberately tiny reductions (a 100-row
regression input, a 10-row histogram). Entropy/slope floats are
quantized to integer basis points before any cross-engine comparison
(the q23/q61 precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.text import DUCK_TOKENIZE, tokenize
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents, load_table


@register(
    "q92_token_entropy",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({DUCK_TOKENIZE}) AS term FROM documents),
         tf AS (
      SELECT doc_id, lang, term, count(*) AS c
      FROM tok GROUP BY doc_id, lang, term),
         ent AS (
      SELECT doc_id, lang,
             CAST(round((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 10000)
                  AS BIGINT) AS ent_bp
      FROM tf GROUP BY doc_id, lang)
    SELECT lang,
           count(*) AS n_docs,
           round(avg(ent_bp) / 10000, 4) AS avg_entropy,
           round(min(ent_bp) / 10000.0, 4) AS min_entropy,
           round(max(ent_bp) / 10000.0, 4) AS max_entropy
    FROM ent GROUP BY lang ORDER BY lang
    """,
)
def q92_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution — the
    cheap perplexity proxy used to rank documents before a model-based
    filter (low entropy = repetitive/boilerplate). Uses the identity
    H = ln(n) - sum(c*ln c)/n so one aggregate pass per doc suffices;
    per-doc entropies are quantized to basis points before the lang
    rollup. Shuffles on (doc_id, term) then (doc_id) then (lang) —
    each strictly smaller than the last."""
    docs = load_documents(spark, sf_dir)
    tok = docs.select(
        "doc_id", "lang", F.explode_outer(tokenize(F.col("text"))).alias("term")
    ).filter(F.col("term").isNotNull())
    tf = tok.groupBy("doc_id", "lang", "term").agg(F.count(F.lit(1)).alias("c"))
    ent = tf.groupBy("doc_id", "lang").agg(
        F.round(
            (F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c")) * 10000
        )
        .cast("bigint")
        .alias("ent_bp")
    )
    return (
        ent.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ent_bp") / 10000, 4).alias("avg_entropy"),
            F.round(F.min("ent_bp") / 10000.0, 4).alias("min_entropy"),
            F.round(F.max("ent_bp") / 10000.0, 4).alias("max_entropy"),
        )
        .orderBy("lang")
    )


_ZIPF_TOP = 100


@register(
    "q93_zipf_slope",
    f"""
    WITH wc AS (
      SELECT term, count(*) AS c
      FROM (SELECT unnest({DUCK_TOKENIZE}) AS term FROM documents)
      GROUP BY term),
         ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rk
      FROM wc)
    SELECT count(*) AS n_terms,
           CAST(round(regr_slope(ln(c), ln(rk)) * 10000) AS BIGINT) AS slope_bp
    FROM ranked WHERE rk <= {_ZIPF_TOP}
    """,
)
def q93_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: the log-log slope of frequency vs rank over the
    top 100 vocabulary terms (natural text ~ -1; a corpus that drifts
    far from it is boilerplate- or spam-heavy — a standard corpus
    health metric). The word count shuffles on term; ranking the top
    100 funnels only the agg output through one window partition, and
    the regression is a single-row reduce of 100 points."""
    docs = load_documents(spark, sf_dir)
    wc = (
        docs.select(F.explode_outer(tokenize(F.col("text"))).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = wc.select(
        "c", F.row_number().over(Window.orderBy(F.col("c").desc(), "term")).alias("rk")
    ).filter(F.col("rk") <= _ZIPF_TOP)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(F.log("c"), F.log("rk")) * 10000)
        .cast("bigint")
        .alias("slope_bp"),
    )


_GROWTH_BUCKETS = 10


@register(
    "q94_vocab_growth",
    f"""
    WITH mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
         d AS (SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         tok AS (
      SELECT CAST(floor({_GROWTH_BUCKETS}.0 * doc_id / n) AS BIGINT) AS bucket,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS term
      FROM d CROSS JOIN mx),
         first_seen AS (
      SELECT term, min(bucket) AS first_bucket FROM tok GROUP BY term),
         hist AS (
      SELECT first_bucket AS bucket, count(*) AS new_terms
      FROM first_seen GROUP BY first_bucket)
    SELECT bucket, new_terms,
           CAST(sum(new_terms) OVER (ORDER BY bucket
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_vocab
    FROM hist ORDER BY bucket
    """,
)
def q94_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: how many NEW vocabulary terms each
    tenth of the corpus (by doc_id order) contributes, plus the running
    vocabulary size. Computed without any running-distinct state: each
    term's first-seen bucket is a min() aggregate, the growth curve is
    a 10-row histogram + running sum — the trick that makes
    vocabulary-growth measurement a two-shuffle batch job at any
    scale. Growth is measured over the BIGRAM vocabulary (the unigram
    vocab of the synthetic fixture saturates in the first bucket).
    All-integer output, engine-exact."""
    from ooh_etl_spark.queries.quality_ops import _bigrams

    docs = load_documents(spark, sf_dir)
    mx = docs.agg((F.max("doc_id") + 1).alias("n"))
    tok = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            F.floor(_GROWTH_BUCKETS * F.col("doc_id") / F.col("n"))
            .cast("bigint")
            .alias("bucket"),
            F.explode_outer(_bigrams(tokenize(F.col("text")))).alias("term"),
        )
        .filter(F.col("term").isNotNull())
    )
    first_seen = tok.groupBy("term").agg(F.min("bucket").alias("first_bucket"))
    hist = first_seen.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        hist.withColumn("cum_vocab", F.sum("new_terms").over(w).cast("bigint"))
        .orderBy("bucket")
    )


_SCD_MOD = 50  # emit intervals for 1/50th of users (keeps output reviewable)


@register(
    "q95_scd2_intervals",
    f"""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           event_type,
           round(value, 2) AS value
    FROM events
    WHERE user_id % {_SCD_MOD} = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from, event_type
    """,
)
def q95_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 interval construction: each event opens a validity
    interval that the user's NEXT event closes (NULL valid_to = still
    current) — the standard dimension-history build, done with one
    lead() window over one shuffle on user_id. Timestamps are formatted
    to strings in both engines (oracle-compare rule); restricted to
    1/50th of users so the checked output stays small while the plan is
    the full-table plan."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % _SCD_MOD == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        ev.select(
            "user_id",
            F.date_format("ts", fmt).alias("valid_from"),
            F.date_format(F.lead("ts").over(w), fmt).alias("valid_to"),
            "event_type",
            F.round("value", 2).alias("value"),
        )
        .orderBy("user_id", "valid_from", "event_type")
    )


_TRI_PREFIX = 80  # chars of each doc profiled
_TRI_TOP = 5


@register(
    "q96_char_trigram_profile",
    f"""
    WITH t AS (
      SELECT lang, substr(lower(trim(text)), 1, {_TRI_PREFIX}) AS s
      FROM documents),
         tri AS (
      SELECT lang,
             unnest(list_transform(generate_series(1, length(s) - 2),
                                   i -> s[i:i+2])) AS g
      FROM t),
         c AS (
      SELECT lang, g, count(*) AS c FROM tri GROUP BY lang, g),
         ranked AS (
      SELECT lang, g, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rk
      FROM c)
    SELECT lang, g AS trigram, c AS cnt, rk
    FROM ranked WHERE rk <= {_TRI_TOP}
    ORDER BY lang, rk
    """,
)
def q96_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram profiles per language — the feature family
    real language-ID models (CLD, fastText) are built on; the top-5
    table IS the training artifact a profile-based identifier would
    ship. Profiling only each doc's first 80 chars bounds the explode
    fan-out per row (exactly what you do at 100 TB: n-gram budgets per
    document, not per corpus). DuckDB's s[i:i+2] slice is 1-based
    INCLUSIVE — it is the same 3 chars as Spark's substring(s, i, 3)."""
    docs = load_documents(spark, sf_dir)
    s = F.substring(F.lower(F.trim(F.col("text"))), 1, _TRI_PREFIX)
    t = docs.select("lang", s.alias("s"))
    n = F.length("s")
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    tri = t.select(
        "lang",
        F.explode_outer(
            F.transform(idx, lambda i: F.col("s").substr(i, F.lit(3)))
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    c = tri.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "g")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TRI_TOP)
        .select("lang", F.col("g").alias("trigram"), F.col("c").alias("cnt"), "rk")
        .orderBy("lang", "rk")
    )


# --- q160: add-one-smoothed bigram language model (round-4 wave) ----------
_LM_HEADS = 10
_LM_TOP = 3

_DUCK_BIGRAM_LM = f"""
    WITH d AS (SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         bg AS (
      SELECT toks[i] AS head, toks[i + 1] AS nxt
      FROM d CROSS JOIN unnest(generate_series(1, len(toks) - 1)) AS t(i)),
         c_hn AS (SELECT head, nxt, count(*) AS c_hn FROM bg GROUP BY head, nxt),
         c_h AS (SELECT head, sum(c_hn) AS c_h FROM c_hn GROUP BY head),
         vocab AS (
      SELECT count(DISTINCT term) AS v
      FROM (SELECT unnest(toks) AS term FROM d)),
         heads AS (
      SELECT head, c_h, row_number() OVER (ORDER BY c_h DESC, head) AS hr
      FROM c_h),
         ranked AS (
      SELECT h.head, h.c_h, n.nxt, n.c_hn,
             row_number() OVER (PARTITION BY h.head
                                ORDER BY n.c_hn DESC, n.nxt) AS rk
      FROM heads h JOIN c_hn n USING (head)
      WHERE h.hr <= {_LM_HEADS})
    SELECT head, nxt, c_hn, CAST(c_h AS BIGINT) AS c_h,
           CAST(round((c_hn + 1) * 1000000.0 / (c_h + v)) AS BIGINT) AS p_ppm
    FROM ranked CROSS JOIN vocab
    WHERE rk <= {_LM_TOP}
    ORDER BY c_h DESC, head, rk
"""


@register("q160_bigram_lm", _DUCK_BIGRAM_LM)
def q160_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model with add-one (Laplace)
    smoothing: P(next|head) = (c(head,next)+1) / (c(head)+V) — the
    classical n-gram LM estimator (Jurafsky & Martin ch. 3), reported
    as the top-3 continuations for the 10 most frequent head tokens.
    The quality-filtering relevance: low-perplexity-under-a-tiny-LM is
    the CCNet/DSIR signal (q153/q155 build exactly such LMs); this
    query exposes the estimator itself as a reusable surface.

    All inputs are exact integer counts; the single ratio is quantized
    to ppm — engine-identical. 100 TB shape: one bigram shuffle
    (map-side combined), c(head) derived FROM the bigram counts by a
    second keyed aggregation (no second corpus pass), vocabulary size
    is a 1-row broadcast, and the head/continuation cuts are bounded
    top-k windows over the count table, not the corpus."""
    d = load_documents(spark, sf_dir).select("doc_id", tokenize(F.col("text")).alias("toks"))
    bg = d.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda h, n: F.struct(h.alias("head"), n.alias("nxt")),
            )
        ).alias("b")
    ).select("b.head", "b.nxt")
    c_hn = bg.groupBy("head", "nxt").agg(F.count(F.lit(1)).alias("c_hn"))
    c_h = c_hn.groupBy("head").agg(F.sum("c_hn").alias("c_h"))
    vocab = (
        d.select(F.explode("toks").alias("term"))
        .agg(F.countDistinct("term").alias("v"))
    )
    heads = c_h.withColumn(
        "hr", F.row_number().over(Window.orderBy(F.col("c_h").desc(), "head"))
    ).filter(F.col("hr") <= _LM_HEADS)
    ranked = (
        F.broadcast(heads)
        .join(c_hn, "head")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("head").orderBy(F.col("c_hn").desc(), "nxt")
            ),
        )
        .filter(F.col("rk") <= _LM_TOP)
    )
    return (
        ranked.crossJoin(F.broadcast(vocab))
        .select(
            "head",
            "nxt",
            "c_hn",
            F.col("c_h").cast("bigint").alias("c_h"),
            F.round((F.col("c_hn") + 1) * 1000000.0 / (F.col("c_h") + F.col("v")))
            .cast("bigint")
            .alias("p_ppm"),
            "rk",
        )
        .orderBy(F.col("c_h").desc(), "head", "rk")
        .drop("rk")
    )


# --- q165: tokenizer fertility per language (round-4 wave) ----------------
_DUCK_FERTILITY = rf"""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe,
             len({DUCK_TOKENIZE}) AS n_words
      FROM documents)
    SELECT lang,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_words) AS BIGINT) AS words,
           CAST(round(1000000.0 * sum(n_bpe) / sum(n_words)) AS BIGINT)
             AS fertility_ppm
    FROM t GROUP BY lang ORDER BY lang
"""


@register("q165_tokenizer_fertility", _DUCK_FERTILITY)
def q165_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword tokens per whitespace
    word (BPE-ish regex count / word count) — the standard measure of
    how expensive a language is under a given tokenizer (≈1.0 means
    one token per word; morphologically rich or under-served languages
    run higher), used to budget per-language token quotas next to
    q164's temperature mix. Integer token counts sum exactly; the one
    ratio is quantized to ppm. One map-side-combined aggregate keyed
    on lang — nothing else moves."""
    docs = load_documents(spark, sf_dir)
    bpe = F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0))
    words = F.size(tokenize(F.col("text")))
    return (
        docs.select("lang", bpe.alias("n_bpe"), words.alias("n_words"))
        .groupBy("lang")
        .agg(
            F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
            F.sum("n_words").cast("bigint").alias("words"),
            F.round(1000000.0 * F.sum("n_bpe") / F.sum("n_words"))
            .cast("bigint")
            .alias("fertility_ppm"),
        )
        .orderBy("lang")
    )


# --- q195: PMI collocations ---------------------------------------------
_PMI_MIN_COUNT = 25
_PMI_TOP = 10

_DUCK_PMI = f"""
    WITH tok AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS t
      FROM documents),
         big AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)),
         bc AS (SELECT w1, w2, count(*) AS cab FROM big GROUP BY 1, 2),
         u1 AS (SELECT w1 AS w, count(*) AS c FROM big GROUP BY 1),
         u2 AS (SELECT w2 AS w, count(*) AS c FROM big GROUP BY 1),
         n AS (SELECT count(*) AS n FROM big)
    SELECT bc.w1, bc.w2, bc.cab,
           CAST(round(1000000 * ln(bc.cab * n.n * 1.0 / (u1.c * u2.c)))
                AS BIGINT) AS pmi_micro
    FROM bc JOIN u1 ON bc.w1 = u1.w JOIN u2 ON bc.w2 = u2.w CROSS JOIN n
    WHERE bc.cab >= {_PMI_MIN_COUNT}
    ORDER BY pmi_micro DESC, w1, w2
    LIMIT {_PMI_TOP}
"""


@register("q195_collocations_pmi", _DUCK_PMI)
def q195_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks 1990; the statistic behind word2vec's phrase-merging pass):
    PMI(w1, w2) = ln(P(w1 w2) / (P1(w1) * P2(w2))) with POSITIONAL
    unigram models (w1's count as a bigram head, w2's as a tail) and a
    minimum bigram count that filters the unstable low-frequency tail
    — the standard guard, since PMI diverges as counts shrink. Top-10
    by micro-nat-quantized PMI with lexicographic tie-breaks.

    Engine-exactness: all counts are integers; one ln on an exact
    integer ratio per surviving bigram, quantized before ranking.
    cab * n stays inside int64 until corpus bigram counts approach
    ~3e9 squared — past that, cast the product to decimal(38,0) (the
    money-policy wide accumulator).

    100 TB shape: one bigram shuffle (map-side combined) builds bc;
    the positional unigram tables are its reaggregations; the final
    join keys on the word — hot stop-words are AQE skew-splits. This
    is q160's bigram LM machinery pointed at association rather than
    prediction."""
    from ooh_etl_spark.functions.text import tokenize

    docs = load_documents(spark, sf_dir)
    tok = docs.select(tokenize(F.col("text")).alias("t"))
    big = tok.select(
        F.posexplode(F.slice("t", 1, F.size("t") - 1)).alias("i", "w1"),
        F.col("t"),
    ).select("w1", F.expr("t[i + 1]").alias("w2"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cab"))
    u1 = big.groupBy(F.col("w1").alias("w")).agg(F.count(F.lit(1)).alias("c1"))
    u2 = big.groupBy(F.col("w2").alias("w")).agg(F.count(F.lit(1)).alias("c2"))
    n = big.agg(F.count(F.lit(1)).alias("n"))
    return (
        bc.filter(F.col("cab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), bc.w1 == u1.w)
        .join(F.broadcast(u2), bc.w2 == u2.w)
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "cab",
            F.round(
                1_000_000
                * F.log(
                    F.col("cab") * F.col("n") * 1.0 / (F.col("c1") * F.col("c2"))
                )
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


_JSD_V = 500  # top-V corpus vocabulary


@register(
    "q241_source_jsd",
    f"""
    WITH tok AS (
      SELECT source, unnest({DUCK_TOKENIZE})
               AS w
      FROM documents),
         tc AS (
      SELECT source, w, count(*) AS c FROM tok WHERE w <> ''
      GROUP BY source, w),
         corpus AS (
      SELECT w, sum(c) AS cc FROM tc GROUP BY w
      ORDER BY cc DESC, w LIMIT {_JSD_V}),
         sc AS (
      SELECT t.source, c.w, t.c
      FROM corpus c LEFT JOIN tc t ON t.w = c.w),
         tots AS (
      SELECT source, sum(c) AS ts FROM sc WHERE source IS NOT NULL
      GROUP BY source),
         ctot AS (SELECT sum(cc) AS tc FROM corpus),
         terms AS (
      SELECT t.source,
             CAST(round(500000000.0 * (
               CASE WHEN coalesce(s.c, 0) = 0 THEN 0.0
                    ELSE (s.c * 1.0 / t.ts)
                         * ln(2.0 * (s.c * 1.0 / t.ts)
                              / (s.c * 1.0 / t.ts + c.cc * 1.0 / ct.tc))
               END
               + (c.cc * 1.0 / ct.tc)
                 * ln(2.0 * (c.cc * 1.0 / ct.tc)
                      / (coalesce(s.c, 0) * 1.0 / t.ts
                         + c.cc * 1.0 / ct.tc)))) AS BIGINT) AS term_nano
      FROM corpus c
      CROSS JOIN tots t
      CROSS JOIN ctot ct
      LEFT JOIN tc s ON s.w = c.w AND s.source = t.source)
    SELECT source,
           CAST(sum(term_nano) AS BIGINT) AS jsd_nano,
           count(*) AS n_vocab
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
)
def q241_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between each source's token
    distribution and the corpus distribution, over the top-500 shared
    vocabulary — the mixture-design diagnostic behind q164's
    temperature weights (a source with high JSD is the one
    up/down-weighting will distort most; DoReMi-style reweighting
    watches exactly this statistic). JSD = ½KL(P‖M) + ½KL(Q‖M) with
    M the midpoint; bounded by ln 2, symmetric, defined even where a
    source lacks a token (its half-term is 0; the corpus half stays
    finite — the reason JSD and not KL).

    Engine-exactness: every probability is an exact integer ratio in
    one double division; each vocab term quantizes to nano-nats BEFORE
    the per-source sum (order-free, the q187 ln contract). Scale
    shape: ONE (source, token) count shuffle — everything after runs
    on the V-row vocabulary table per source (bounded), with the
    corpus totals as 1-row broadcasts.
    """
    from ooh_etl_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    # checkpoint the vocab-bounded count table and top-V vocabulary:
    # each feeds 3 consumers, and without the checkpoints the
    # tokenizing pass re-ran per consumer (audited: 5 parquet scans of
    # documents in one plan; now 1).
    tc = materialize(
        tok.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    corpus = materialize(
        tc.groupBy("w")
        .agg(F.sum("c").alias("cc"))
        .orderBy(F.desc("cc"), "w")
        .limit(_JSD_V)
    )
    sc = corpus.join(tc, "w", "left")
    tots = sc.filter(F.col("source").isNotNull()).groupBy("source").agg(
        F.sum("c").alias("ts")
    )
    ctot = corpus.agg(F.sum("cc").alias("tc"))
    joined = (
        corpus.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(ctot))
        .join(
            tc.select(
                F.col("w").alias("sw"),
                F.col("source").alias("ss"),
                F.col("c").alias("sc_c"),
            ),
            (F.col("w") == F.col("sw")) & (F.col("source") == F.col("ss")),
            "left",
        )
    )
    p = F.col("sc_c") * 1.0 / F.col("ts")
    q = F.col("cc") * 1.0 / F.col("tc")
    p0 = F.coalesce(F.col("sc_c"), F.lit(0)) * 1.0 / F.col("ts")
    term = F.round(
        500000000.0
        * (
            F.when(F.coalesce(F.col("sc_c"), F.lit(0)) == 0, 0.0).otherwise(
                p * F.log(2.0 * p / (p + q))
            )
            + q * F.log(2.0 * q / (p0 + q))
        )
    ).cast("bigint")
    return (
        joined.select("source", term.alias("term_nano"))
        .groupBy("source")
        .agg(
            F.sum("term_nano").cast("bigint").alias("jsd_nano"),
            F.count(F.lit(1)).alias("n_vocab"),
        )
        .orderBy("source")
    )


@register(
    "q251_readability",
    f"""
    WITH d AS (
      SELECT lang,
             len({DUCK_TOKENIZE})
               AS n_words,
             len(string_split(text, '.')) - 1 + 1 AS n_sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS n_vgroups
      FROM documents WHERE text <> ''),
         scored AS (
      SELECT lang, n_words, n_sents, n_vgroups,
             CAST(round(100 * (206.835
               - 1.015 * (n_words * 1.0 / n_sents)
               - 84.6 * (n_vgroups * 1.0 / n_words))) AS BIGINT)
               AS flesch_c
      FROM d WHERE n_words > 0)
    SELECT lang,
           count(*) AS n_docs,
           CAST(FLOOR(avg(flesch_c)) AS BIGINT) AS mean_flesch_c,
           CAST(min(flesch_c) AS BIGINT) AS min_flesch_c,
           CAST(max(flesch_c) AS BIGINT) AS max_flesch_c
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def q251_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language (Flesch 1948) with the classic
    vowel-group syllable proxy — the readability axis of a text
    quality suite (q23 measures structural quality; this measures
    linguistic difficulty; training-mix builders filter or stratify on
    both). Syllables ≈ maximal [aeiouy]+ runs — the standard cheap
    approximation, honest about being a proxy (exact syllabification
    needs a dictionary; the engine-side statistic is the proxy
    everyone ships).

    Engine-exactness: words, sentences and vowel groups are integer
    regex counts; the Flesch formula evaluates on exact integer ratios
    in doubles and quantizes per doc to centipoints BEFORE the
    per-language mean (order-free — the established per-row-quantize
    contract). One narrow pass + a |langs|-key aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text") != "")
    n_words = F.size(tokenize(F.col("text")))
    n_sents = F.size(F.split(F.col("text"), r"\.")) - 1 + 1
    n_vg = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    scored = docs.select(
        "lang",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_vg.alias("n_vgroups"),
    ).filter(F.col("n_words") > 0)
    flesch = F.round(
        100
        * (
            206.835
            - 1.015 * (F.col("n_words") * 1.0 / F.col("n_sents"))
            - 84.6 * (F.col("n_vgroups") * 1.0 / F.col("n_words"))
        )
    ).cast("bigint")
    return (
        scored.withColumn("flesch_c", flesch)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.floor(F.avg("flesch_c")).cast("bigint").alias("mean_flesch_c"),
            F.min("flesch_c").cast("bigint").alias("min_flesch_c"),
            F.max("flesch_c").cast("bigint").alias("max_flesch_c"),
        )
        .orderBy("lang")
    )


@register(
    "q260_source_position",
    """
    WITH q AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(quantile_disc(n_chars, 0.25) AS BIGINT) AS p25,
             CAST(quantile_disc(n_chars, 0.50) AS BIGINT) AS p50,
             CAST(quantile_disc(n_chars, 0.75) AS BIGINT) AS p75
      FROM documents GROUP BY source),
         tot AS (SELECT count(*) AS n FROM documents)
    SELECT q.source, q.n_docs, q.p50 AS median_chars,
           CAST(FLOOR(10000.0 * (SELECT count(*) FROM documents d
                                 WHERE d.n_chars <= q.p50) / tot.n)
                AS BIGINT) AS median_corpus_pct_bp,
           CAST(q.p75 - q.p25 AS BIGINT) AS iqr_chars,
           CAST(FLOOR(10000.0 * (q.p75 - q.p25)
                / ((SELECT quantile_disc(n_chars, 0.75) FROM documents)
                   - (SELECT quantile_disc(n_chars, 0.25) FROM documents)))
                AS BIGINT) AS iqr_vs_corpus_bp
    FROM q CROSS JOIN tot
    ORDER BY source
    """,
)
def q260_source_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-position diagnostic — where each source's length
    distribution SITS inside the corpus: the corpus percentile of the
    source median (a source at the 20th percentile is systematically
    short — truncation or boilerplate) and the source IQR as a share
    of the corpus IQR (narrow = homogeneous/templated content). This
    is the read-before-you-normalize report behind quantile
    normalization and per-source length filters (q83/q164 reweight on
    counts; this says whether SHAPE differs too).

    Exactness: all quartiles are discrete percentiles over integer
    chars; the corpus position of a median is a pure count ratio in
    bp. Shape: per-source percentile aggregates + three 1-row corpus
    aggregates broadcast; the count-below lookup joins the 20-row
    quartile table against the corpus ONCE (broadcast threshold
    table, map-side conditional count — implemented as a range-free
    conditional aggregate, no per-doc window anywhere).
    """
    docs = load_table(spark, sf_dir, "documents")

    def disc(col: str, p: float) -> F.Column:
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY {col})")

    q = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        disc("n_chars", 0.25).cast("bigint").alias("p25"),
        disc("n_chars", 0.50).cast("bigint").alias("p50"),
        disc("n_chars", 0.75).cast("bigint").alias("p75"),
    )
    corpus = docs.agg(
        F.count(F.lit(1)).alias("n"),
        disc("n_chars", 0.25).cast("bigint").alias("c25"),
        disc("n_chars", 0.75).cast("bigint").alias("c75"),
    )
    # count of corpus docs <= each source median: broadcast the 20-row
    # quartile table and reduce the corpus once with a conditional sum.
    meds = q.select(F.col("source").alias("msrc"), "p50")
    below = (
        docs.select("n_chars")
        .crossJoin(F.broadcast(meds))
        .groupBy("msrc")
        .agg(
            F.sum((F.col("n_chars") <= F.col("p50")).cast("long")).alias(
                "n_below"
            )
        )
        .select(F.col("msrc").alias("source"), "n_below")
    )
    return (
        q.join(below, "source")
        .crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "n_docs",
            F.col("p50").alias("median_chars"),
            F.floor(10000.0 * F.col("n_below") / F.col("n"))
            .cast("bigint")
            .alias("median_corpus_pct_bp"),
            (F.col("p75") - F.col("p25")).cast("bigint").alias("iqr_chars"),
            F.floor(
                10000.0
                * (F.col("p75") - F.col("p25"))
                / (F.col("c75") - F.col("c25"))
            )
            .cast("bigint")
            .alias("iqr_vs_corpus_bp"),
        )
        .orderBy("source")
    )


# --- q306: BLEU-2 between candidate/reference document pairs -------------
_BLEU_PAIRS = 50  # candidate doc_id d in [0, 50) scored against d+1

_DUCK_BLEU = f"""
    WITH pairs AS (
      SELECT c.doc_id,
             regexp_split_to_array(lower(trim(c.text)), '\\s+') AS cand,
             regexp_split_to_array(lower(trim(r.text)), '\\s+') AS ref
      FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id < {_BLEU_PAIRS}),
         uni AS (
      SELECT p.doc_id, u.g AS gram, 1 AS n FROM pairs p,
             unnest(p.cand) AS u(g)
      UNION ALL
      SELECT p.doc_id,
             p.cand[i] || ' ' || p.cand[i + 1], 2
      FROM pairs p, unnest(generate_series(1, len(p.cand) - 1)) AS s(i)),
         runi AS (
      SELECT p.doc_id, u.g AS gram, 1 AS n FROM pairs p,
             unnest(p.ref) AS u(g)
      UNION ALL
      SELECT p.doc_id,
             p.ref[i] || ' ' || p.ref[i + 1], 2
      FROM pairs p, unnest(generate_series(1, len(p.ref) - 1)) AS s(i)),
         cc AS (SELECT doc_id, n, gram, count(*) AS c
                FROM uni GROUP BY 1, 2, 3),
         rc AS (SELECT doc_id, n, gram, count(*) AS c
                FROM runi GROUP BY 1, 2, 3),
         clipped AS (
      SELECT cc.doc_id, cc.n,
             CAST(sum(least(cc.c, coalesce(rc.c, 0))) AS BIGINT) AS hit,
             CAST(sum(cc.c) AS BIGINT) AS total
      FROM cc LEFT JOIN rc USING (doc_id, n, gram)
      GROUP BY 1, 2),
         prec AS (
      SELECT doc_id,
             max(CASE WHEN n = 1 THEN hit END) AS h1,
             max(CASE WHEN n = 1 THEN total END) AS t1,
             max(CASE WHEN n = 2 THEN hit END) AS h2,
             max(CASE WHEN n = 2 THEN total END) AS t2
      FROM clipped GROUP BY 1),
         lens AS (
      SELECT doc_id, len(cand) AS lc, len(ref) AS lr FROM pairs)
    SELECT p.doc_id,
           CAST(round(10000.0 * p.h1 / p.t1) AS BIGINT) AS p1_bp,
           CAST(round(10000.0 * p.h2 / p.t2) AS BIGINT) AS p2_bp,
           CAST(round(1000000.0
                * least(1.0, exp(1.0 - l.lr * 1.0 / l.lc))
                * CASE WHEN p.h1 = 0 OR p.h2 = 0 THEN 0.0
                       ELSE exp(0.5 * (ln(p.h1 * 1.0 / p.t1)
                                     + ln(p.h2 * 1.0 / p.t2))) END)
                AS BIGINT) AS bleu_e6
    FROM prec p JOIN lens l USING (doc_id)
    ORDER BY p.doc_id
"""


@register("q306_bleu_pairs", _DUCK_BLEU)
def q306_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BLEU-2 (Papineni et al., ACL 2002) between
    candidate/reference document pairs — the n-gram-overlap eval every
    generation pipeline reports, expressed relationally: clipped
    n-gram precision is a grouped (doc, n, gram) count join with
    least(cand, ref), and the geometric mean + brevity penalty are
    one closed form per pair. The pairing here is positional
    (doc d vs d+1 — the MACHINERY is the operator; a real eval joins
    candidate and reference tables on example id).

    Determinism: clipped hits and totals are integers; ln/exp of
    integer ratios are engine-identical; zero-hit pairs short-circuit
    to BLEU 0 before any ln(0).

    100 TB shape: n-gram explosion is linear in tokens; the clip join
    shuffles on (doc_id, n, gram) — co-partitioned, no broadcast
    needed since both sides of a pair land on the same key; per-pair
    reduction is map-side combinable. Smoothed BLEU variants swap the
    CASE for +1 Laplace terms, same plan."""
    docs = load_table(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") < _BLEU_PAIRS).select(
        "doc_id", tokenize(F.col("text")).alias("cand")
    )
    ref = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), tokenize(F.col("text")).alias("ref")
    )
    # checkpoint: the candidate-reference join feeds BOTH gram tables
    # (cc and rc) — without it each would re-execute the join.
    pairs = materialize(cand.join(ref, "doc_id"))

    def grams(col: str, out: str):
        # uni- and bigrams from ONE explode over a concat of struct
        # arrays (a unigrams.union(bigrams) would tokenize-and-join
        # twice — the q296 Union-recompute class).
        return (
            pairs.select(
                "doc_id",
                F.explode(
                    F.concat(
                        F.expr(
                            f"transform({col}, t -> struct(1 AS n, t AS gram))"
                        ),
                        F.expr(
                            f"transform(sequence(1, size({col}) - 1), "
                            f"i -> struct(2 AS n, "
                            f"concat({col}[i - 1], ' ', {col}[i]) AS gram))"
                        ),
                    )
                ).alias("g"),
            )
            .select("doc_id", "g.n", "g.gram")
            .groupBy("doc_id", "n", "gram")
            .agg(F.count(F.lit(1)).alias(out))
        )

    cc = grams("cand", "c")
    rc = grams("ref", "r")
    clipped = (
        cc.join(rc, ["doc_id", "n", "gram"], "left")
        .groupBy("doc_id", "n")
        .agg(
            F.sum(F.least(F.col("c"), F.coalesce(F.col("r"), F.lit(0))))
            .cast("bigint")
            .alias("hit"),
            F.sum("c").cast("bigint").alias("total"),
        )
    )
    prec = clipped.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("hit"))).alias("h1"),
        F.max(F.when(F.col("n") == 1, F.col("total"))).alias("t1"),
        F.max(F.when(F.col("n") == 2, F.col("hit"))).alias("h2"),
        F.max(F.when(F.col("n") == 2, F.col("total"))).alias("t2"),
    )
    lens = pairs.select(
        "doc_id", F.size("cand").alias("lc"), F.size("ref").alias("lr")
    )
    bleu = (
        F.least(F.lit(1.0), F.exp(1.0 - F.col("lr") * 1.0 / F.col("lc")))
        * F.when((F.col("h1") == 0) | (F.col("h2") == 0), 0.0).otherwise(
            F.exp(
                0.5
                * (
                    F.log(F.col("h1") * 1.0 / F.col("t1"))
                    + F.log(F.col("h2") * 1.0 / F.col("t2"))
                )
            )
        )
    )
    return (
        prec.join(lens, "doc_id")
        .select(
            "doc_id",
            F.round(10000.0 * F.col("h1") / F.col("t1"))
            .cast("bigint")
            .alias("p1_bp"),
            F.round(10000.0 * F.col("h2") / F.col("t2"))
            .cast("bigint")
            .alias("p2_bp"),
            F.round(1000000.0 * bleu).cast("bigint").alias("bleu_e6"),
        )
        .orderBy("doc_id")
    )


# --- q317: RAKE keyword extraction ----------------------------------------
_RAKE_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")
_RAKE_TOP = 15
_RAKE_MAX_PHRASE = 4

_DUCK_RAKE = f"""
    WITH toks AS (
      SELECT doc_id, u.i AS pos, t[u.i] AS tok,
             t[u.i] IN {_RAKE_STOPWORDS} AS stop
      FROM (SELECT doc_id,
                   {DUCK_TOKENIZE} AS t
            FROM documents) d,
           unnest(generate_series(1, len(t))) AS u(i)),
         marked AS (
      SELECT doc_id, pos, tok, stop,
             sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos) AS run_id
      FROM toks),
         runs AS (
      SELECT doc_id, pos, tok, run_id FROM marked WHERE NOT stop),
         phrases AS (
      SELECT doc_id, run_id,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM runs GROUP BY doc_id, run_id
      HAVING count(*) <= {_RAKE_MAX_PHRASE}),
         words AS (
      SELECT unnest(string_split(phrase, ' ')) AS w, plen FROM phrases),
         wscore AS (
      SELECT w, sum(plen) * 1.0 / count(*) AS score FROM words GROUP BY w),
         pscore AS (
      SELECT p.phrase, count(*) AS n_occurrences
      FROM phrases p GROUP BY p.phrase),
         scored AS (
      SELECT ps.phrase, ps.n_occurrences,
             CAST(round(1000 * sum(ws.score)) AS BIGINT) AS score_milli
      FROM pscore ps,
           unnest(string_split(ps.phrase, ' ')) AS u(w)
      JOIN wscore ws ON ws.w = u.w
      GROUP BY ps.phrase, ps.n_occurrences)
    SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           score_milli
    FROM scored
    ORDER BY score_milli DESC, phrase
    LIMIT {_RAKE_TOP}
"""


@register("q317_rake_keywords", _DUCK_RAKE)
def q317_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 — the unsupervised
    keyphrase baseline): candidate phrases are maximal non-stopword
    token runs (phrase boundaries = stopwords, formed by a running
    stopword count per document); each word scores degree/frequency
    (degree = summed length of phrases containing it), and a phrase
    scores the sum of its word scores. Top-{_RAKE_TOP} phrases by
    score — the corpus's load-bearing vocabulary, computed with no
    model and no training.

    Determinism: run ids, phrase strings, and all counts are integer/
    string operations; word scores are integer ratios; the per-phrase
    sum runs over <= {_RAKE_MAX_PHRASE} word scores.

    100 TB shape: phrase formation is ONE per-doc window (running
    stopword count — partitioned, ordered by position); word and
    phrase scores are two keyed aggregates whose cardinality is the
    vocabulary/phrase space, not the corpus; top-k lands in
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "tok")
    ).withColumn("stop", F.col("tok").isin(*_RAKE_STOPWORDS))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        toks.withColumn(
            "run_id", F.sum(F.when(F.col("stop"), 1).otherwise(0)).over(w)
        )
        .filter(~F.col("stop"))
        .select("doc_id", "pos", "tok", "run_id")
    )
    phrases = (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.getField("tok"),
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_PHRASE)
    )
    words = phrases.select(F.explode(F.split("phrase", " ")).alias("w"), "plen")
    wscore = words.groupBy("w").agg(
        (F.sum("plen") * 1.0 / F.count(F.lit(1))).alias("score")
    )
    pscore = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    scored = (
        pscore.select(
            "phrase", "n_occurrences", F.explode(F.split("phrase", " ")).alias("w")
        )
        .join(wscore, "w")
        .groupBy("phrase", "n_occurrences")
        .agg(F.round(1000 * F.sum("score")).cast("bigint").alias("score_milli"))
    )
    return (
        scored.select(
            "phrase",
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            "score_milli",
        )
        .orderBy(F.desc("score_milli"), "phrase")
        .limit(_RAKE_TOP)
    )


# --- q338: Kneser-Ney smoothed bigram LM (round 6) -------------------------
_KN_D_NUM, _KN_D_DEN = 3, 4  # absolute discount D = 0.75, exact
_KN_TOP = 20

_DUCK_KN = f"""
    WITH d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         bg AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM d CROSS JOIN unnest(generate_series(1, len(toks) - 1)) AS u(i)),
         bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
         uc AS (
      SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
             CAST(count(*) AS BIGINT) AS fanout
      FROM bc GROUP BY w1),
         cont AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n_left FROM bc GROUP BY w2),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bc)
    SELECT bc.w1, bc.w2, bc.c,
           CAST(round(1000000000.0 * (
             greatest(bc.c - {_KN_D_NUM} / {_KN_D_DEN}.0, 0) / uc.cw1
             + ({_KN_D_NUM} / {_KN_D_DEN}.0) * uc.fanout / uc.cw1
               * cont.n_left / tot.b)) AS BIGINT) AS p_kn_e9
    FROM bc
    JOIN uc USING (w1) JOIN cont USING (w2) CROSS JOIN tot
    ORDER BY bc.c DESC, bc.w1, bc.w2
    LIMIT {_KN_TOP}
"""


@register("q338_kneser_ney_bigram", _DUCK_KN)
def q338_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney,
    ICASSP 1995; Chen & Goodman 1998's reference formulation) — the
    smoothing that made n-gram LMs work, and the missing rung between
    q160's raw bigram LM and q153/q155's LM consumers: P(w2|w1) =
    max(c - D, 0)/c(w1) + D·fanout(w1)/c(w1) · Pcont(w2), where the
    CONTINUATION probability Pcont(w2) = |distinct left contexts of
    w2| / |distinct bigrams| is the insight — 'Francisco' is frequent
    but only ever follows 'San', so its continuation mass is tiny.

    Every ingredient is a COUNT over the bigram table: c(w1,w2),
    c(w1), fanout N1+(w1·), continuation N1+(·w2), total distinct B —
    one bigram aggregate plus three bounded rollups of it. D = 3/4
    exactly; probabilities quantize to e9.

    100 TB shape: ONE (w1, w2) shuffle builds the bigram table
    (checkpointed — every statistic derives from it, never from a
    corpus re-pass); the rollups are vocabulary-bounded; trigram KN
    stacks the same pattern one order deeper."""
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(tokenize(F.col("text")).alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
    )
    bc = materialize(
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # every KN statistic derives from this table
    )
    uc = bc.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("cw1"),
        F.count(F.lit(1)).cast("bigint").alias("fanout"),
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n_left"))
    tot = bc.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    d_disc = float(_KN_D_NUM) / _KN_D_DEN
    return (
        bc.join(uc, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            F.round(
                1000000000.0
                * (
                    F.greatest(F.col("c") - d_disc, F.lit(0.0)) / F.col("cw1")
                    + d_disc
                    * F.col("fanout")
                    / F.col("cw1")
                    * F.col("n_left")
                    / F.col("b")
                )
            )
            .cast("bigint")
            .alias("p_kn_e9"),
        )
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(_KN_TOP)
    )


# --- q346: corpus dispersion DP (round 6) ----------------------------------
_DP_TOP = 15

_DUCK_DISPERSION = f"""
    WITH tok AS (
      SELECT source, unnest({DUCK_TOKENIZE}) AS w FROM documents),
         part_sz AS (
      SELECT source, CAST(count(*) AS BIGINT) AS s FROM tok GROUP BY source),
         tot AS (SELECT CAST(sum(s) AS BIGINT) AS n FROM part_sz),
         tf AS (
      SELECT w, source, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
         wtot AS (
      SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM tf GROUP BY w),
         terms AS (
      SELECT wtot.w, wtot.cw,
             CAST(round(500000.0 * sum(abs(
               coalesce(tf.c, 0) * 1.0 / wtot.cw - part_sz.s * 1.0 / tot.n
             ))) AS BIGINT) AS dp_e6
      FROM wtot
      CROSS JOIN tot
      JOIN part_sz ON true
      LEFT JOIN tf ON tf.w = wtot.w AND tf.source = part_sz.source
      GROUP BY wtot.w, wtot.cw)
    SELECT w AS term, cw AS n_occurrences, dp_e6
    FROM terms
    ORDER BY dp_e6 DESC, term
    LIMIT {_DP_TOP}
"""


@register("q346_dispersion_dp", _DUCK_DISPERSION)
def q346_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dispersion DP (Gries 2008, 'Dispersions and adjusted
    frequencies in corpora'): DP = 0.5 * sum over corpus parts of
    |observed share of the term in part - part's share of the corpus|
    — 0 means the term spreads exactly with corpus mass, 1 means it
    lives in one part. Raw frequency hides this (a term can be
    frequent because ONE source spams it — the burstiness that makes
    frequency-based vocab/filter decisions wrong); the top-DP terms
    are each source's shibboleths, the bottom the true corpus-wide
    vocabulary. Complements q241 (JSD: whole-distribution divergence
    per source) with a PER-TERM statistic.

    100 TB shape: one (term, source) count shuffle; the DP sum runs
    on the |vocab| x |sources| grid (the per-term LEFT join against
    the part-size table fills absent cells with 0 — required: a term
    MISSING from a big part contributes that part's full share);
    top-k via TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("w")
    )
    tf = materialize(
        tok.groupBy("w", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # feeds part sizes, term totals, and cells
    )
    part_sz = tf.groupBy("source").agg(F.sum("c").cast("bigint").alias("s"))
    tot = part_sz.agg(F.sum("s").cast("bigint").alias("n"))
    wtot = tf.groupBy("w").agg(F.sum("c").cast("bigint").alias("cw"))
    grid = wtot.crossJoin(F.broadcast(part_sz)).join(
        tf, ["w", "source"], "left"
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("w", "cw")
        .agg(
            F.round(
                500000.0
                * F.sum(
                    F.abs(
                        F.coalesce(F.col("c"), F.lit(0)) * 1.0 / F.col("cw")
                        - F.col("s") * 1.0 / F.col("n")
                    )
                )
            )
            .cast("bigint")
            .alias("dp_e6")
        )
        .select(
            F.col("w").alias("term"),
            F.col("cw").alias("n_occurrences"),
            "dp_e6",
        )
        .orderBy(F.desc("dp_e6"), "term")
        .limit(_DP_TOP)
    )


# --- q353: nucleus (top-p) vocabulary coverage (round 6) -------------------
_NUC_P_BP = 9000  # 90% token-mass target

_DUCK_NUCLEUS = f"""
    WITH tok AS (
      SELECT source, unnest({DUCK_TOKENIZE}) AS w FROM documents),
         tf AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2),
         tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS v
      FROM tf GROUP BY source),
         ranked AS (
      SELECT tf.source, tf.c, tot.n, tot.v,
             sum(tf.c) OVER (PARTITION BY tf.source
                             ORDER BY tf.c DESC, tf.w) AS cum
      FROM tf JOIN tot USING (source)),
         nucleus AS (
      SELECT source, n, v,
             CAST(count(*) FILTER (
               WHERE cum - c < n * {_NUC_P_BP} / 10000.0) AS BIGINT)
               AS k_nucleus
      FROM ranked GROUP BY source, n, v)
    SELECT source, n AS n_tokens, v AS vocab_size, k_nucleus,
           CAST(round(10000.0 * k_nucleus / v) AS BIGINT)
             AS nucleus_share_bp
    FROM nucleus ORDER BY source
"""


@register("q353_nucleus_vocab_coverage", _DUCK_NUCLEUS)
def q353_nucleus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus / top-p vocabulary coverage per source (the corpus-side
    twin of nucleus sampling, Holtzman et al. ICLR 2020): the number
    of distinct terms needed to cover {_NUC_P_BP} bp of a source's
    token mass, and what fraction of its vocabulary that nucleus is —
    a heavy-tailed source covers 90% of its tokens with a sliver of
    its vocab (boilerplate-ish), a flat one needs most of it. The
    tokenizer-budget statistic that says how much vocab each source
    actually exercises (q165's fertility measures the inverse
    direction).

    Membership rule: a term is in the nucleus iff the mass BEFORE it
    (cum - c) is still below the target — the smallest prefix of the
    (count desc, term) order reaching p, including the crossing term;
    the strict < on exact integers vs one double product is
    engine-identical.

    100 TB shape: one (source, term) count shuffle; the cumulative
    window partitions by source over the vocabulary table (bounded by
    vocab, not tokens); output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("w")
    )
    tf = materialize(
        tok.groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # feeds totals AND the ranked window
    )
    tot = tf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy(F.desc("c"), F.asc("w"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = tf.join(tot, "source").select(
        "source",
        "c",
        "n",
        "v",
        F.sum("c").over(wcum).alias("cum"),
    )
    nucleus = ranked.groupBy("source", "n", "v").agg(
        F.sum(
            F.when(
                F.col("cum") - F.col("c")
                < F.col("n") * _NUC_P_BP / 10000.0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("k_nucleus")
    )
    return nucleus.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab_size"),
        "k_nucleus",
        F.round(10000.0 * F.col("k_nucleus") / F.col("v"))
        .cast("bigint")
        .alias("nucleus_share_bp"),
    ).orderBy("source")


# --- q366: Good-Turing frequency-of-frequencies (round 6) -------------------
_DUCK_GT = """
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
         freq AS (
      SELECT w, count(*) AS r FROM tok WHERE w <> '' GROUP BY w),
         nr AS (
      SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM freq GROUP BY r),
         tot AS (
      SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
             CAST(sum(n_r) AS BIGINT) AS v FROM nr)
    SELECT a.r, a.n_r,
           CAST(round(1000.0 * (a.r + 1) * coalesce(b.n_r, 0) / a.n_r)
                AS BIGINT) AS r_star_milli,
           CAST(round(1000000.0 * a.n_r * a.r / tot.n_tokens) AS BIGINT)
             AS mass_e6,
           tot.n_tokens, tot.v
    FROM nr a LEFT JOIN nr b ON b.r = a.r + 1 CROSS JOIN tot
    ORDER BY a.r LIMIT 15
"""


@register("q366_good_turing", _DUCK_GT)
def q366_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies table (Good, Biometrika
    1953; Gale & Sampson 1995 'Simple Good-Turing'): N_r = how many
    word types occur exactly r times, the adjusted count
    r* = (r+1) N_{r+1} / N_r, and the probability mass each frequency
    class carries. The leave-one-out foundation of every smoothed LM:
    N_1/N estimates the unseen-event mass (here surfaced as the r=1
    row's mass), and r* < r is the discount that funds it — the
    empirical input q338's Kneser-Ney discounts abstract.

    Exactness: the whole table is integer counts of integer counts;
    the only doubles are two final ratios of exact integers.

    100 TB shape: two chained map-side-combinable aggregates (token →
    type frequency → count-of-counts); the N_r table is at most
    max-frequency rows and the successor lookup is a self-join on the
    tiny table. The corpus is touched once."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("r"))
    nr = freq.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
    nr = materialize(nr)
    tot = nr.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tokens"),
        F.sum("n_r").cast("bigint").alias("v"),
    )
    succ = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        nr.join(F.broadcast(succ), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.round(
                1000.0
                * (F.col("r") + 1)
                * F.coalesce(F.col("n_r_next"), F.lit(0))
                / F.col("n_r")
            )
            .cast("bigint")
            .alias("r_star_milli"),
            F.round(1000000.0 * F.col("n_r") * F.col("r") / F.col("n_tokens"))
            .cast("bigint")
            .alias("mass_e6"),
            "n_tokens",
            "v",
        )
        .orderBy("r")
        .limit(15)
    )


# --- q367: TextRank keyword scores (round 6) --------------------------------
_DUCK_TEXTRANK = """
    WITH t AS (
      SELECT string_split(lower(text), ' ') AS l FROM documents),
         big AS (
      SELECT least(l[x], l[x + 1]) AS a, greatest(l[x], l[x + 1]) AS b
      FROM t CROSS JOIN LATERAL (SELECT unnest(range(1, len(l))) AS x)
      WHERE l[x] <> '' AND l[x + 1] <> '' AND l[x] <> l[x + 1]),
         e AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS wt FROM big GROUP BY 1, 2),
         dir AS (
      SELECT a AS src, b AS dst, wt FROM e
      UNION ALL SELECT b, a, wt FROM e),
         deg AS (
      SELECT src AS w, CAST(sum(wt) AS BIGINT) AS deg FROM dir GROUP BY 1),
         p0 AS (SELECT w, CAST(1000000 AS BIGINT) AS p FROM deg),
         p1 AS (
      SELECT d.dst AS w,
             150000 + sum(CAST(round(0.85 * d.wt * p0.p / deg.deg)
                               AS BIGINT)) AS p
      FROM dir d JOIN p0 ON p0.w = d.src JOIN deg ON deg.w = d.src
      GROUP BY 1),
         p2 AS (
      SELECT d.dst AS w,
             150000 + sum(CAST(round(0.85 * d.wt * p1.p / deg.deg)
                               AS BIGINT)) AS p
      FROM dir d JOIN p1 ON p1.w = d.src JOIN deg ON deg.w = d.src
      GROUP BY 1),
         p3 AS (
      SELECT d.dst AS w,
             150000 + sum(CAST(round(0.85 * d.wt * p2.p / deg.deg)
                               AS BIGINT)) AS p
      FROM dir d JOIN p2 ON p2.w = d.src JOIN deg ON deg.w = d.src
      GROUP BY 1)
    SELECT w AS word, CAST(p AS BIGINT) AS pr_micro
    FROM p3 ORDER BY pr_micro DESC, word LIMIT 10
"""


@register("q367_textrank_keywords", _DUCK_TEXTRANK)
def q367_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau, EMNLP 2004):
    PageRank over the word co-occurrence graph (adjacent-token edges,
    undirected, count-weighted), three damped iterations (d = 0.85)
    from a uniform start, top-10 words — the unsupervised keyword
    extractor that ranks by graph centrality where q317's RAKE ranks
    by degree/frequency heuristics.

    Determinism across engines: rank values are held as MICRO-UNIT
    INTEGERS and each edge contribution quantizes via
    round(0.85 * wt * p / deg) BEFORE the neighbor sum — integer sums
    are associative, double sums are not, so the unrolled iterations
    are bit-identical in Spark and DuckDB (the q103 power-iteration
    contract applied to an NLP graph).

    100 TB shape: bigram extraction is a NARROW transform (array zip
    per document, no positional self-join); one shuffle aggregates
    edges to the vocab-bounded weight table, which is checkpointed and
    broadcast through three joins that each touch only |E| rows. The
    corpus is read once; iterations never rescan it."""
    docs = load_table(spark, sf_dir, "documents")
    big = (
        docs.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(lower(text), ' ')) - 1),"
                    " i -> struct("
                    "   element_at(split(lower(text), ' '), i) AS w1,"
                    "   element_at(split(lower(text), ' '), i + 1) AS w2))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter(
            (F.col("w1") != "") & (F.col("w2") != "") & (F.col("w1") != F.col("w2"))
        )
        .select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
    )
    e = materialize(
        big.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wt"))
    )
    dir_e = e.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "wt"
    ).unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst"), "wt"))
    dir_e = materialize(dir_e)
    deg = dir_e.groupBy(F.col("src").alias("w")).agg(
        F.sum("wt").cast("bigint").alias("deg")
    )
    p = deg.select("w", F.lit(1000000).cast("bigint").alias("p"))
    for _ in range(3):
        p = (
            dir_e.join(F.broadcast(p), dir_e["src"] == p["w"])
            .join(F.broadcast(deg.withColumnRenamed("w", "dw")),
                  F.col("src") == F.col("dw"))
            .groupBy(F.col("dst").alias("w2"))
            .agg(
                (
                    F.lit(150000)
                    + F.sum(
                        F.round(0.85 * F.col("wt") * F.col("p") / F.col("deg"))
                        .cast("bigint")
                    )
                ).cast("bigint").alias("p")
            )
            .select(F.col("w2").alias("w"), "p")
        )
    return (
        p.select(F.col("w").alias("word"), F.col("p").alias("pr_micro"))
        .orderBy(F.desc("pr_micro"), "word")
        .limit(10)
    )


# --- q398: Flesch readability scoring per source (round 6) ------------------
_DUCK_FLESCH = f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({DUCK_TOKENIZE}) AS term FROM documents),
         syl AS (
      SELECT doc_id, source,
             greatest(1, len(regexp_extract_all(term, '[aeiouy]+'))) AS syll
      FROM tok),
         doc AS (
      SELECT doc_id, source,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(syll) AS BIGINT) AS s
      FROM syl GROUP BY doc_id, source),
         scored AS (
      SELECT source, w, s,
             CAST(round(1000.0 * (206.835 - 1.015 * w
                                  - 84.6 * s / w)) AS BIGINT) AS fre_milli,
             CAST(round(1000.0 * (0.39 * w + 11.8 * s / w - 15.59))
                  AS BIGINT) AS fk_milli
      FROM doc)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS sum_words,
           CAST(sum(s) AS BIGINT) AS sum_syllables,
           CAST(round(1000.0 * sum(s) / sum(w)) AS BIGINT)
             AS syll_per_word_milli,
           CAST(round(sum(fre_milli) * 1.0 / count(*)) AS BIGINT)
             AS avg_flesch_milli,
           CAST(round(sum(fk_milli) * 1.0 / count(*)) AS BIGINT)
             AS avg_fk_grade_milli
    FROM scored GROUP BY source ORDER BY source
"""


@register("q398_flesch_readability", _DUCK_FLESCH)
def q398_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per source (Flesch
    1948; Kincaid et al. 1975): syllables estimated as vowel-group
    runs [aeiouy]+ (min 1 per word — the standard cheap heuristic),
    each synthetic document treated as one sentence (the fixture
    corpus has no sentence punctuation, so words-per-sentence = doc
    length; documented divergence from prose usage). Readability is a
    core corpus-quality signal: C4/Gopher-style gates (q79) drop
    boilerplate by rule, Flesch ranks what remains by audience level.

    Exactness: per-word syllable counts are integers; per-doc scores
    are doubles from two exact integers quantized to milli BEFORE the
    per-source average, which is then an exact integer sum / count.

    100 TB shape: one explode + one (doc) agg + one (source) agg, all
    map-side combinable; no joins, no windows — the same single-pass
    shape as q23's quality score."""
    tok = load_documents(spark, sf_dir).select(
        "doc_id",
        "source",
        F.explode_outer(tokenize(F.col("text"))).alias("term"),
    )
    syl = tok.select(
        "doc_id",
        "source",
        F.greatest(
            F.lit(1), F.size(F.regexp_extract_all(F.col("term"), F.lit("[aeiouy]+"), 0))
        ).alias("syll"),
    )
    doc = syl.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        F.sum("syll").cast("bigint").alias("s"),
    )
    scored = doc.select(
        "source",
        "w",
        "s",
        F.round(
            1000.0 * (206.835 - 1.015 * F.col("w") - 84.6 * F.col("s") / F.col("w"))
        )
        .cast("bigint")
        .alias("fre_milli"),
        F.round(1000.0 * (0.39 * F.col("w") + 11.8 * F.col("s") / F.col("w") - 15.59))
        .cast("bigint")
        .alias("fk_milli"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("sum_words"),
            F.sum("s").cast("bigint").alias("sum_syllables"),
            F.round(1000.0 * F.sum("s") / F.sum("w"))
            .cast("bigint")
            .alias("syll_per_word_milli"),
            F.round(F.sum("fre_milli") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("avg_flesch_milli"),
            F.round(F.sum("fk_milli") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("avg_fk_grade_milli"),
        )
        .orderBy("source")
    )


# --- q407: Chao1 vocabulary richness estimate (round 6) ---------------------
_DUCK_CHAO1 = f"""
    WITH tok AS (
      SELECT unnest({DUCK_TOKENIZE}) AS term FROM documents),
         tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
         coc AS (
      SELECT CAST(count(*) AS BIGINT) AS s_obs,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM tf)
    SELECT s_obs, n_tokens, f1, f2,
           CAST(round(s_obs + f1 * 1.0 * f1 / (2.0 * greatest(f2, 1)))
                AS BIGINT) AS chao1,
           CAST(round(s_obs + f1 * 1.0 * (f1 - 1) / (2.0 * (f2 + 1)))
                AS BIGINT) AS chao1_bc,
           CAST(round(10000.0 * (1.0 - f1 * 1.0 / n_tokens)) AS BIGINT)
             AS coverage_bp
    FROM coc
"""


@register("q407_chao1_richness", _DUCK_CHAO1)
def q407_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 nonparametric vocabulary-richness estimate (Chao,
    Scand.J.Stat 1984; Chao 1987 bias-corrected form): S_chao1 =
    S_obs + f1^2/(2 f2) from the singleton/doubleton counts alone —
    the unseen-species bound that says how much vocabulary the corpus
    has NOT yet shown, plus Good's sample coverage C = 1 - f1/N
    (Good, Biometrika 1953). Together with q366's Good-Turing
    counts-of-counts this closes the unseen-mass toolkit: q366
    re-discounts what was seen, Chao1 sizes what wasn't — the
    go/no-go signal for whether more crawl will still grow a
    tokenizer's effective vocab.

    Exactness: every input (S_obs, N, f1, f2) is an exact integer
    from one term aggregate; the three estimators are single-rounded
    doubles of those integers.

    100 TB shape: one explode + one term-keyed map-side-combinable
    agg + one scalar reduce — no joins, no windows; counts-of-counts
    needs only c∈{{1,2}} flags, never a second shuffle."""
    tok = load_documents(spark, sf_dir).select(
        F.explode_outer(tokenize(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    coc = tf.agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    return coc.select(
        "s_obs",
        "n_tokens",
        "f1",
        "f2",
        F.round(
            F.col("s_obs")
            + F.col("f1") * 1.0 * F.col("f1") / (2.0 * F.greatest(F.col("f2"), F.lit(1)))
        )
        .cast("bigint")
        .alias("chao1"),
        F.round(
            F.col("s_obs")
            + F.col("f1") * 1.0 * (F.col("f1") - 1) / (2.0 * (F.col("f2") + 1))
        )
        .cast("bigint")
        .alias("chao1_bc"),
        F.round(10000.0 * (1.0 - F.col("f1") * 1.0 / F.col("n_tokens")))
        .cast("bigint")
        .alias("coverage_bp"),
    )


# ---------------------------------------------------------------------------
# Round-8 wave: Heaps'-law fit, charset/byte-cost census, bigram
# document-frequency novelty profile.
# ---------------------------------------------------------------------------


@register(
    "q420_heaps_law_fit",
    f"""
    WITH d AS (
      SELECT lang, {DUCK_TOKENIZE} AS toks FROM documents),
         p AS (
      SELECT lang,
             len(toks) AS n,
             len(list_distinct(toks)) AS v
      FROM d)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(round(10000 * regr_slope(ln(v), ln(n))) AS BIGINT)
             AS heaps_beta_bp,
           CAST(round(10000 * regr_intercept(ln(v), ln(n))) AS BIGINT)
             AS heaps_logk_bp,
           CAST(sum(v) AS BIGINT) AS sum_types,
           CAST(sum(n) AS BIGINT) AS sum_tokens
    FROM p GROUP BY lang ORDER BY lang
    """,
)
def q420_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law (Herdan's law) fit per language: regress ln(types)
    on ln(tokens) across documents to estimate the vocabulary-growth
    exponent beta in V = K * N^beta (Heaps 1978; natural text lands
    around 0.4-0.6, while template/boilerplate corpora collapse toward
    0 and random token salad toward 1). The corpus-planning companion
    to q93's Zipf slope and q94's bucketed growth curve: beta predicts
    how much NEW vocabulary (hence tokenizer pressure and embedding
    rows) another 10x of data will bring per language.

    Exactness: the regression inputs (n, v) are exact integers
    computed identically by both tokenizers; ln() and the
    regr_slope/intercept reduction are one double pipeline each,
    quantized to basis points at the output (q93 precedent).

    100 TB shape: (n, v) is computed inside the scan stage per doc
    (array ops in codegen, no explode — the token list never leaves
    its row); the only shuffle is the |langs|-group regression
    reduce, which is map-side combinable to 6 floats per partition.
    """
    d = load_documents(spark, sf_dir).select(
        "lang", tokenize(F.col("text")).alias("toks")
    )
    p = d.select(
        "lang",
        F.size("toks").alias("n"),
        F.size(F.array_distinct("toks")).alias("v"),
    )
    return (
        p.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(10000 * F.regr_slope(F.log("v"), F.log("n")))
            .cast("bigint")
            .alias("heaps_beta_bp"),
            F.round(10000 * F.regr_intercept(F.log("v"), F.log("n")))
            .cast("bigint")
            .alias("heaps_logk_bp"),
            F.sum("v").cast("bigint").alias("sum_types"),
            F.sum("n").cast("bigint").alias("sum_tokens"),
        )
        .orderBy("lang")
    )


_NONPRINT_ASCII = "[^\\x20-\\x7E]"  # same class in Java regex and RE2


@register(
    "q421_charset_cost_census",
    f"""
    WITH c AS (
      SELECT lang,
             length(text) AS n_chars,
             octet_length(encode(text)) AS n_bytes,
             length(text) - length(regexp_replace(text, '{_NONPRINT_ASCII}', '', 'g'))
               AS n_nonascii,
             CASE WHEN strpos(text, chr(65533)) > 0 THEN 1 ELSE 0 END AS has_repl
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
           CAST(sum(n_nonascii) AS BIGINT) AS sum_nonascii,
           CAST(sum(has_repl) AS BIGINT) AS n_replacement_docs,
           CAST(round(1000000.0 * sum(n_bytes) / sum(n_chars)) AS BIGINT)
             AS bytes_per_char_e6,
           CAST(round(10000.0 * sum(n_nonascii) / sum(n_chars)) AS BIGINT)
             AS nonascii_bp
    FROM c GROUP BY lang ORDER BY lang
    """,
)
def q421_charset_cost_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset / byte-cost census per language: UTF-8 bytes vs
    codepoints (CJK text costs ~3 bytes and often ~1 token per char,
    so byte-budgeted ingestion and char-budgeted dedup disagree by 3x
    — the storage-planning twin of q165's tokenizer fertility),
    non-printable-ASCII fraction, and U+FFFD replacement-character
    docs (the standard mojibake/encoding-corruption tripwire a crawl
    pipeline alerts on; expected 0 on a healthy corpus).

    Exactness: all five signals are exact integers inside the scan
    stage; the two ratios are one double division each over integer
    sums, quantized to e6/bp.

    100 TB shape: zero explodes, zero joins — per-doc char-class
    arithmetic in WholeStageCodegen, then one |langs|-group map-side
    combinable aggregate. This is the cheapest full-corpus pass in
    the catalog, which is the point: it is the health check you run
    on EVERY ingest batch before spending the expensive passes."""
    c = load_documents(spark, sf_dir).select(
        "lang",
        F.length("text").alias("n_chars"),
        F.octet_length("text").alias("n_bytes"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), _NONPRINT_ASCII, ""))
        ).alias("n_nonascii"),
        F.when(F.instr(F.col("text"), "�") > 0, 1).otherwise(0).alias("has_repl"),
    )
    return (
        c.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("n_bytes").cast("bigint").alias("sum_bytes"),
            F.sum("n_nonascii").cast("bigint").alias("sum_nonascii"),
            F.sum("has_repl").cast("bigint").alias("n_replacement_docs"),
            F.round(1000000.0 * F.sum("n_bytes") / F.sum("n_chars"))
            .cast("bigint")
            .alias("bytes_per_char_e6"),
            F.round(10000.0 * F.sum("n_nonascii") / F.sum("n_chars"))
            .cast("bigint")
            .alias("nonascii_bp"),
        )
        .orderBy("lang")
    )


_NOVELTY_COMMON_DF = 5

_DUCK_DISTINCT_BIGRAMS = (
    "list_distinct(list_transform(generate_series(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i + 1]))"
)


@register(
    "q422_bigram_novelty_profile",
    f"""
    WITH d AS (
      SELECT doc_id, source, {DUCK_TOKENIZE} AS toks FROM documents),
         b AS (
      SELECT doc_id, source, unnest({_DUCK_DISTINCT_BIGRAMS}) AS bg FROM d),
         w AS (
      SELECT doc_id, source, count(*) OVER (PARTITION BY bg) AS df FROM b),
         perdoc AS (
      SELECT doc_id, source,
             count(*) AS n_bg,
             sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_uniq,
             sum(CASE WHEN df >= {_NOVELTY_COMMON_DF} THEN 1 ELSE 0 END) AS n_com
      FROM w GROUP BY doc_id, source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
           CAST(sum(n_uniq) AS BIGINT) AS n_unique,
           CAST(sum(n_com) AS BIGINT) AS n_common,
           CAST(round(10000.0 * sum(n_uniq) / sum(n_bg)) AS BIGINT)
             AS novelty_bp
    FROM perdoc GROUP BY source ORDER BY source
    """,
)
def q422_bigram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram document-frequency novelty profile per source: for each
    doc's DISTINCT bigrams, how many appear in exactly one document
    (novel) vs >= {_NOVELTY_COMMON_DF} documents (stock phrases) —
    the inverted-index triage that ranks sources by boilerplate /
    near-duplication risk BEFORE any pairwise dedup runs (a source
    with low novelty_bp is where q27/q28's pair budget should go
    first, and a source of pure stock phrases is a candidate to drop
    wholesale). Per-doc risk scoring without enumerating any doc
    pair — the linear-cost front half of the dedup funnel.

    Exactness: distinct-bigram sets are engine-identical string
    lists; df and all census counters are exact integers; novelty_bp
    is one quantized division.

    100 TB shape: ONE corpus scan and ONE bigram explode — df is a
    count window over the bigram-keyed shuffle (not a df-table join
    back onto a second explode, which would scan and re-explode the
    corpus twice), then a per-doc pre-aggregate (no countDistinct
    Expand) rolls up map-side-combinably to |sources| rows. Never
    doc x doc — cost is linear in total distinct bigram occurrences,
    the same inverted-index discipline as q27/q379."""
    d = load_documents(spark, sf_dir).select(
        "doc_id", "source", tokenize(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat(
                F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
            ),
        )
    )
    b = d.select("doc_id", "source", F.explode(bigrams).alias("bg"))
    w = b.select(
        "doc_id",
        "source",
        F.count(F.lit(1)).over(Window.partitionBy("bg")).alias("df"),
    )
    perdoc = w.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_uniq"),
        F.sum(F.when(F.col("df") >= _NOVELTY_COMMON_DF, 1).otherwise(0)).alias(
            "n_com"
        ),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bg").cast("bigint").alias("n_bigrams"),
            F.sum("n_uniq").cast("bigint").alias("n_unique"),
            F.sum("n_com").cast("bigint").alias("n_common"),
            F.round(10000.0 * F.sum("n_uniq") / F.sum("n_bg"))
            .cast("bigint")
            .alias("novelty_bp"),
        )
        .orderBy("source")
    )


# --- round-9 wave: q432 per-source Jensen-Shannon divergence ----------------

_DUCK_SOURCE_JS = f"""
    WITH t AS (
      SELECT source, unnest({DUCK_TOKENIZE}) AS tok FROM documents),
         st AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
         sn AS (SELECT source, sum(c) AS ns FROM st GROUP BY 1),
         ct AS (SELECT tok, sum(c) AS cc FROM st GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM st),
         terms AS (
      SELECT st.source,
             st.c / sn.ns AS p,
             ct.cc / n.n AS q
      FROM st JOIN sn USING (source) JOIN ct USING (tok), n),
         agg AS (
      SELECT source,
             sum(p * log2(2 * p / (p + q))) AS kl_p,
             sum(q * log2(2 * q / (p + q))) AS kl_q_present,
             sum(q) AS q_present,
             count(*) AS vocab
      FROM terms GROUP BY source)
    SELECT a.source,
           CAST(sn.ns AS BIGINT) AS n_tokens,
           CAST(a.vocab AS BIGINT) AS vocab,
           CAST(round(10000 * (1 - a.q_present)) AS BIGINT)
             AS absent_mass_bp,
           CAST(round(1000 * 0.5 * (a.kl_p + a.kl_q_present
                                    + (1 - a.q_present))) AS BIGINT)
             AS js_milli
    FROM agg a JOIN sn ON a.source = sn.source
    ORDER BY a.source
"""


@register("q432_source_js_divergence", _DUCK_SOURCE_JS)
def q432_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the pooled corpus distribution (Lin, IEEE-IT 1991) — the
    drift monitor a mixture pipeline runs per ingest batch: a source
    whose JS jumps is changing register/domain and needs its mixture
    weight re-fit. Reports per source: token count, vocabulary,
    corpus-mass on tokens ABSENT from the source, and JS in milli-bits.

    The absent-token trick keeps the computation on PRESENT
    (source, token) pairs only: for a token with p_t = 0 the KL(q||m)
    term is q_t*log2(q_t/(q_t/2)) = q_t, so the whole absent tail
    collapses to the closed form (1 - sum_present q_t) — no
    vocab x source densification, no outer join.

    Exactness: both engines sum identical IEEE terms; the only float
    output is quantized to milli-bits (the q23/q61 precedent; log2 ulp
    differences sit ~6 orders below the quantum).

    100 TB shape: one explode -> ONE (source, token)-keyed aggregate;
    both marginals are windows over that vocab-bounded table and the
    scalar total is a no-explode map-side aggregate, so the corpus is
    never re-exploded per marginal; per-source reduction ends at 20
    rows. No stage touches doc x vocab."""
    docs = load_documents(spark, sf_dir)
    t = docs.select(
        "source", F.explode_outer(tokenize(F.col("text"))).alias("tok")
    ).filter(F.col("tok").isNotNull())
    # ^ explode_outer keeps InferFiltersFromGenerate from re-deriving
    # the tokenize below the exchange, but a NULL text row would then
    # emit one null-token row that DuckDB's unnest(NULL) does not —
    # the explicit post-explode null filter (plan-neutral: it sits
    # above Generate) keeps the two engines identical on such rows.
    # ONE corpus explode -> (source, tok) counts; every marginal the
    # formula needs is then a WINDOW over this vocab-bounded table
    # (never a second corpus pass): ns = per-source mass, cc = token
    # marginal. A naive sn/ct/n-as-separate-aggregates plan re-derives
    # the explode once per marginal (measured: 4 Generate subtrees).
    st = t.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    ns_w = F.sum("c").over(Window.partitionBy("source"))
    cc_w = F.sum("c").over(Window.partitionBy("tok"))
    # The corpus total is a SCALAR: take it from a no-explode map-side
    # aggregate over the scan (sum of in-row token counts) instead of
    # a single-partition window over st.
    n = docs.agg(
        F.sum(F.size(tokenize(F.col("text")))).cast("double").alias("n")
    )
    terms = (
        st.select("source", "tok", "c", ns_w.alias("ns"))
        .select("source", "c", "ns", cc_w.alias("cc"))
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            F.col("ns").cast("bigint").alias("ns"),
            (F.col("c") / F.col("ns")).alias("p"),
            (F.col("cc") / F.col("n")).alias("q"),
        )
    )
    agg = terms.groupBy("source", "ns").agg(
        F.sum(F.col("p") * F.log2(2 * F.col("p") / (F.col("p") + F.col("q"))))
        .alias("kl_p"),
        F.sum(F.col("q") * F.log2(2 * F.col("q") / (F.col("p") + F.col("q"))))
        .alias("kl_q_present"),
        F.sum("q").alias("q_present"),
        F.count(F.lit(1)).alias("vocab"),
    )
    return (
        agg.select(
            "source",
            F.col("ns").cast("bigint").alias("n_tokens"),
            F.col("vocab").cast("bigint").alias("vocab"),
            F.round(10000 * (1 - F.col("q_present")))
            .cast("bigint")
            .alias("absent_mass_bp"),
            F.round(
                1000
                * 0.5
                * (
                    F.col("kl_p")
                    + F.col("kl_q_present")
                    + (1 - F.col("q_present"))
                )
            )
            .cast("bigint")
            .alias("js_milli"),
        )
        .orderBy("source")
    )


# --- round-10 wave: q438 WIMBD n-gram corpus census -------------------------

_WIMBD_N = 5
_WIMBD_TOP = 20

_DUCK_WIMBD = f"""
    WITH d AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= {_WIMBD_N}
                    THEN list_transform(
                           generate_series(1, len(toks) - {_WIMBD_N - 1}),
                           i -> array_to_string(toks[i:i + {_WIMBD_N - 1}], ' '))
                    ELSE [] END) AS gram
      FROM d),
         dg AS (
      SELECT gram, doc_id, count(*) AS cnt FROM g GROUP BY 1, 2),
         census AS (
      SELECT gram, sum(cnt) AS occurrences, count(*) AS n_docs
      FROM dg GROUP BY gram),
         tot AS (
      SELECT sum(CASE WHEN len(toks) >= {_WIMBD_N}
                 THEN len(toks) - {_WIMBD_N - 1} ELSE 0 END) AS total
      FROM d),
         top AS (
      SELECT gram, occurrences, n_docs,
             row_number() OVER (ORDER BY occurrences DESC, gram) AS rank
      FROM census
      ORDER BY occurrences DESC, gram LIMIT {_WIMBD_TOP})
    SELECT rank, gram,
           CAST(occurrences AS BIGINT) AS occurrences,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST((10000 * occurrences) // total AS BIGINT) AS share_bp,
           CAST((10000 * sum(occurrences) OVER (ORDER BY rank)) // total
                AS BIGINT) AS cum_share_bp
    FROM top CROSS JOIN tot
    ORDER BY rank
"""


@register("q438_wimbd_ngram_census", _DUCK_WIMBD)
def q438_wimbd_ngram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIMBD most-common-n-grams census (Elazar et al., ICLR 2024
    "What's In My Big Data?" — the audit that surfaced boilerplate
    floods in C4/mC4/OSCAR): the top-20 5-grams by occurrence with
    document spread, each gram's share of ALL 5-gram positions, and
    the cumulative share of the head — the number that says how much
    of the corpus is template text. Counting n-grams at corpus scale
    IS the WIMBD workload (they built a map-reduce for it; here it is
    a query).

    Exactness: counts are integers; shares are INTEGER basis-point
    floor divisions; the top-20 cut orders by (occurrences DESC,
    gram) — total. The cumulative window runs over the 20-row head.

    100 TB shape: one guarded in-row gram expansion -> explode ->
    (gram, doc) pre-aggregate (map-side combinable) -> gram census;
    the scalar denominator is a NO-explode map-side sum of in-row
    position counts; the only global window sits above LIMIT 20.
    Zipf-hot grams are exactly what the census is FOR — they are
    keys with big counts, never join fan-out."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    grams = F.when(
        F.size("toks") >= _WIMBD_N,
        F.expr(
            f"transform(sequence(1, size(toks) - {_WIMBD_N - 1}),"
            f" i -> array_join(slice(toks, i, {_WIMBD_N}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    dg = (
        d.select("doc_id", F.explode_outer(grams).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    census = dg.groupBy("gram").agg(
        F.sum("cnt").alias("occurrences"), F.count(F.lit(1)).alias("n_docs")
    )
    tot = d.agg(
        F.sum(
            F.when(
                F.size("toks") >= _WIMBD_N, F.size("toks") - (_WIMBD_N - 1)
            ).otherwise(F.lit(0))
        ).alias("total")
    )
    top = (
        census.orderBy(F.desc("occurrences"), "gram")
        .limit(_WIMBD_TOP)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("occurrences"), "gram")),
        )
    )
    cum = F.sum("occurrences").over(
        Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "gram",
            F.col("occurrences").cast("bigint").alias("occurrences"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("(10000 * occurrences) div total")
            .cast("bigint")
            .alias("share_bp"),
            (F.lit(10000) * cum).cast("bigint").alias("__cum"),
            F.col("total"),
        )
        .select(
            "rank",
            "gram",
            "occurrences",
            "n_docs",
            "share_bp",
            F.expr("__cum div total").cast("bigint").alias("cum_share_bp"),
        )
        .orderBy("rank")
    )


# --- round-11 wave: q441 cross-source n-gram overlap matrix -----------------

_OVL_N = 3  # gram length: 3-grams separate boilerplate from topic overlap

_DUCK_OVERLAP = f"""
    WITH t AS (
      SELECT source, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT DISTINCT source,
             unnest(list_transform(
               generate_series(1, len(toks) - {_OVL_N - 1}),
               i -> array_to_string(toks[i:i+{_OVL_N - 1}], ' '))) AS gram
      FROM t WHERE len(toks) >= {_OVL_N}),
         sz AS (SELECT source, count(*) AS n_grams FROM g GROUP BY source),
         pair AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b,
           CAST(sa.n_grams AS BIGINT) AS grams_a,
           CAST(sb.n_grams AS BIGINT) AS grams_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST((10000 * n_shared) // least(sa.n_grams, sb.n_grams) AS BIGINT)
             AS containment_bp,
           CAST((10000 * n_shared)
                // (sa.n_grams + sb.n_grams - n_shared) AS BIGINT)
             AS jaccard_bp
    FROM pair
    JOIN sz sa ON sa.source = source_a
    JOIN sz sb ON sb.source = source_b
    ORDER BY source_a, source_b
"""


@register("q441_source_overlap_matrix", _DUCK_OVERLAP)
def q441_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix (the 'corpus contamination
    between datasets' analysis of WIMBD §4.4, Elazar et al., ICLR 2024
    — before mixing sources into a pretraining run, measure how much
    of each is already inside the others): per source the DISTINCT
    3-gram vocabulary, then for every source pair the shared-gram
    count, containment (shared / smaller vocabulary) and Jaccard, in
    exact integer basis points. High containment with low Jaccard
    says one source is nearly a subset of the other — the mixture
    designer's cue to drop or downweight it (q164/q435 feed from
    this).

    100 TB shape: the distinct (source, gram) incidence list is one
    shuffle (map-side combine collapses within-source repeats); the
    pair counts come from grouping the incidence list BY GRAM and
    emitting each gram's source-pair combinations (<= |sources|^2 per
    gram, tiny) — never a corpus x corpus join; the matrix itself is
    |sources|^2 rows."""
    t = load_documents(spark, sf_dir).select("source", tokenize(F.col("text")).alias("toks"))
    idx = F.when(
        F.size("toks") >= _OVL_N,
        F.sequence(F.lit(1), F.size("toks") - (_OVL_N - 1)),
    ).otherwise(F.array().cast("array<int>"))
    g = materialize(
        t.select(
            "source",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ",
                        F.col("toks")[i - 1],
                        F.col("toks")[i],
                        F.col("toks")[i + 1],
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
        # incidence list feeds sizes AND pair counts
    )
    sz = g.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    pair = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pair.join(
            F.broadcast(
                sz.select(
                    F.col("source").alias("source_a"),
                    F.col("n_grams").alias("grams_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sz.select(
                    F.col("source").alias("source_b"),
                    F.col("n_grams").alias("grams_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("grams_a").cast("bigint").alias("grams_a"),
            F.col("grams_b").cast("bigint").alias("grams_b"),
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.expr("(10000 * n_shared) div least(grams_a, grams_b)")
            .cast("bigint")
            .alias("containment_bp"),
            F.expr("(10000 * n_shared) div (grams_a + grams_b - n_shared)")
            .cast("bigint")
            .alias("jaccard_bp"),
        )
        .orderBy("source_a", "source_b")
    )


# --- round-11 wave 2: q448 domain affinity matrix ----------------------------

_DUCK_AFFINITY = f"""
    WITH d AS (SELECT source, {DUCK_TOKENIZE} AS toks FROM documents),
         bg AS (
      SELECT source, toks[i] AS head, toks[i + 1] AS nxt
      FROM d CROSS JOIN unnest(generate_series(1, len(toks) - 1)) AS t(i)),
         tr_bg AS (
      SELECT source AS s, head, nxt, count(*) AS c_hn
      FROM bg GROUP BY source, head, nxt),
         tr_h AS (SELECT s, head, sum(c_hn) AS c_h FROM tr_bg GROUP BY s, head),
         tr_v AS (
      SELECT source AS s, count(DISTINCT term) AS v
      FROM (SELECT source, unnest(toks) AS term FROM d) GROUP BY source),
         ev AS (
      SELECT source AS e, head, nxt, count(*) AS m
      FROM bg GROUP BY source, head, nxt),
         pair AS (
      SELECT ev.e, tr_v.s, ev.head, ev.nxt, ev.m,
             coalesce(tb.c_hn, 0) AS c_hn,
             coalesce(th.c_h, 0) AS c_h,
             tr_v.v AS v
      FROM ev CROSS JOIN tr_v
      LEFT JOIN tr_bg tb ON tb.s = tr_v.s AND tb.head = ev.head
                         AND tb.nxt = ev.nxt
      LEFT JOIN tr_h th ON th.s = tr_v.s AND th.head = ev.head),
         term AS (
      SELECT e, s, m,
             CAST(round(-1000000 * ln((c_hn + 1.0) / (c_h + v)))
                  AS BIGINT) AS t_micro
      FROM pair)
    SELECT s AS train_source, e AS eval_source,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           CAST(sum(m * t_micro) // (1000 * sum(m)) AS BIGINT)
             AS xent_milli_nats
    FROM term GROUP BY s, e ORDER BY train_source, eval_source
"""


@register("q448_domain_affinity_matrix", _DUCK_AFFINITY)
def q448_domain_affinity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain affinity matrix — cross-entropy of every source under
    every OTHER source's bigram LM (the data-selection affinity signal
    behind DoGE/DoReMi-style mixture optimization and Moore-Lewis
    selection generalized to a matrix: low H(e|s) means source s's
    model explains source e's text, so they share a domain): train an
    add-one bigram LM per source (q160's estimator, per-source), then
    score every source's bigram stream under every model. The diagonal
    is each source's self-entropy (its intrinsic predictability —
    q155's signal); off-diagonal asymmetries say which sources
    subsume which.

    Determinism: per-bigram surprisals are ln of exact integer ratios
    (the q187 libm contract), quantized to integer micro-nats BEFORE
    the occurrence-weighted sum; the final per-cell mean is a
    truncating integer division at milli scale.

    100 TB shape: ONE bigram census keyed (source, head, nxt) serves
    as both the per-source training counts and the eval streams; the
    scoring join is eval-census x |sources| (a bounded fan-out of the
    CENSUS, never of the corpus) joined back on (source, head, nxt) /
    (source, head) keys. The matrix is |sources|^2 rows."""
    d = load_documents(spark, sf_dir).select(
        "source", tokenize(F.col("text")).alias("toks")
    )
    bg = d.select(
        "source",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda h, n: F.struct(h.alias("head"), n.alias("nxt")),
            )
        ).alias("b"),
    ).select("source", "b.head", "b.nxt")
    census = materialize(
        bg.groupBy("source", "head", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        # one corpus pass serves train AND eval sides
    )
    tr_bg = census.select(
        F.col("source").alias("s"), "head", "nxt", F.col("c").alias("c_hn")
    )
    tr_h = tr_bg.groupBy("s", "head").agg(F.sum("c_hn").alias("c_h"))
    tr_v = (
        d.select("source", F.explode("toks").alias("term"))
        .groupBy("source")
        .agg(F.countDistinct("term").alias("v"))
        .select(F.col("source").alias("s"), "v")
    )
    ev = census.select(
        F.col("source").alias("e"), "head", "nxt", F.col("c").alias("m")
    )
    pair = (
        ev.crossJoin(F.broadcast(tr_v))
        .join(tr_bg, ["s", "head", "nxt"], "left")
        .join(tr_h, ["s", "head"], "left")
        .select(
            "e",
            "s",
            "m",
            F.round(
                -1000000.0
                * F.log(
                    (F.coalesce(F.col("c_hn"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("c_h"), F.lit(0)) + F.col("v"))
                )
            )
            .cast("bigint")
            .alias("t_micro"),
        )
    )
    return (
        pair.groupBy(
            F.col("s").alias("train_source"), F.col("e").alias("eval_source")
        )
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.expr("sum(m * t_micro) div (1000 * sum(m))")
            .cast("bigint")
            .alias("xent_milli_nats"),
        )
        .orderBy("train_source", "eval_source")
    )


# --- round-11 wave 3: q455 deleted-interpolation EM step -----------------------

_DUCK_JM = f"""
    WITH d AS (
      SELECT doc_id, source,
             {DUCK_TOKENIZE} AS toks
      FROM documents),
         trb AS (
      SELECT toks[i] AS h, toks[i+1] AS nxt, count(*) AS c2
      FROM d, unnest(generate_series(1, len(toks) - 1)) AS g(i)
      WHERE (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 2) = 0
      GROUP BY 1, 2),
         trh AS (SELECT h, sum(c2) AS c1h FROM trb GROUP BY h),
         tru AS (
      SELECT t.term, count(*) AS c1
      FROM d, unnest(toks) AS t(term)
      WHERE (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 2) = 0
      GROUP BY 1),
         sc AS (SELECT sum(c1) AS n, count(*) AS v FROM tru),
         ho AS (
      SELECT source, toks[i] AS h, toks[i+1] AS nxt, count(*) AS m
      FROM d, unnest(generate_series(1, len(toks) - 1)) AS g(i)
      WHERE (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 2) = 1
      GROUP BY 1, 2, 3),
         r AS (
      SELECT ho.source, ho.m,
             CASE WHEN coalesce(trb.c2, 0) > 0 THEN 1 ELSE 0 END AS seen,
             CAST((1000000000 * (3 * CAST(coalesce(trb.c2, 0) AS HUGEINT)
                                   * (sc.n + sc.v)))
                  // (3 * CAST(coalesce(trb.c2, 0) AS HUGEINT) * (sc.n + sc.v)
                      + CAST(coalesce(tru.c1, 0) + 1 AS HUGEINT)
                        * coalesce(trh.c1h, 1)) AS BIGINT) AS resp_e9
      FROM ho
      LEFT JOIN trb ON ho.h = trb.h AND ho.nxt = trb.nxt
      LEFT JOIN trh ON ho.h = trh.h
      LEFT JOIN tru ON ho.nxt = tru.term
      CROSS JOIN sc)
    SELECT source,
           CAST(sum(m) AS BIGINT) AS n_positions,
           CAST((10000 * sum(m * seen)) // sum(m) AS BIGINT) AS seen_bigram_bp,
           CAST(750 AS BIGINT) AS lambda0_milli,
           CAST(sum(CAST(m AS HUGEINT) * resp_e9)
                // (sum(m) * 1000000) AS BIGINT) AS lambda1_milli
    FROM r
    GROUP BY source
    ORDER BY source
"""


@register("q455_deleted_interpolation", _DUCK_JM)
def q455_deleted_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deleted-interpolation / Jelinek-Mercer EM step (Jelinek & Mercer
    1980; the classical way to fit the bigram-vs-unigram mixing weight
    every interpolated LM needs, including q338's smoothing family):
    train MLE bigram + add-one unigram models on the EVEN doc_ids,
    then run one EM E-step on the ODD held-out stream — each position's
    responsibility lambda*p_bi / (lambda*p_bi + (1-lambda)*p_uni) at
    lambda0 = 3/4 — and report the M-step's new lambda per source.
    Sources whose held-out bigrams the training half already covers
    pull lambda up; novel-bigram sources pull it down.

    Determinism: with p_bi = a/b and p_uni = c/d exact integer count
    ratios, the responsibility at lambda = 3/4 is EXACTLY
    3ad / (3ad + cb) — the whole EM step is integer arithmetic
    (HUGEINT/decimal(38,0) products, the q397 overflow contract;
    quantized to e9 per POSITION-CLASS before the weighted sum). No
    libm call in either engine.

    100 TB shape: one (h, nxt) train census + one (source, h, nxt)
    held-out census (both map-side-combinable); scoring is census x
    census equi-joins on (h, nxt) / (h) / (nxt) keys — the q448
    pattern: fan-out of the CENSUS, never of the corpus; scalars
    (N, V) broadcast from a 1-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", tokenize(F.col("text")).alias("toks"))
    bg = d.select(
        "doc_id",
        "source",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda h, n: F.struct(h.alias("h"), n.alias("nxt")),
            )
        ).alias("b"),
    ).select("doc_id", "source", "b.h", "b.nxt")
    trb = (
        bg.filter(F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2") == 0)
        .groupBy("h", "nxt")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    trh = trb.groupBy("h").agg(F.sum("c2").alias("c1h"))
    tru = (
        d.filter(F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2") == 0)
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    sc = tru.agg(F.sum("c1").alias("n"), F.count(F.lit(1)).alias("v"))
    ho = (
        bg.filter(F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2") == 1)
        .groupBy("source", "h", "nxt")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    r = (
        ho.join(trb, ["h", "nxt"], "left")
        .join(trh, "h", "left")
        .join(tru, ho["nxt"] == tru["term"], "left")
        .crossJoin(F.broadcast(sc))
        .select(
            "source",
            "m",
            F.when(F.coalesce(F.col("c2"), F.lit(0)) > 0, 1)
            .otherwise(0)
            .alias("seen"),
            F.expr(
                "CAST((1000000000 *"
                " (3 * CAST(coalesce(c2, 0) AS DECIMAL(38,0)) * (n + v)))"
                " div (3 * CAST(coalesce(c2, 0) AS DECIMAL(38,0)) * (n + v)"
                "      + CAST(coalesce(c1, 0) + 1 AS DECIMAL(38,0))"
                "        * coalesce(c1h, 1)) AS BIGINT)"
            ).alias("resp_e9"),
        )
    )
    return (
        r.groupBy("source")
        .agg(
            F.sum("m").cast("bigint").alias("n_positions"),
            F.expr("(10000 * sum(m * seen)) div sum(m)")
            .cast("bigint")
            .alias("seen_bigram_bp"),
            F.lit(750).cast("bigint").alias("lambda0_milli"),
            F.expr(
                "CAST(sum(CAST(m AS DECIMAL(38,0)) * resp_e9)"
                " div (sum(m) * 1000000) AS BIGINT)"
            ).alias("lambda1_milli"),
        )
        .orderBy("source")
    )
