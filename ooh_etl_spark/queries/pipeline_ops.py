"""Fifth coverage wave: pipeline utility operators a 100 TB
training-data build needs around the core engine — a pure-SQL-text
entry point, time-series gap fill, deterministic hash-based dataset
splitting, fuzzy (edit-distance) matching, PII redaction, and
quantile binning.

None of these exist in the reference (single XML file, no second
input, no time axis — SURVEY.md §2.A); they extend §2.B's mandate
("operations a large-scale training-data pipeline would need")."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import DUCK_TOKENIZE, tokenize
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents, load_table

# One SQL text, two engines: ANSI-only subset (no engine-specific
# functions), so the SAME string is the Spark query and the oracle.
# The cents sum is CAST to DOUBLE before dividing: Spark SQL treats
# 100.0 as DECIMAL (bigint/decimal → decimal), DuckDB as DOUBLE.
_Q67_SQL = """
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


@register("q67_sql_api", _Q67_SQL)
def q67_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-text surface: register the tables as temp views
    and hand the EXACT oracle string to ``spark.sql`` — proving users
    can drive the engine with plain ANSI SQL and get the DataFrame
    plan (same Catalyst optimization: broadcasted dims, partial aggs)
    with zero Python expression code."""
    for name in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q67_SQL)


@register(
    "q68_gap_fill",
    """
    WITH b AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS n
      FROM events WHERE event_type = 'error' GROUP BY 1),
         span AS (
      SELECT unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
      FROM b)
    SELECT strftime(span.h, '%Y-%m-%d %H:00') AS hour,
           coalesce(b.n, 0) AS n_errors
    FROM span LEFT JOIN b ON span.h = b.h
    ORDER BY hour
    """,
)
def q68_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: hourly error counts with missing hours
    materialized as zero rows. The dense hour spine comes from
    ``sequence(min, max, interval 1 hour)`` exploded on the DRIVERLESS
    path — a 2-row aggregate (min/max) feeds the generator, so the
    spine costs one tiny stage regardless of fact size, then
    left-joins the (already aggregated, small) hourly counts. At
    100 TB the counts side stays a per-hour aggregate — the spine
    never multiplies the fact."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    counts = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    span = counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi")).select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    return (
        span.join(F.broadcast(counts), "h", "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_errors"),
        )
        .orderBy("hour")
    )


@register(
    "q69_hash_split",
    """
    WITH tagged AS (
      SELECT CASE WHEN (doc_id * 2654435761) % 4294967296 < 3435973837
                  THEN 'train' ELSE 'test' END AS split,
             n_chars
      FROM documents)
    SELECT split, count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def q69_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split (~80/20) via Knuth multiplicative
    hashing on the document id — pure BIGINT arithmetic, so the split
    is reproducible across engines, runs, partitionings, AND cluster
    sizes (unlike ``randomSplit``, whose assignment depends on
    partition layout). The 100 TB pattern for dataset splitting: a
    narrow per-row expression, no shuffle until the audit aggregate.
    Threshold 3435973837 = floor(0.8 * 2^32)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    return (
        docs.withColumn(
            "split",
            F.when(bucket < F.lit(3435973837), F.lit("train")).otherwise(
                F.lit("test")
            ),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("split")
    )


@register(
    "q70_fuzzy_match",
    """
    WITH probes AS (
      SELECT * FROM (VALUES ('red widgett'), ('blu bolt'), ('small rng'),
                            ('green gadget'), ('nosuchpart')) AS t(probe))
    SELECT probe, p_name, levenshtein(probe, p_name) AS dist
    FROM probes JOIN part ON levenshtein(probe, p_name) <= 2
    GROUP BY probe, p_name
    ORDER BY probe, p_name
    """,
)
def q70_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) dimension matching: resolve misspelled
    part names against the catalog with a levenshtein band join. The
    tiny probe side broadcasts, so the theta-join is a broadcast
    nested loop over it — fine when one side is small; at scale the
    same probe set stays broadcastable because fuzzy lookup lists are
    dimension-sized by nature. Distinct (probe, p_name) output since
    the catalog repeats names across part ids."""
    part = load_table(spark, sf_dir, "part")
    probes = spark.createDataFrame(
        [("red widgett",), ("blu bolt",), ("small rng",),
         ("green gadget",), ("nosuchpart",)],
        ["probe"],
    )
    dist = F.levenshtein(F.col("probe"), F.col("p_name"))
    return (
        part.join(F.broadcast(probes), dist <= 2)
        .groupBy("probe", "p_name")
        .agg(F.levenshtein(F.col("probe"), F.col("p_name")).alias("dist"))
        .orderBy("probe", "p_name")
    )


_EMAIL_RE = r"[\w.+-]+@[\w-]+(\.[\w-]+)+"
_PHONE_RE = r"\+?\d[\d-]{7,}"


@register(
    "q71_pii_redaction",
    rf"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@mail.example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-99' AS raw
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS clean,
           len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails
    FROM synth
    """,
)
def q71_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training text: email and phone patterns
    replaced with typed placeholders, plus a per-doc match count for
    audit. PII is synthesized onto the fixture text deterministically
    (the corpus itself is clean words) so the redaction provably
    fires. Patterns are RE2-safe (no lookarounds) so one regex serves
    both engines. Narrow per-row expressions — shuffle-free."""
    docs = load_documents(spark, sf_dir)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("-99"),
    )
    synth = docs.select("doc_id", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return synth.select(
        "doc_id",
        clean.alias("clean"),
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
    )


@register(
    "q72_price_quartiles",
    """
    WITH q AS (
      SELECT o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders)
    SELECT quartile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM q GROUP BY quartile ORDER BY quartile
    """,
)
def q72_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile binning via ntile: equal-population price bands with
    their boundaries. A global ORDER BY window is the one legitimately
    single-partition operator in the engine (rank over totality); at
    100 TB the same output comes from approx_percentile boundaries +
    width_bucket instead — this exact form is for modest dimensions.
    Tie-broken on the key so bin assignment is deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("quartile")
    )


@register(
    "q214_luhn_check_digits",
    """
    WITH acct AS (
      SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS h
      FROM customer),
         luhn AS (
      SELECT c_custkey,
             (SELECT sum(CASE
                WHEN (16 - i) % 2 = 1 THEN
                  CASE WHEN 2 * (ascii(substr(h, i, 1)) % 10) > 9
                       THEN 2 * (ascii(substr(h, i, 1)) % 10) - 9
                       ELSE 2 * (ascii(substr(h, i, 1)) % 10) END
                ELSE ascii(substr(h, i, 1)) % 10 END)
              FROM generate_series(1, 15) AS g(i)) AS s
      FROM acct),
         digits AS (
      SELECT c_custkey, CAST((10 - (s % 10)) % 10 AS BIGINT) AS check_digit
      FROM luhn)
    SELECT check_digit,
           count(*) AS n_accounts,
           CAST(min(c_custkey) AS BIGINT) AS example_custkey
    FROM digits
    GROUP BY check_digit
    ORDER BY check_digit
    """,
)
def q214_luhn_check_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 checksum (ISO/IEC 7812 — the card/IMEI/account-
    number check digit) computed for a deterministic 15-digit account
    number derived per customer (digits = ascii(md5 hex char) mod 10,
    reproducible on both engines): double every second digit from the
    right, fold the digit sum, and emit the check digit that makes the
    full 16-digit number Luhn-valid. The production uses are synthetic
    test-data generation (valid-by-construction PANs) and ingest
    validation (q71's PII scanner flagging only checksum-valid
    candidates cuts false positives enormously).

    Shape: pure per-row whole-stage-codegen arithmetic — a 15-term
    in-row fold (``F.aggregate`` over ``sequence(1,15)``, the q30
    ordered-fold construct) with zero extra shuffles beyond the final
    10-key distribution aggregate. Engine-exact because every term is
    integer arithmetic on ascii codes of the SAME md5 hex string.
    """
    cust = load_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    s = F.aggregate(
        F.sequence(F.lit(1), F.lit(15)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            (16 - i) % 2 == 1,
            F.when(
                2 * (F.ascii(F.substr(h, i, F.lit(1))) % 10) > 9,
                2 * (F.ascii(F.substr(h, i, F.lit(1))) % 10) - 9,
            ).otherwise(2 * (F.ascii(F.substr(h, i, F.lit(1))) % 10)),
        ).otherwise(F.ascii(F.substr(h, i, F.lit(1))) % 10),
    )
    digits = cust.select(
        "c_custkey",
        ((10 - (s % 10)) % 10).cast("bigint").alias("check_digit"),
    )
    return (
        digits.groupBy("check_digit")
        .agg(
            F.count(F.lit(1)).alias("n_accounts"),
            F.min("c_custkey").cast("bigint").alias("example_custkey"),
        )
        .orderBy("check_digit")
    )


@register(
    "q223_pseudonymized_join",
    """
    WITH c AS (
      SELECT sha256('pepper-v1:' || CAST(c_custkey AS VARCHAR)) AS tok,
             c_nationkey
      FROM customer),
         o AS (
      SELECT sha256('pepper-v1:' || CAST(o_custkey AS VARCHAR)) AS tok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders),
         j AS (
      SELECT c.c_nationkey, o.price_c, c.tok
      FROM o JOIN c ON o.tok = c.tok)
    SELECT n.n_name AS nation,
           count(*) AS n_orders,
           CAST(sum(j.price_c) AS BIGINT) AS revenue_c,
           min(j.tok) AS sample_token
    FROM j JOIN nation n ON n.n_nationkey = j.c_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q223_pseudonymized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymized analytics join — the governance pattern behind
    GDPR-safe data sharing: raw customer keys never leave their
    source; both sides tokenize with the SAME peppered hash
    (sha256('pepper-v1:' || key) — deterministic so the join still
    works, peppered so tokens can't be reversed by brute-forcing the
    key space), and revenue-per-nation aggregates entirely over
    tokens. Complements q71 (redaction) and q142 (k-anonymity):
    this is the linkage-WITHOUT-identifiers piece.

    The ``sample_token`` column forces both engines through the exact
    same hash bytes (hex string equality), so the oracle verifies the
    tokenization itself, not just the join topology. Shape: identical
    to the plain key join — the token is computed in the scan
    projection (narrow), the join shuffles on the token exactly as it
    would on the key (same row counts, same skew profile), and money
    stays in integer cents. Pepper rotation = one literal change.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.sha2(F.concat(F.lit("pepper-v1:"), F.col("c_custkey").cast("string")), 256)
        .alias("tok"),
        "c_nationkey",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.sha2(F.concat(F.lit("pepper-v1:"), F.col("o_custkey").cast("string")), 256)
        .alias("tok"),
        quantise("o_totalprice", 2).alias("price_c"),
    )
    nat = load_table(spark, sf_dir, "nation")
    j = orders.join(cust, "tok")
    return (
        j.join(F.broadcast(nat), j.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_c").cast("bigint").alias("revenue_c"),
            F.min("tok").alias("sample_token"),
        )
        .orderBy("nation")
    )


# --- q383: weighted sampling without replacement (round 6) ------------------
_ES_K = 50  # sample size

_DUCK_ES_SAMPLE = f"""
    WITH keyed AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             -- Knuth-hash uniform in (0,1): engine-portable (q69)
             (((o_orderkey * 2654435761) % 4294967296) + 0.5) / 4294967296.0
               AS u
      FROM orders),
         scored AS (
      SELECT o_orderkey, price_c,
             -ln(u) / price_c AS e
      FROM keyed),
         top AS (
      SELECT o_orderkey, price_c, e,
             row_number() OVER (ORDER BY e, o_orderkey) AS rk
      FROM scored QUALIFY rk <= {_ES_K})
    SELECT CAST(rk AS BIGINT) AS rank, o_orderkey, price_c,
           CAST(round(1000000000.0 * e) AS BIGINT) AS key_e9
    FROM top ORDER BY rank
"""


@register("q383_priority_sample", _DUCK_ES_SAMPLE)
def q383_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential races
    (Efraimidis & Spirakis, IPL 2006): each order draws
    e_i = -ln(u_i) / w_i and the k smallest keys ARE a
    probability-proportional-to-size sample without replacement —
    the one-pass distributed answer to 'give me 50 orders, big
    spenders more likely, no duplicates', where q138's with-replacement
    sampler can repeat rows. u_i comes from the q69 Knuth-hash uniform,
    so the sample is REPRODUCIBLE across engines, runs, and cluster
    sizes (randomSplit/rand() are partition-layout-dependent — the
    production bug this construction exists to kill).

    Exactness: u is a rational of the integer hash; both engines
    evaluate -ln(u)/w on identical doubles; selection orders raw
    doubles with a key tiebreak, and the reported key quantizes to
    nano only for display.

    100 TB shape: a narrow per-row expression then ONE map-side top-k
    (TakeOrderedAndProject) — no shuffle of anything but k rows per
    partition; the fully-distributed form of reservoir sampling."""
    orders = load_table(spark, sf_dir, "orders")
    u = (
        ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296)) + 0.5
    ) / 4294967296.0
    scored = orders.select(
        "o_orderkey",
        quantise("o_totalprice", 2).alias("price_c"),
        (-F.log(u) / (quantise("o_totalprice", 2))).alias("e"),
    )
    w = Window.orderBy("e", "o_orderkey")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ES_K)
        .select(
            F.col("rk").cast("bigint").alias("rank"),
            "o_orderkey",
            "price_c",
            quantise("e", 9).alias("key_e9"),
        )
        .orderBy("rank")
    )


# --- round-10 wave: q433 DSIR importance weights ------------------------

_DSIR_B = 1024  # hashed feature buckets
_DSIR_TARGET = ("src1", "src2", "src3")  # curated-proxy target slice
_DSIR_TOP = 20

_DUCK_DSIR = f"""
    WITH d AS (
      SELECT doc_id, source, {DUCK_TOKENIZE} AS toks FROM documents),
         g AS (
      SELECT doc_id, source,
             unnest(CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i + 1])
                    ELSE [] END) AS bg
      FROM d),
         b AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(bg), 1, 8)) AS BIGINT)
               % {_DSIR_B} AS bucket
      FROM g),
         dbc AS (
      SELECT doc_id, source, bucket, count(*) AS cnt
      FROM b GROUP BY 1, 2, 3),
         stats AS (
      SELECT bucket,
             sum(cnt) AS c_all,
             sum(CASE WHEN source IN ('src1', 'src2', 'src3')
                      THEN cnt ELSE 0 END) AS c_tgt
      FROM dbc GROUP BY bucket),
         tot AS (
      SELECT sum(c_all) AS n_all, sum(c_tgt) AS n_tgt FROM stats),
         w AS (
      SELECT bucket,
             CAST(round(1000000 * ln(
               ((c_tgt + 1.0) / (n_tgt + {_DSIR_B}))
               / ((c_all + 1.0) / (n_all + {_DSIR_B})))) AS BIGINT)
               AS term_micro
      FROM stats CROSS JOIN tot)
    SELECT doc_id, source,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           CAST(sum(cnt * term_micro) AS BIGINT) AS logratio_micro
    FROM dbc JOIN w USING (bucket)
    GROUP BY doc_id, source
    ORDER BY logratio_micro DESC, doc_id
    LIMIT {_DSIR_TOP}
"""


@register("q433_dsir_importance", _DUCK_DSIR)
def q433_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023 "Data
    Selection for Language Models via Importance Resampling"): score
    every raw document by how target-like its hashed n-gram profile
    is — log p_target(features)/p_raw(features) under bag-of-hashed-
    bigram unigram models — and take the top slice. The target here
    is the curated-proxy source set {src1,src2,src3}; features are
    bigrams hashed into 1024 buckets (the md5-prefix idiom, engine-
    identical); both bucket models are add-one smoothed.

    Exactness: per-bucket log-ratio terms are quantized to integer
    MICRO-NATS before any cross-row sum (the q347 pre-sum contract),
    so each document's score is an exact integer dot product
    cnt·term_micro and the top-20 cut (score DESC, doc_id) is a total
    order — engine-identical through ties.

    100 TB shape: ONE corpus explode reduced immediately to
    (doc, bucket, cnt); the 1024-row bucket-model table aggregates
    from that reduced frame and BROADCASTS back onto it; the per-doc
    score is one keyed sum. No stage is wider than the (doc x
    distinct-bucket) table — the estimator's whole point is that
    corpus selection runs at hashed-feature, not vocabulary, width.

    Bigrams come from one posexplode of the token array, kept only
    where ``i < size(toks) - 1`` so a position pairs with a successor:
    0- and 1-token docs yield no bigram rather than a bogus one."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    d = docs.select("doc_id", "source", toks.alias("toks"))
    # r14 opt (guide §4.1, the r13 jaccard_pairs lesson): the bigram
    # stream previously materialized a per-doc array via a
    # transform(sequence(...)) higher-order function — HOF lambdas are
    # CodegenFallback, so every bigram paid interpreted dispatch and
    # each doc built its full bigram array as one row value before the
    # explode. One posexplode Generate + a plain element_at keeps the
    # whole expansion inside WholeStageCodegen and streams bigrams out
    # of the Generate. posexplode_outer's 0-based i pairs (i, i+1) —
    # the same multiset as the old 1-based (i-1, i); 0/1-token docs
    # drop on the same null/size guards as before.
    dbc = materialize(
        d.select(
            "doc_id",
            "source",
            "toks",
            F.posexplode_outer("toks").alias("i", "t"),
        )
        .filter(
            F.col("t").isNotNull() & (F.col("i") < F.size("toks") - 1)
        )
        .select(
            "doc_id",
            "source",
            F.concat(
                F.col("t"), F.lit(" "), F.element_at("toks", F.col("i") + 2)
            ).alias("bg"),
        )
        .filter(F.col("bg").isNotNull())
        .select(
            "doc_id",
            "source",
            (
                F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint")
                % _DSIR_B
            ).alias("bucket"),
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # feeds the bucket models AND the scorer
    )
    stats = dbc.groupBy("bucket").agg(
        F.sum("cnt").alias("c_all"),
        F.sum(
            F.when(F.col("source").isin(*_DSIR_TARGET), F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("c_tgt"),
    )
    tot = stats.agg(
        F.sum("c_all").alias("n_all"), F.sum("c_tgt").alias("n_tgt")
    )
    w = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        quantise(
            F.log(
              ((F.col("c_tgt") + 1.0) / (F.col("n_tgt") + _DSIR_B))
              / ((F.col("c_all") + 1.0) / (F.col("n_all") + _DSIR_B))
          ),
            6,
        )
        .alias("term_micro"),
    )
    return (
        dbc.join(F.broadcast(w), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("term_micro"))
            .cast("bigint")
            .alias("logratio_micro"),
        )
        .orderBy(F.desc("logratio_micro"), "doc_id")
        .limit(_DSIR_TOP)
    )


# --- round-10 wave: q435 data-constrained epoch allocation ---------------

_EPOCH_CAP_MILLI = 4000  # max 4 epochs (Muennighoff et al. 2023, fig. 3)
_BUDGET_X_MILLI = 2500  # token budget = 2.5x the corpus

_DUCK_EPOCHS = f"""
    WITH t AS (
      SELECT source, len({DUCK_TOKENIZE}) AS n FROM documents),
         s AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS tokens FROM t GROUP BY 1),
         tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS corpus,
             count(*) AS n_src FROM s),
         alloc AS (
      SELECT source, tokens,
             (corpus * {_BUDGET_X_MILLI} // 1000) // n_src AS target_alloc,
             least({_EPOCH_CAP_MILLI},
                   (1000 * ((corpus * {_BUDGET_X_MILLI} // 1000) // n_src))
                     // tokens) AS epochs_milli
      FROM s CROSS JOIN tot)
    SELECT source, tokens,
           CAST(target_alloc AS BIGINT) AS target_alloc,
           CAST(epochs_milli AS BIGINT) AS epochs_milli,
           CAST(tokens * epochs_milli // 1000 AS BIGINT) AS served_tokens,
           CAST(target_alloc - tokens * epochs_milli // 1000 AS BIGINT)
             AS unfilled_tokens
    FROM alloc
    ORDER BY source
"""


@register("q435_token_budget_epochs", _DUCK_EPOCHS)
def q435_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained mixture allocation (Muennighoff et al.,
    NeurIPS 2023 "Scaling Data-Constrained Language Models"): given a
    token budget of 2.5x the corpus and a uniform per-source target,
    each source serves min(4, target/tokens) epochs — the paper's
    finding that up to ~4 repeats substitute for fresh data at almost
    no loss penalty, beyond which extra epochs are wasted. Reports
    per-source epochs (milli), tokens actually served, and the
    unfilled remainder the mixture must source elsewhere.

    Exactness: all arithmetic is INTEGER division on exact token
    counts (milli-epoch fixed point; SQL ``//`` = Spark ``div``) —
    float division here would hit the cast-rounding divergence
    (DuckDB rounds double->bigint, Spark truncates).

    100 TB shape: identical to q164 — one map-side-combined per-source
    token census, a 2-value broadcast total, and the allocation math
    runs on the |sources|-row table."""
    docs = load_table(spark, sf_dir, "documents")
    s = materialize(
        docs.select("source", F.size(tokenize(F.col("text"))).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("bigint").alias("tokens"))
        # |sources| rows; feeds the total AND the alloc
    )
    tot = s.agg(
        F.sum("tokens").cast("bigint").alias("corpus"),
        F.count(F.lit(1)).alias("n_src"),
    )
    target = F.expr(f"(corpus * {_BUDGET_X_MILLI} div 1000) div n_src")
    a = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        target.cast("bigint").alias("target_alloc"),
        F.least(
            F.lit(_EPOCH_CAP_MILLI).cast("bigint"),
            F.expr(
                f"(1000 * ((corpus * {_BUDGET_X_MILLI} div 1000) div n_src))"
                " div tokens"
            ),
        )
        .cast("bigint")
        .alias("epochs_milli"),
    )
    served = F.expr("(tokens * epochs_milli) div 1000").cast("bigint")
    return a.select(
        "source",
        "tokens",
        "target_alloc",
        "epochs_milli",
        served.alias("served_tokens"),
        (F.col("target_alloc") - served).cast("bigint").alias("unfilled_tokens"),
    ).orderBy("source")


# --- round-11 wave: q445 sequence-packing efficiency -------------------------

_PACK_L = 128  # context length in tokens (fixture docs are short)

_DUCK_PACKING = f"""
    WITH t AS (
      SELECT doc_id, source,
             len({DUCK_TOKENIZE}) AS n
      FROM documents),
         o AS (
      SELECT doc_id, source, n,
             coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS off
      FROM t),
         f AS (
      SELECT source, n,
             ((n + {_PACK_L} - 1) // {_PACK_L}) * {_PACK_L} - n AS pad_waste,
             CASE WHEN (off % {_PACK_L}) + n > {_PACK_L} THEN 1 ELSE 0 END
               AS fragmented
      FROM o)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(pad_waste) AS BIGINT) AS pad_waste_tokens,
           CAST((10000 * sum(pad_waste))
                // (sum(n) + sum(pad_waste)) AS BIGINT) AS pad_waste_bp,
           CAST(sum(fragmented) AS BIGINT) AS n_fragmented_docs,
           CAST((sum(n) + {_PACK_L} - 1) // {_PACK_L} AS BIGINT) AS n_chunks
    FROM f GROUP BY source ORDER BY source
"""


@register("q445_packing_efficiency", _DUCK_PACKING)
def q445_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency census — the padding-vs-
    fragmentation accounting every pretraining data loader does when
    fitting documents into fixed {_PACK_L}-token contexts (the
    'pack vs pad' trade studied in Krell et al. 2021, 'Efficient
    Sequence Packing without Cross-contamination', and revisited by
    every LLM data report since GPT-3's 'we pack documents'): per
    source, (a) the token waste of PAD-TO-BOUNDARY (each doc rounded
    up to a multiple of L) in exact tokens and basis points, and (b)
    under CONCAT-AND-CHUNK (zero padding), how many docs get split
    across a context boundary (cross-contamination sites) given the
    deterministic doc_id packing order, plus the resulting chunk
    count. The two policies bracket the design space; the census says
    what each costs on THIS corpus.

    Exactness: everything is integer arithmetic on token counts; the
    running offset is an integer window sum.

    100 TB shape: one length projection in the scan stage, one
    per-SOURCE window (keyed exchange — never global: the packing
    order is defined within a source shard, matching how loaders
    shard by source), one census aggregate. At a real corpus the
    per-source window would sub-shard (source, file) — same plan
    shape, more keys."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(tokenize(F.col("text"))).alias("n"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = t.select(
        "source",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("off"),
    )
    f = o.select(
        "source",
        "n",
        (
            ((F.col("n") + _PACK_L - 1) / _PACK_L).cast("bigint") * _PACK_L
            - F.col("n")
        ).alias("pad_waste"),
        F.when(
            (F.col("off") % _PACK_L) + F.col("n") > _PACK_L, 1
        )
        .otherwise(0)
        .alias("fragmented"),
    )
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum("pad_waste").cast("bigint").alias("pad_waste_tokens"),
            F.expr(
                "(10000 * sum(pad_waste)) div (sum(n) + sum(pad_waste))"
            )
            .cast("bigint")
            .alias("pad_waste_bp"),
            F.sum("fragmented").cast("bigint").alias("n_fragmented_docs"),
            F.expr(f"(sum(n) + {_PACK_L} - 1) div {_PACK_L}")
            .cast("bigint")
            .alias("n_chunks"),
        )
        .orderBy("source")
    )


# --- round-11 wave: q447 sampling-temperature mixture curve ------------------

_TAU_MILLI = (1000, 1430, 2000, 3330)  # tau=1 (natural) .. 3.33 (near-uniform)

_DUCK_TAU = f"""
    WITH t AS (
      SELECT source,
             sum(len({DUCK_TOKENIZE})) AS toks
      FROM documents GROUP BY source),
         tot AS (SELECT sum(toks) AS total FROM t),
         grid AS (SELECT unnest([{", ".join(str(x) for x in _TAU_MILLI)}]) AS tau_milli),
         w AS (
      SELECT tau_milli, source, toks, total,
             CAST(round(1000000000 * pow(1.0 * toks / total,
                                         1000.0 / tau_milli)) AS BIGINT) AS w_e9
      FROM t CROSS JOIN tot CROSS JOIN grid),
         sw AS (
      SELECT tau_milli, sum(w_e9) AS s FROM w GROUP BY tau_milli)
    SELECT w.tau_milli, w.source,
           CAST(w.toks AS BIGINT) AS n_tokens,
           CAST((10000 * w.w_e9) // sw.s AS BIGINT) AS weight_bp,
           CAST((1000 * CAST(w.w_e9 AS HUGEINT) * w.total)
                // (sw.s * w.toks) AS BIGINT) AS epochs_milli
    FROM w JOIN sw USING (tau_milli)
    ORDER BY tau_milli, source
"""


@register("q447_temperature_mixture_curve", _DUCK_TAU)
def q447_temperature_mixture_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-temperature mixture curve (the p_i^(1/tau) source
    reweighting of multilingual/multi-source pretraining — mT5's
    alpha sweep, Gopher Table A3, and the 'how hot do we sample the
    tail' knob behind q164's fixed-temperature design): for each
    temperature in a {len(_TAU_MILLI)}-point grid, the normalized
    source weights and the EFFECTIVE EPOCHS each source would see at
    a budget of one full corpus pass — the quantity that says which
    tau starts re-reading small sources often enough to memorize
    (Muennighoff 2023's 4-epoch cliff, q435's constraint).

    Determinism: shares are exact integer ratios; pow runs on
    identical doubles in both engines (the q187 libm contract);
    weights quantize to e9 integers BEFORE the per-tau normalization
    sum, so no cross-row float reduction exists; epochs use
    HUGEINT/decimal(38,0) intermediates (the q397 overflow contract).

    100 TB shape: ONE map-side-combinable token census (|sources|
    rows), a literal tau grid crossed in-memory, and |sources|-keyed
    integer arithmetic — the whole curve costs one corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(
            F.size(tokenize(F.col("text")))
        ).alias("toks")
    )
    tot = t.agg(F.sum("toks").alias("total"))
    grid = F.explode(
        F.array(*[F.lit(x) for x in _TAU_MILLI])
    ).alias("tau_milli")
    w = (
        t.crossJoin(F.broadcast(tot))
        .select("source", "toks", "total", grid)
        .select(
            "tau_milli",
            "source",
            "toks",
            "total",
            quantise(F.pow(1.0 * F.col("toks") / F.col("total"), 1000.0 / F.col("tau_milli"),), 9)
            .alias("w_e9"),
        )
    )
    sw = w.groupBy("tau_milli").agg(F.sum("w_e9").alias("s"))
    return (
        w.join(F.broadcast(sw), "tau_milli")
        .select(
            F.col("tau_milli").cast("int").alias("tau_milli"),
            "source",
            F.col("toks").cast("bigint").alias("n_tokens"),
            F.expr("(10000 * w_e9) div s").cast("bigint").alias("weight_bp"),
            F.expr(
                "CAST((1000 * CAST(w_e9 AS DECIMAL(38,0)) * total)"
                " div (CAST(s AS DECIMAL(38,0)) * toks) AS BIGINT)"
            ).alias("epochs_milli"),
        )
        .orderBy("tau_milli", "source")
    )


# --- round-11 wave 3: q453 DoReMi-style mixture reweighting step ---------------

_DUCK_DOREMI = f"""
    WITH st AS (
      SELECT source, t.term, count(*) AS m
      FROM documents,
           unnest({DUCK_TOKENIZE}) AS t(term)
      GROUP BY source, t.term),
         tk AS (
      SELECT term, sum(m) AS c, sum(sum(m)) OVER () AS n
      FROM st GROUP BY term),
         u AS (
      SELECT term, c, n,
             CAST(round(1000000 * ln((1.0 * n) / c)) AS BIGINT) AS u_micro
      FROM tk),
         src AS (
      SELECT st.source,
             CAST(sum(st.m) AS BIGINT) AS toks,
             CAST(sum(st.m * u.u_micro) // sum(st.m) AS BIGINT) AS xent_micro,
             CAST(sum(sum(st.m * u.u_micro)) OVER ()
                  // sum(sum(st.m)) OVER () AS BIGINT) AS corpus_micro
      FROM st JOIN u USING (term)
      GROUP BY st.source),
         w AS (
      SELECT source, toks, xent_micro,
             xent_micro - corpus_micro AS excess_micro,
             CAST(round(1000000000 * exp(
                 0.5 * (xent_micro - corpus_micro) / 1000000.0))
                  AS BIGINT) AS f_e9
      FROM src)
    SELECT source,
           toks AS n_tokens,
           xent_micro,
           excess_micro,
           CAST((10000 * toks) // sum(toks) OVER () AS BIGINT) AS w_old_bp,
           CAST((10000 * CAST(toks AS HUGEINT) * f_e9)
                // sum(CAST(toks AS HUGEINT) * f_e9) OVER () AS BIGINT)
               AS w_new_bp
    FROM w
    ORDER BY source
"""


@register("q453_doremi_mixture_step", _DUCK_DOREMI)
def q453_doremi_mixture_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style mixture reweighting step (Xie NeurIPS'23 domain
    reweighting with multiplicative weights; Moore-Lewis ACL'10
    supplies the excess-loss proxy): each source's EXCESS LOSS is its
    mean token surprisal under the POOLED unigram LM minus the corpus
    mean (sources whose text the corpus model explains poorly are
    up-weighted — they carry information the mixture under-serves),
    and one multiplicative-weights step reweights the token-mass
    prior: w' ∝ w * exp(eta * excess), eta = 0.5. Output: old and new
    mixture weights in bp per source — the single-step version of the
    DoReMi loop whose fixed point is the training mixture.

    Determinism: surprisals are ln of exact integer ratios quantized
    to integer micro-nats PRE-sum (the q187 libm contract); the exp
    factor runs on identical doubles built from the SAME integer
    excess (the q447 pow discipline), quantized to e9 before the
    normalization sum; weights use HUGEINT/decimal(38,0) products
    (the q397 overflow contract).

    100 TB shape: ONE (source, term) census serves both the pooled LM
    (term-keyed window over the vocab-bounded census — the q432
    marginal pattern) and the per-source scoring sum; everything
    after is |sources|-row integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    tk = st.groupBy("term").agg(F.sum("m").alias("c"))
    # n (corpus token total) is a 1-row aggregate broadcast back — no
    # single-partition window anywhere in the plan (the q447 scalar
    # discipline); the census itself is never re-scanned.
    n_tot = tk.agg(F.sum("c").alias("n"))
    u = tk.crossJoin(F.broadcast(n_tot)).select(
        "term",
        F.expr("CAST(round(1000000 * ln((1.0 * n) / c)) AS BIGINT)").alias(
            "u_micro"
        ),
    )
    src = materialize(
        st.join(u, "term")
        .groupBy("source")
        .agg(
            F.sum("m").cast("bigint").alias("toks"),
            F.expr("sum(m * u_micro) div sum(m)")
            .cast("bigint")
            .alias("xent_micro"),
            F.sum(F.expr("m * u_micro")).alias("wsum"),
        )
        # |sources| rows feed three scalar reuses
    )
    tot = src.agg(
        F.sum("wsum").alias("wsum_all"), F.sum("toks").alias("toks_all")
    )
    src = (
        src.crossJoin(F.broadcast(tot))
        .withColumn(
            "corpus_micro", F.expr("wsum_all div toks_all").cast("bigint")
        )
        .withColumn("excess_micro", F.col("xent_micro") - F.col("corpus_micro"))
        .withColumn(
            "f_e9",
            F.expr(
                "CAST(round(1000000000 * exp(0.5 * excess_micro / 1000000.0))"
                " AS BIGINT)"
            ),
        )
    )
    den = src.agg(
        F.expr("sum(CAST(toks AS DECIMAL(38,0)) * f_e9)").alias("den_new")
    )
    return (
        src.crossJoin(F.broadcast(den))
        .select(
            "source",
            F.col("toks").alias("n_tokens"),
            "xent_micro",
            "excess_micro",
            F.expr("(10000 * toks) div toks_all")
            .cast("bigint")
            .alias("w_old_bp"),
            F.expr(
                "CAST((10000 * CAST(toks AS DECIMAL(38,0)) * f_e9)"
                " div den_new AS BIGINT)"
            ).alias("w_new_bp"),
        )
        .orderBy("source")
    )


# --- round-12 wave: q460 truncation-loss curve --------------------------------

_TRUNC_GRID = (32, 64, 128, 256)

_DUCK_TRUNC = f"""
    WITH g AS (SELECT unnest([{", ".join(str(x) for x in _TRUNC_GRID)}])
                 AS max_len),
         d AS (
      SELECT source, len({DUCK_TOKENIZE}) AS n FROM documents)
    SELECT source, CAST(max_len AS BIGINT) AS max_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n > max_len THEN 1 ELSE 0 END) AS BIGINT)
             AS truncated_docs,
           CAST(sum(n) AS BIGINT) AS tokens_total,
           CAST(sum(least(n, max_len)) AS BIGINT) AS tokens_kept,
           CAST((10000 * (sum(n) - sum(least(n, max_len)))) // sum(n)
                AS BIGINT) AS loss_bp
    FROM d CROSS JOIN g
    GROUP BY source, max_len ORDER BY source, max_len
"""


@register("q460_truncation_loss_curve", _DUCK_TRUNC)
def q460_truncation_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length truncation-loss curve — the max_seq_len sizing
    question every pretraining run answers before tokenizing 100 TB
    (longer contexts cost quadratic attention; shorter ones discard
    the document tails this measures): per source and candidate
    max-length, how many documents get truncated and what fraction of
    the token mass is lost. The per-source split matters because long-
    document sources (books vs web) lose disproportionally — exactly
    the signal that routes them to a long-context mixture instead
    (q445's packing is the downstream consumer).

    Determinism: pure integer token counts and integer bp division.

    100 TB shape: ONE length census (map-side combinable on source),
    fanned out over the |grid| in-row — the grid multiplies the
    |sources|-row census, never the corpus; output |sources|x|grid|."""
    docs = load_table(spark, sf_dir, "documents")
    grid = spark.createDataFrame([(x,) for x in _TRUNC_GRID], "max_len BIGINT")
    d = docs.select("source", F.size(tokenize(F.col("text"))).alias("n"))
    return (
        d.crossJoin(F.broadcast(grid))
        .groupBy("source", "max_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n") > F.col("max_len"), 1).otherwise(0))
            .cast("bigint")
            .alias("truncated_docs"),
            F.sum("n").cast("bigint").alias("tokens_total"),
            F.sum(F.least(F.col("n"), F.col("max_len")))
            .cast("bigint")
            .alias("tokens_kept"),
            F.expr(
                "(10000 * (sum(n) - sum(least(n, max_len)))) div sum(n)"
            )
            .cast("bigint")
            .alias("loss_bp"),
        )
        .orderBy("source", "max_len")
    )


# --- round-12 wave: q462 curriculum quartile schedule -------------------------

_DUCK_CURRICULUM = f"""
    WITH d AS (
      SELECT doc_id, source, n_chars,
             len({DUCK_TOKENIZE}) AS n_toks
      FROM documents),
         q AS (
      SELECT *, ntile(4) OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id) AS quartile
      FROM d),
         r AS (
      SELECT *, row_number() OVER (PARTITION BY source, quartile
                                   ORDER BY n_chars DESC, doc_id) - 1 AS pos
      FROM q)
    SELECT source, CAST(quartile AS BIGINT) AS quartile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS tokens,
           CAST((1000 * sum(pos * 4 + quartile - 1)) // count(*) AS BIGINT)
             AS sched_pos_milli,
           CAST(min(pos * 4 + quartile - 1) AS BIGINT) AS first_pos
    FROM r GROUP BY source, quartile ORDER BY source, quartile
"""


@register("q462_curriculum_quartile_schedule", _DUCK_CURRICULUM)
def q462_curriculum_quartile_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum data-ordering schedule (Bengio et al. ICML'09
    applied to corpus prep): rank documents within each source by a
    quality proxy (n_chars here — the fixture's stand-in for a
    quality-classifier score), split into quartiles, and emit the
    INTERLEAVED round-robin schedule position (pos*4 + quartile-1) —
    one document from each quality tier per cycle, so every training
    window sees the full quality mix while higher tiers still lead
    each cycle. The census audits the schedule: per (source,
    quartile), document/token mass and mean/first schedule position.

    Determinism: ntile + row_number over a TOTAL order (score desc,
    doc_id) — identical bucket-fill semantics in both engines; all
    outputs integer.

    100 TB shape: both windows are PARTITIONED BY source (and
    quartile) — the per-source ordering a curriculum needs anyway;
    at production the score sort rides the existing per-source shard
    sort. No global window, no join."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", "n_chars",
        F.size(tokenize(F.col("text"))).alias("n_toks"),
    )
    wq = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    q = d.withColumn("quartile", F.ntile(4).over(wq))
    wr = Window.partitionBy("source", "quartile").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    r = q.withColumn("pos", F.row_number().over(wr) - 1).withColumn(
        "sched", F.col("pos") * 4 + F.col("quartile") - 1
    )
    return (
        r.groupBy("source", "quartile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens"),
            F.expr("(1000 * sum(sched)) div count(*)")
            .cast("bigint")
            .alias("sched_pos_milli"),
            F.min("sched").cast("bigint").alias("first_pos"),
        )
        .select(
            "source",
            F.col("quartile").cast("bigint").alias("quartile"),
            "n_docs", "tokens", "sched_pos_milli", "first_pos",
        )
        .orderBy("source", "quartile")
    )


# --- round-12 wave: q468 RAG chunk-stride cost curve --------------------------

_CHUNK_W = 64
_STRIDE_GRID = (64, 48, 32, 16)

_DUCK_STRIDE = f"""
    WITH g AS (SELECT unnest([{", ".join(str(x) for x in _STRIDE_GRID)}])
                 AS stride),
         d AS (SELECT len({DUCK_TOKENIZE}) AS n FROM documents),
         c AS (
      SELECT stride, n,
             CASE WHEN n <= {_CHUNK_W} THEN 1
                  ELSE 1 + CAST(ceil((n - {_CHUNK_W}) * 1.0 / stride) AS BIGINT)
             END AS chunks
      FROM d CROSS JOIN g),
         e AS (
      SELECT stride, n, chunks,
             {_CHUNK_W} * (chunks - 1) + n - stride * (chunks - 1) AS emitted
      FROM c)
    SELECT CAST(stride AS BIGINT) AS stride,
           CAST(sum(chunks) AS BIGINT) AS n_chunks,
           CAST(sum(n) AS BIGINT) AS tokens_raw,
           CAST(sum(emitted) AS BIGINT) AS tokens_emitted,
           CAST((10000 * (sum(emitted) - sum(n))) // sum(n) AS BIGINT)
             AS overlap_bp
    FROM e GROUP BY stride ORDER BY stride DESC
"""


@register("q468_chunk_stride_cost", _DUCK_STRIDE)
def q468_chunk_stride_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking cost curve — the RAG-ingest sizing
    question (window {_CHUNK_W} tokens, stride of what?): smaller
    strides reduce boundary-split answers but re-emit overlapping
    tokens, multiplying embedding/index cost. Chunk and emitted-token
    counts come CLOSED-FORM from the per-doc length (chunks = 1 +
    ceil((n-W)/S); the final chunk is the only partial one), so the
    curve costs one length census — no chunk is ever materialized.

    Determinism: integer closed forms; ceil over exact integer ratio.

    100 TB shape: one map-side-combinable length census fanned out
    over the |grid| in-row; output |grid| rows. The actual chunker
    (q74) pays the emitted volume this curve predicts."""
    docs = load_table(spark, sf_dir, "documents")
    grid = spark.createDataFrame([(x,) for x in _STRIDE_GRID], "stride BIGINT")
    d = docs.select(F.size(tokenize(F.col("text"))).alias("n"))
    c = d.crossJoin(F.broadcast(grid)).select(
        "stride",
        "n",
        F.when(F.col("n") <= _CHUNK_W, F.lit(1).cast("bigint"))
        .otherwise(
            1
            + F.ceil(
                (F.col("n") - _CHUNK_W) / F.col("stride").cast("double")
            ).cast("bigint")
        )
        .alias("chunks"),
    )
    e = c.withColumn(
        "emitted",
        _CHUNK_W * (F.col("chunks") - 1)
        + F.col("n")
        - F.col("stride") * (F.col("chunks") - 1),
    )
    return (
        e.groupBy("stride")
        .agg(
            F.sum("chunks").cast("bigint").alias("n_chunks"),
            F.sum("n").cast("bigint").alias("tokens_raw"),
            F.sum("emitted").cast("bigint").alias("tokens_emitted"),
            F.expr("(10000 * (sum(emitted) - sum(n))) div sum(n)")
            .cast("bigint")
            .alias("overlap_bp"),
        )
        .select(
            F.col("stride").cast("bigint").alias("stride"),
            "n_chunks", "tokens_raw", "tokens_emitted", "overlap_bp",
        )
        .orderBy(F.col("stride").desc())
    )
