"""Fifteenth coverage wave (b): sketch-accelerated exact queries —
heavy hitters via a Misra-Gries candidate pass, and a Bloom-prefiltered
semi-join. The sketches bound memory and shuffle; a second exact pass
makes the RESULTS identical to the naive plan, which is why both are
fully oracle-checkable (the oracle runs the naive SQL).

Citations: Misra & Gries, 'Finding repeated elements' (Sci. Comp.
Prog. 1982); Bloom, 'Space/time trade-offs in hash coding' (CACM
1970). Spark's own runtime bloom-filter join (SPARK-32268) is the
built-in form of q121's pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.functions.text import DUCK_TOKENIZE, tokenize
from ooh_etl_spark.operators.sketches import bloom_semi_join, exact_heavy_hitters
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents, load_table

_HH_K = 50  # heavy hitter = frequency > n/50 (2%)


@register(
    "q120_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest({DUCK_TOKENIZE}) AS value
      FROM documents),
         n AS (SELECT count(*) AS n FROM tok)
    SELECT value, count(*) AS cnt
    FROM tok CROSS JOIN n
    GROUP BY value, n.n
    HAVING count(*) * {_HH_K} > n.n
    ORDER BY cnt DESC, value
    """,
)
def q120_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with >2% corpus frequency) computed
    the scalable way: a Misra-Gries candidate pass with 50 counters of
    state PER PARTITION — constant memory no matter how large the
    partition — then an exact count restricted to candidates. The
    exact pass shuffles only candidate tokens (at most ~k distinct),
    not the full vocabulary; the oracle runs the naive full group-by
    and must agree exactly, which is the two-pass guarantee under
    test."""
    docs = load_documents(spark, sf_dir)
    tok = docs.select(
        F.explode_outer(tokenize(F.col("text"))).alias("value")
    ).filter(F.col("value").isNotNull())
    return exact_heavy_hitters(tok, "value", _HH_K).orderBy(
        F.col("cnt").desc(), "value"
    )


@register(
    "q121_bloom_prefilter_join",
    """
    WITH hv AS (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
    SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS revenue_c,
           count(*) AS n_lines
    FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM hv)
    """,
)
def q121_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from line items of high-value orders via an exact
    broadcast left-semi join — the broadcast hash set IS the prefilter
    (zero false positives, codegen-probed, fact side never shuffles);
    no driver key collection, no Python boundary (plan-asserted).
    Spark's runtime bloom filter (SPARK-32268, enabled in session.py)
    is opportunistic only: InjectRuntimeFilter needs a shuffle on the
    fact side to attach to, so it fires when the key side outgrows the
    broadcast threshold and the plan degrades to a shuffle join — the
    100 TB fallback, not this plan. Results are exact either way, so
    the oracle is the plain IN-subquery."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hv = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    matched = bloom_semi_join(li, "l_orderkey", hv, "o_orderkey")
    return matched.agg(
        F.sum(
            quantise(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        )
        .cast("bigint")
        .alias("revenue_c"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- q175: count-min sketch with exact comparison -----------------------
_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row
_CMS_P = 2147483647  # 2^31 - 1 (Mersenne prime)
#: Fixed pairwise-independent hash family: h_i(k) = ((a*k + b) % P) % W.
_CMS_AB = ((769, 12289), (3079, 49157), (196613, 786433), (1543, 98317))
_CMS_PROBE = 20  # estimate users 0..19

_DUCK_CMS = f"""
    WITH params AS (
      SELECT i,
             [769, 3079, 196613, 1543][i + 1] AS a,
             [12289, 49157, 786433, 98317][i + 1] AS b
      FROM (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i)),
         cms AS (
      SELECT p.i, ((p.a * e.user_id + p.b) % {_CMS_P}) % {_CMS_W} AS bucket,
             count(*) AS cnt
      FROM events e CROSS JOIN params p
      GROUP BY 1, 2),
         probes AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < {_CMS_PROBE}),
         est AS (
      SELECT pr.user_id, min(c.cnt) AS est
      FROM probes pr
      CROSS JOIN params p
      JOIN cms c ON c.i = p.i
        AND c.bucket = ((p.a * pr.user_id + p.b) % {_CMS_P}) % {_CMS_W}
      GROUP BY pr.user_id),
         exact AS (
      SELECT user_id, count(*) AS exact
      FROM events WHERE user_id < {_CMS_PROBE} GROUP BY user_id)
    SELECT e.user_id, est.est, e.exact
    FROM exact e JOIN est USING (user_id)
    ORDER BY user_id
"""


@register("q175_countmin_estimates", _DUCK_CMS)
def q175_countmin_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan, J.Alg 2005): a
    D x W counter matrix answering frequency point queries for EVERY
    key in O(D*W) memory — the complement of q120's Misra-Gries, which
    tracks only the heavy tail. Estimates never undercount
    (est >= exact, pytest-pinned) and overshoot by <= n/W with
    probability 1 - 2^-D. The hash family is fixed modular arithmetic
    (engine-identical — Spark's xxhash64 and DuckDB's hash disagree,
    so neither is usable cross-engine), making the sketch — and thus
    the oracle compare — fully deterministic.

    100 TB shape: the build is one groupBy over (i, bucket) — at most
    D*W = 1024 distinct keys, so map-side partials collapse each
    partition to <= 1024 rows before the shuffle no matter how many
    events flow in; this mergeability is WHY CMS is the standard
    telemetry sketch. Probes broadcast (fixed key set); the exact
    recount exists only to exhibit the accuracy contract."""
    events = load_table(spark, sf_dir, "events")
    cms_rows = events.select(
        F.posexplode(
            F.array(
                *[
                    ((F.lit(a) * F.col("user_id") + F.lit(b)) % _CMS_P) % _CMS_W
                    for a, b in _CMS_AB
                ]
            )
        ).alias("i", "bucket")
    )
    cms = cms_rows.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    probes = (
        events.filter(F.col("user_id") < _CMS_PROBE).select("user_id").distinct()
    )
    probe_buckets = probes.select(
        "user_id",
        F.posexplode(
            F.array(
                *[
                    ((F.lit(a) * F.col("user_id") + F.lit(b)) % _CMS_P) % _CMS_W
                    for a, b in _CMS_AB
                ]
            )
        ).alias("i", "bucket"),
    )
    est = (
        cms.join(F.broadcast(probe_buckets), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est"))
    )
    exact = (
        events.filter(F.col("user_id") < _CMS_PROBE)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return exact.join(est, "user_id").select("user_id", "est", "exact").orderBy("user_id")


@register(
    "q204_join_size_estimate",
    """
    WITH cnt AS (
      SELECT l_partkey, count(*) AS c
      FROM lineitem GROUP BY l_partkey),
         flg AS (
      SELECT c,
             CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 8 = 0 AS keep
      FROM cnt)
    SELECT CAST(sum(c * c) AS BIGINT) AS true_pairs,
           CAST(8 * sum(CASE WHEN keep THEN c * c ELSE 0 END) AS BIGINT)
             AS est_pairs,
           CAST(round(10000.0 * (8 * sum(CASE WHEN keep THEN c * c ELSE 0 END)
                                 - sum(c * c)) / sum(c * c)) AS BIGINT)
             AS err_bp
    FROM flg
    """,
)
def q204_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join cardinality estimation by CORRELATED key sampling —
    the statistic a cost-based optimizer needs before it picks a join
    strategy. Sampling ROWS independently on each side of a join
    underestimates badly (P(both copies of a key survive) = p^2);
    the correct estimator samples KEYS: keep a key iff
    md5(key) mod 1/p == 0 — the SAME coin on both sides — and scale
    the sampled join size by 1/p (Vengerov et al., VLDB 2015 'Join
    Size Estimation Subject to Filter Conditions'). Here the join is
    lineitem self-joined on l_partkey, whose true size is
    sum_k(c_k^2) — computable from the count table without executing
    the join, so the query emits (true, estimate, signed error in
    basis points) in one pass. Both sums are exact integers; the md5
    coin is the engine-identical keyed uniform (q193 precedent).

    100 TB design: ONE aggregation on the join key; at scale the
    estimator runs on a per-partition-merged count sketch and the
    'keep' predicate pushes into the scan, touching 1/p of the key
    space. The p = 1/8 here is the demonstration setting; the
    estimator's variance falls as sum over kept c_k^4 / p."""
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    keep = (
        F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 8
        == 0
    )
    flg = cnt.select("c", keep.alias("keep"))
    cc = F.col("c") * F.col("c")
    samp = F.sum(F.when(F.col("keep"), cc).otherwise(0))
    tot = F.sum(cc)
    return flg.agg(
        tot.cast("bigint").alias("true_pairs"),
        (8 * samp).cast("bigint").alias("est_pairs"),
        F.round(10000.0 * (8 * samp - tot) / tot).cast("bigint").alias("err_bp"),
    )


_HLL_M = 256  # registers (p = 8 bucket bits = first 2 hex chars)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)  # Flajolet et al. 2007


@register(
    "q221_hll_registers",
    f"""
    WITH h AS (
      SELECT event_type, md5(CAST(event_id AS VARCHAR)) AS h
      FROM events),
         nib AS (
      SELECT event_type,
             16 * (CASE WHEN substr(h, 1, 1) <= '9'
                        THEN ascii(substr(h, 1, 1)) - 48
                        ELSE ascii(substr(h, 1, 1)) - 87 END)
             + (CASE WHEN substr(h, 2, 1) <= '9'
                     THEN ascii(substr(h, 2, 1)) - 48
                     ELSE ascii(substr(h, 2, 1)) - 87 END) AS bucket,
             ltrim(substr(h, 3, 30), '0') AS t,
             30 - length(ltrim(substr(h, 3, 30), '0')) AS zc
      FROM h),
         rho AS (
      SELECT event_type, bucket,
             CASE WHEN t = '' THEN 121
                  ELSE 4 * zc
                       + (CASE WHEN (CASE WHEN substr(t, 1, 1) <= '9'
                                          THEN ascii(substr(t, 1, 1)) - 48
                                          ELSE ascii(substr(t, 1, 1)) - 87
                                     END) >= 8 THEN 0
                               WHEN (CASE WHEN substr(t, 1, 1) <= '9'
                                          THEN ascii(substr(t, 1, 1)) - 48
                                          ELSE ascii(substr(t, 1, 1)) - 87
                                     END) >= 4 THEN 1
                               WHEN (CASE WHEN substr(t, 1, 1) <= '9'
                                          THEN ascii(substr(t, 1, 1)) - 48
                                          ELSE ascii(substr(t, 1, 1)) - 87
                                     END) >= 2 THEN 2
                               ELSE 3 END) + 1 END AS rho
      FROM nib),
         regs AS (
      SELECT event_type, bucket, max(rho) AS m_j
      FROM rho GROUP BY event_type, bucket),
         merged AS (
      SELECT 'ALL' AS event_type, bucket, max(m_j) AS m_j
      FROM regs GROUP BY bucket),
         allregs AS (
      SELECT * FROM regs UNION ALL SELECT * FROM merged),
         est AS (
      SELECT event_type,
             sum(CAST(round(power(2.0, -m_j) * 1000000000000000)
                      AS BIGINT)) AS s_int,
             count(*) AS n_present
      FROM allregs GROUP BY event_type)
    SELECT event_type,
           CAST({_HLL_M} - n_present AS BIGINT) AS n_zero_regs,
           CAST(CASE
             WHEN CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M} * 1000000000000000
                  / (s_int + ({_HLL_M} - n_present) * 1000000000000000)
                  <= 2.5 * {_HLL_M}
              AND {_HLL_M} - n_present > 0
             THEN round({_HLL_M} * ln({_HLL_M} * 1.0
                                      / ({_HLL_M} - n_present)))
             ELSE round(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M}
                        * 1000000000000000
                        / (s_int + ({_HLL_M} - n_present)
                           * 1000000000000000))
           END AS BIGINT) AS hll_estimate
    FROM est
    ORDER BY event_type
    """,
)
def q221_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built FROM RELATIONAL PRIMITIVES (Flajolet, Fusy,
    Gandouet & Meunier 2007) with a full SQL oracle — unlike q11b's
    builtin (whose HLL++ internals no oracle can reproduce), every step
    here is engine-identical arithmetic on the SAME md5 hex digest:
    bucket = first 2 nibbles (m = 256 registers), rho = 1 + leading
    zero BITS of the remaining 120 (ltrim-'0' counts zero nibbles, a
    CASE ladder scores the first non-zero nibble), registers are a
    (group, bucket) max-aggregate — and per-group registers MERGE into
    the global sketch by bucket-wise max, demonstrating the
    mergeability that makes HLL the distributed-count-distinct answer
    (partial sketches union across partitions/epochs with no rescan).
    The harmonic-mean term 2^-M_j is an exact power of two quantized
    to integer 1e-15 units BEFORE summation (order-free), and the
    small-range regime applies linear counting m·ln(m/V) on exact
    integer ratios (the q187 ln contract).

    100 TB shape: one (group, bucket)-keyed shuffle with map-side
    partial max — at most groups x 256 rows cross the wire no matter
    the corpus; the merge and estimate run over register-sized tables.
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.select("event_type", F.md5(F.col("event_id").cast("string")).alias("h"))

    def nibble(c: F.Column) -> F.Column:
        return F.when(c <= "9", F.ascii(c) - 48).otherwise(F.ascii(c) - 87)

    tail = F.expr("substr(h, 3, 30)")
    t = F.expr("ltrim('0', substr(h, 3, 30))")
    nib = h.select(
        "event_type",
        (16 * nibble(F.substring("h", 1, 1)) + nibble(F.substring("h", 2, 1))).alias(
            "bucket"
        ),
        t.alias("t"),
        (F.length(tail) - F.length(t)).alias("zc"),
    )
    first = nibble(F.substring("t", 1, 1))
    rho = nib.select(
        "event_type",
        "bucket",
        F.when(F.col("t") == "", F.lit(121))
        .otherwise(
            4 * F.col("zc")
            + F.when(first >= 8, 0)
            .when(first >= 4, 1)
            .when(first >= 2, 2)
            .otherwise(3)
            + 1
        )
        .alias("rho"),
    )
    # checkpoint the (bounded: groups x 256 rows) register table — it
    # feeds both union branches below, and without it each branch
    # re-runs the corpus-wide register aggregate (the q296
    # Union-recompute class; audited at 2 parquet scans).
    regs = materialize(
        rho.groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    merged = regs.groupBy("bucket").agg(
        F.max("m_j").alias("m_j")
    ).select(F.lit("ALL").alias("event_type"), "bucket", "m_j")
    allregs = regs.unionByName(merged)
    est = allregs.groupBy("event_type").agg(
        F.sum(
            quantise(F.pow(F.lit(2.0), -F.col("m_j")), 15)
        ).alias("s_int"),
        F.count(F.lit(1)).alias("n_present"),
    )
    m = _HLL_M
    full_s = F.col("s_int") + (m - F.col("n_present")) * 1_000_000_000_000_000
    raw = F.lit(_HLL_ALPHA) * m * m * 1_000_000_000_000_000 / full_s
    v = m - F.col("n_present")
    return est.select(
        "event_type",
        v.cast("bigint").alias("n_zero_regs"),
        F.when(
            (raw <= 2.5 * m) & (v > 0),
            F.round(m * F.log(m * 1.0 / v)),
        )
        .otherwise(F.round(raw))
        .cast("bigint")
        .alias("hll_estimate"),
    ).orderBy("event_type")


_BF_K = 3  # hash functions


@register(
    "q246_bloom_from_primitives",
    f"""
    WITH ins AS (
      SELECT c_custkey AS key FROM customer WHERE c_custkey % 2 = 0),
         bits AS (
      SELECT g.h AS hi,
             (CASE WHEN substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 1, 1) <= '9'
                   THEN ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 1, 1)) - 48
                   ELSE ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 1, 1)) - 87 END)
             * 64
             + (CASE WHEN substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 2, 1) <= '9'
                     THEN ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 2, 1)) - 48
                     ELSE ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 2, 1)) - 87 END)
             * 4
             + (CASE WHEN substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 3, 1) <= '9'
                     THEN ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 3, 1)) - 48
                     ELSE ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(key AS VARCHAR)), 3, 1)) - 87 END)
             % 4 AS bitpos
      FROM ins, generate_series(0, {_BF_K - 1}) AS g(h)),
         words AS (
      SELECT CAST(bitpos % 1024 // 32 AS BIGINT) AS word,
             bit_or(CAST(pow(2.0, bitpos % 1024 % 32) AS BIGINT)) AS bw
      FROM bits GROUP BY 1),
         probes AS (
      SELECT c_custkey AS key, c_custkey % 2 = 0 AS present
      FROM customer),
         pbits AS (
      SELECT p.key, p.present, g.h AS hi,
             (CASE WHEN substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 1, 1) <= '9'
                   THEN ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 1, 1)) - 48
                   ELSE ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 1, 1)) - 87 END)
             * 64
             + (CASE WHEN substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 2, 1) <= '9'
                     THEN ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 2, 1)) - 48
                     ELSE ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 2, 1)) - 87 END)
             * 4
             + (CASE WHEN substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 3, 1) <= '9'
                     THEN ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 3, 1)) - 48
                     ELSE ascii(substr(md5(CAST(g.h AS VARCHAR) || ':'
                                  || CAST(p.key AS VARCHAR)), 3, 1)) - 87 END)
             % 4 AS bitpos
      FROM probes p, generate_series(0, {_BF_K - 1}) AS g(h)),
         hits AS (
      SELECT pb.key, pb.present,
             min(CASE WHEN (w.bw // CAST(pow(2.0, pb.bitpos % 1024 % 32)
                                         AS BIGINT)) % 2 = 1
                      THEN 1 ELSE 0 END) AS maybe
      FROM pbits pb
      JOIN words w ON w.word = CAST(pb.bitpos % 1024 // 32 AS BIGINT)
      GROUP BY pb.key, pb.present),
         stats AS (
      SELECT sum(CASE WHEN present THEN 1 ELSE 0 END) AS n_inserted,
             count(*) AS n_probes,
             sum(CASE WHEN present AND maybe = 0 THEN 1 ELSE 0 END)
               AS n_false_neg,
             sum(CASE WHEN NOT present AND maybe = 1 THEN 1 ELSE 0 END)
               AS n_false_pos,
             sum(CASE WHEN NOT present THEN 1 ELSE 0 END) AS n_absent
      FROM hits)
    SELECT CAST(n_inserted AS BIGINT) AS n_inserted,
           CAST(n_probes AS BIGINT) AS n_probes,
           CAST(n_false_neg AS BIGINT) AS n_false_neg,
           CAST(n_false_pos AS BIGINT) AS n_false_pos,
           CAST(FLOOR(10000.0 * n_false_pos / n_absent) AS BIGINT)
             AS fpr_bp,
           CAST(round(10000 * pow(1.0 - exp(-{_BF_K}.0 * n_inserted
                                            / 1024.0), {_BF_K})) AS BIGINT)
             AS theory_bp
    FROM stats
    """,
)
def q246_bloom_from_primitives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built FROM RELATIONAL PRIMITIVES (Bloom 1970) with
    a full SQL oracle — the q221 treatment applied to membership: k=3
    bit positions per key from md5 nibbles, the 1024-bit filter
    materialized as 32 32-bit words via a ``bit_or`` aggregate
    (power-of-two arithmetic, shift-free — identical in both engines) (the
    build is ONE 16-key aggregation — map-side partial OR, the
    mergeability that lets per-partition filters union for free), and
    every probe tests its k bits against the broadcast word table.
    The audit measures ZERO false negatives (the Bloom guarantee —
    pytest-pinned structurally here by the oracle hash), the measured
    false-positive rate on known-absent keys, and the theoretical
    (1 − e^{{−kn/m}})^k next to it.

    Contrast with q121: that operator uses the exact broadcast-hash
    semi-join (zero FP) and Spark's opportunistic runtime bloom; this
    query exposes the sketch ITSELF as data — what you ship to
    another system (a 128-byte filter standing in for a key list) —
    with engine-exact hashing on both sides.
    """
    cust = load_table(spark, sf_dir, "customer")

    def nib(col: F.Column, i: int) -> F.Column:
        ch = F.substring(col, i, 1)
        return F.when(ch <= "9", F.ascii(ch) - 48).otherwise(F.ascii(ch) - 87)

    def bitpos(key: F.Column, h: F.Column) -> F.Column:
        m = F.md5(F.concat(h.cast("string"), F.lit(":"), key.cast("string")))
        return (nib(m, 1) * 64 + nib(m, 2) * 4 + nib(m, 3) % 4) % 1024

    hs = F.explode(F.sequence(F.lit(0), F.lit(_BF_K - 1))).alias("h")
    ins = cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("key"), hs
    )
    bits = ins.select(bitpos(F.col("key"), F.col("h")).alias("bitpos"))
    words = bits.groupBy(
        F.floor(F.col("bitpos") / 32).cast("bigint").alias("word")
    ).agg(
        F.bit_or(
            F.pow(F.lit(2.0), F.col("bitpos") % 32).cast("bigint")
        ).alias("bw")
    )
    probes = cust.select(
        F.col("c_custkey").alias("key"),
        (F.col("c_custkey") % 2 == 0).alias("present"),
        hs,
    ).select("key", "present", bitpos(F.col("key"), F.col("h")).alias("bitpos"))
    hits = (
        probes.join(
            F.broadcast(words),
            F.floor(F.col("bitpos") / 32).cast("bigint") == F.col("word"),
        )
        .groupBy("key", "present")
        .agg(
            F.min(
                (
                    F.floor(
                        F.col("bw")
                        / F.pow(F.lit(2.0), F.col("bitpos") % 32).cast("bigint")
                    )
                    % 2
                    == 1
                ).cast("int")
            ).alias("maybe")
        )
    )
    stats = hits.agg(
        F.sum(F.col("present").cast("int")).alias("n_inserted"),
        F.count(F.lit(1)).alias("n_probes"),
        F.sum((F.col("present") & (F.col("maybe") == 0)).cast("int")).alias(
            "n_false_neg"
        ),
        F.sum((~F.col("present") & (F.col("maybe") == 1)).cast("int")).alias(
            "n_false_pos"
        ),
        F.sum((~F.col("present")).cast("int")).alias("n_absent"),
    )

    return stats.select(
        F.col("n_inserted").cast("bigint").alias("n_inserted"),
        F.col("n_probes").cast("bigint").alias("n_probes"),
        F.col("n_false_neg").cast("bigint").alias("n_false_neg"),
        F.col("n_false_pos").cast("bigint").alias("n_false_pos"),
        F.floor(10000.0 * F.col("n_false_pos") / F.col("n_absent"))
        .cast("bigint")
        .alias("fpr_bp"),
        quantise(
            F.pow(
              1.0 - F.exp(-float(_BF_K) * F.col("n_inserted") / 1024.0),
              float(_BF_K),
          ),
            4,
        )
        .alias("theory_bp"),
    )


# --- q301: KMV (bottom-k) distinct sketch with set algebra ---------------
_KMV_K = 8  # sf0.001 has only 15 users; k must stay below the universe
_KMV_SPACE = float(16**14)  # hash values are 14 hex digits (56 bits)

_DUCK_KMV = f"""
    WITH flags AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS h,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY user_id),
         au AS (SELECT * FROM flags WHERE a = 1),
         bu AS (SELECT * FROM flags WHERE b = 1),
         uu AS (SELECT * FROM flags WHERE a = 1 OR b = 1),
         ak AS (SELECT h FROM au ORDER BY h LIMIT {_KMV_K}),
         bk AS (SELECT h FROM bu ORDER BY h LIMIT {_KMV_K}),
         uk AS (SELECT h, a, b FROM uu ORDER BY h LIMIT {_KMV_K}),
         est AS (
      SELECT 'click' AS set_label,
             (SELECT count(*) FROM au) AS exact_distinct,
             CAST(round(({_KMV_K} - 1) * {_KMV_SPACE}
                        / (SELECT max(h) FROM ak)) AS BIGINT) AS kmv_est
      UNION ALL
      SELECT 'view',
             (SELECT count(*) FROM bu),
             CAST(round(({_KMV_K} - 1) * {_KMV_SPACE}
                        / (SELECT max(h) FROM bk)) AS BIGINT)
      UNION ALL
      SELECT 'union',
             (SELECT count(*) FROM uu),
             CAST(round(({_KMV_K} - 1) * {_KMV_SPACE}
                        / (SELECT max(h) FROM uk)) AS BIGINT)
      UNION ALL
      SELECT 'intersection',
             (SELECT count(*) FROM flags WHERE a = 1 AND b = 1),
             CAST(round(
               (SELECT sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                FROM uk) * 1.0 / {_KMV_K}
               * (({_KMV_K} - 1) * {_KMV_SPACE} / (SELECT max(h) FROM uk)))
               AS BIGINT))
    SELECT set_label, CAST(exact_distinct AS BIGINT) AS exact_distinct,
           kmv_est,
           CAST(round(abs(kmv_est - exact_distinct) * 10000.0
                      / exact_distinct) AS BIGINT) AS err_bp
    FROM est ORDER BY set_label
"""


@register("q301_kmv_set_sketch", _DUCK_KMV)
def q301_kmv_set_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct sketch (Bar-Yossef et al. RANDOM'02;
    Beyer et al. SIGMOD'07) — the mergeable distinct-counter that,
    unlike HLL (q221), also supports INTERSECTION estimates: keep the
    k smallest hash values; |D| ~= (k-1)*H/h_(k); the union sketch is
    the bottom-k of the combined stream, and the Jaccard estimate is
    the fraction of the union's bottom-k belonging to both sets, so
    |A inter B| ~= J * |A union B|. Exact counts ride alongside with
    the error in basis points — the audit a sketch rollout needs.

    Determinism: the hash is the first 14 hex digits of md5 (identical
    in both engines, 56 bits so the BIGINT parse never overflows);
    bottom-k sets and max-of-k are exact integer operations.

    100 TB shape: each bottom-k is ``ORDER BY h LIMIT k`` — a per-
    partition k-row priority queue merged on the driver
    (TakeOrderedAndProject), NO global sort, NO corpus-wide window;
    the flag aggregation is the one keyed shuffle. k={_KMV_K} fits the
    15-user sf0.001 fixture; production k (256-4096) only widens the
    k-row frames."""
    ev = load_table(spark, sf_dir, "events")
    # checkpoint the |users|-row flag table: it feeds the four sketch
    # sides (each consuming it twice: exact count + bottom-k), and
    # without it the corpus rollup re-executed per consumer (audited:
    # 8 parquet scans of events in one plan).
    flags = materialize(
        ev.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "a"
            ),
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
                "b"
            ),
        )
        .select(
            "user_id",
            "a",
            "b",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 14), 16, 10
            )
            .cast("bigint")
            .alias("h"),
        )
    )
    au = flags.filter(F.col("a") == 1)
    bu = flags.filter(F.col("b") == 1)
    uu = flags.filter((F.col("a") == 1) | (F.col("b") == 1))

    def est_row(label: str, side: DataFrame) -> DataFrame:
        # bottom-k via orderBy().limit() (TakeOrderedAndProject), then
        # 1-row stat frames cross-joined — fully declarative, no
        # driver-side collect.
        exact = side.agg(F.count(F.lit(1)).alias("exact_distinct"))
        hk = side.orderBy("h").limit(_KMV_K).agg(F.max("h").alias("hk"))
        return exact.crossJoin(hk).select(
            F.lit(label).alias("set_label"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            F.round((_KMV_K - 1) * _KMV_SPACE / F.col("hk"))
            .cast("bigint")
            .alias("kmv_est"),
        )

    uk = uu.orderBy("h").limit(_KMV_K)
    ustats = uk.agg(
        F.max("h").alias("hk"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)
        ).alias("both_in_k"),
    )
    inter = (
        flags.filter((F.col("a") == 1) & (F.col("b") == 1))
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
        .crossJoin(ustats)
        .select(
            F.lit("intersection").alias("set_label"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            F.round(
                F.col("both_in_k")
                * 1.0
                / _KMV_K
                * ((_KMV_K - 1) * _KMV_SPACE / F.col("hk"))
            )
            .cast("bigint")
            .alias("kmv_est"),
        )
    )
    out = (
        est_row("click", au)
        .unionByName(est_row("view", bu))
        .unionByName(est_row("union", uu))
        .unionByName(inter)
    )
    return out.select(
        "set_label",
        "exact_distinct",
        "kmv_est",
        F.round(
            F.abs(F.col("kmv_est") - F.col("exact_distinct"))
            * 10000.0
            / F.col("exact_distinct")
        )
        .cast("bigint")
        .alias("err_bp"),
    ).orderBy("set_label")


# --- q399: Lincoln-Petersen capture-recapture distinct estimate (round 6) ---
_CR_TWO60 = float(1 << 60)
_DUCK_CR = f"""
    WITH caught AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                                                 '#A')), 1, 15))
                  AS BIGINT) / {_CR_TWO60!r} < 0.5 AS in_a,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                                                 '#B')), 1, 15))
                  AS BIGINT) / {_CR_TWO60!r} < 0.5 AS in_b
      FROM documents),
         tok AS (
      SELECT DISTINCT d.doc_id, t.term, c.in_a, c.in_b
      FROM (SELECT doc_id,
                   unnest({DUCK_TOKENIZE})
                     AS term
            FROM documents) t
      JOIN documents d ON t.doc_id = d.doc_id
      JOIN caught c ON d.doc_id = c.doc_id),
         term_flags AS (
      SELECT term,
             max(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
             max(CASE WHEN in_b THEN 1 ELSE 0 END) AS b
      FROM tok GROUP BY term),
         counts AS (
      SELECT CAST(count(*) AS BIGINT) AS true_distinct,
             CAST(sum(a) AS BIGINT) AS n1,
             CAST(sum(b) AS BIGINT) AS n2,
             CAST(sum(a * b) AS BIGINT) AS m_both
      FROM term_flags)
    SELECT n1, n2, m_both, true_distinct,
           CAST(round(n1 * 1.0 * n2 / m_both) AS BIGINT) AS lp_estimate,
           CAST(round((n1 + 1.0) * (n2 + 1.0) / (m_both + 1.0) - 1.0)
                AS BIGINT) AS chapman_estimate,
           CAST(round(10000.0 * abs((n1 + 1.0) * (n2 + 1.0) / (m_both + 1.0)
                                    - 1.0 - true_distinct) / true_distinct)
                AS BIGINT) AS chapman_err_bp
    FROM counts
"""


@register("q399_capture_recapture", _DUCK_CR)
def q399_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen / Chapman capture-recapture estimate of the
    distinct-token count (Petersen 1896; Chapman 1951; Seber, "The
    Estimation of Animal Abundance", 1982): two independent 50% doc
    samples (independent md5 salts '#A'/'#B' over doc_id — q178's
    60-bit slice primitive) each "capture" the vocabulary terms they
    contain; N-hat = n1*n2/m estimates the full vocabulary WITHOUT
    scanning it — the survey-statistics answer to "how many distinct
    keys does this corpus have" when even one full-key shuffle (or an
    HLL pass over every partition, q11b) is more than a pilot budget
    allows: the samples can be two SMALL doc subsets. Chapman's
    +1-corrected form removes the classic small-m bias; the err_bp
    column scores the estimator against the true count, which the
    fixture is small enough to compute exactly alongside.

    Exactness: capture flags are deterministic md5 comparisons; all
    counts are exact integers; the two estimators are doubles from
    four exact integers, rounded once.

    100 TB shape: the intended production use reads ONLY the two doc
    samples (partition-prunable by the hash bucket); here the true
    count is computed too (one term shuffle) to score the estimate.
    The term-flag agg is map-side combinable; heavy-hitter terms that
    appear in both samples cost one combiner row each."""
    docs = load_documents(spark, sf_dir)

    def _u(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(_CR_TWO60)
        )

    tok = docs.select(
        "doc_id",
        (_u("#A") < 0.5).alias("in_a"),
        (_u("#B") < 0.5).alias("in_b"),
        F.explode_outer(tokenize(F.col("text"))).alias("term"),
    )
    term_flags = tok.groupBy("term").agg(
        F.max(F.when(F.col("in_a"), 1).otherwise(0)).alias("a"),
        F.max(F.when(F.col("in_b"), 1).otherwise(0)).alias("b"),
    )
    counts = term_flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("true_distinct"),
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("m_both"),
    )
    chapman = (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m_both") + 1.0) - 1.0
    return counts.select(
        "n1",
        "n2",
        "m_both",
        "true_distinct",
        F.round(F.col("n1") * 1.0 * F.col("n2") / F.col("m_both"))
        .cast("bigint")
        .alias("lp_estimate"),
        F.round(chapman).cast("bigint").alias("chapman_estimate"),
        F.round(10000.0 * F.abs(chapman - F.col("true_distinct")) / F.col("true_distinct"))
        .cast("bigint")
        .alias("chapman_err_bp"),
    )


# --- round-9 wave: q429 mergeable two-level quantile summary ---------------

_Q_SHARDS = 32  # stage-1 shards (stand-in for executor partitions)
_Q_K = 16  # summary points kept per shard

_DUCK_MERGE_QUANT = f"""
    WITH x AS (
      SELECT CAST(l_orderkey % {_Q_SHARDS} AS BIGINT) AS shard,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem),
         n AS (SELECT count(*) AS n FROM x),
         r AS (
      SELECT shard, cents,
             row_number() OVER (PARTITION BY shard ORDER BY cents) AS rk,
             count(*) OVER (PARTITION BY shard) AS ns
      FROM x),
         pts AS (
      SELECT shard, cents, rk
      FROM r WHERE (rk * {_Q_K}) // ns > ((rk - 1) * {_Q_K}) // ns),
         w AS (
      SELECT shard, cents, rk,
             rk - coalesce(lag(rk) OVER (PARTITION BY shard ORDER BY rk), 0)
               AS wt
      FROM pts),
         cum AS (
      SELECT cents, sum(wt) OVER (ORDER BY cents, shard, rk) AS cumw
      FROM w),
         grid AS (SELECT unnest(generate_series(1, 9)) AS decile),
         tgt AS (
      SELECT decile, (decile * n.n + 9) // 10 AS target_rank
      FROM grid, n),
         est AS (
      SELECT decile, target_rank, min(cents) AS est_cents
      FROM tgt JOIN cum ON cumw >= target_rank
      GROUP BY decile, target_rank),
         cdf AS (
      SELECT cents, sum(cnt) OVER (ORDER BY cents) AS cum
      FROM (SELECT cents, count(*) AS cnt FROM x GROUP BY cents)),
         exact AS (
      SELECT decile, min(cents) AS exact_cents
      FROM tgt JOIN cdf ON cum >= target_rank
      GROUP BY decile)
    SELECT e.decile,
           CAST(e.target_rank AS BIGINT) AS target_rank,
           CAST(x.exact_cents AS BIGINT) AS exact_cents,
           CAST(e.est_cents AS BIGINT) AS est_cents,
           CAST(e.est_cents - x.exact_cents AS BIGINT) AS err_cents,
           CAST((10000 * abs(e.est_cents - x.exact_cents)) // x.exact_cents
             AS BIGINT) AS abs_err_bp
    FROM est e JOIN exact x USING (decile)
    ORDER BY decile
"""


@register("q429_mergeable_quantile_summary", _DUCK_MERGE_QUANT)
def q429_mergeable_quantile_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-level distributed quantiles (the mergeable-summary pattern
    behind t-digest / GK / KLL, here in its exact equi-depth form):
    stage 1 reduces each of 32 shards to a 16-point
    equi-depth summary (value at local rank ceil(j*ns/K), carrying the
    row count it covers); stage 2 merges the tiny summaries by value
    order and reads decile estimates off the cumulative weight. The
    estimate is audited against the EXACT decile from a distinct-value
    CDF. Per decile: target rank, exact vs estimated cents, signed
    error, abs error in bp. Summary grid and weights are pure integer
    arithmetic (floor-division bucket boundaries), so both engines
    select identical summary points; all ratios are integer floor
    divisions — no rounding edge.

    100 TB shape: this IS the scale pattern for percentiles — a full
    sort never happens; each shard sorts locally (one exchange +
    in-partition sort; on a cluster the shard is the partition and the
    summary falls out of a mapPartitions-shaped pass), and the merge
    touches SHARDS*K = 512 rows regardless of input
    size. The exact baseline is itself scale-safe: a value-keyed
    count (mergeable) + a CDF window over DISTINCT values (bounded by
    the value domain, ~cents range, not row count). Error bound:
    est rank is within max_s(ns_s/K) of target — tighten by raising K,
    cost is K*SHARDS merge rows."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        (F.col("l_orderkey") % _Q_SHARDS).cast("bigint").alias("shard"),
        quantise("l_extendedprice", 2).alias("cents"),
    )
    # n rides the coarse bucket census below (one fewer corpus scan)
    by_shard = Window.partitionBy("shard")
    r = x.select(
        "shard",
        "cents",
        F.row_number().over(by_shard.orderBy("cents")).alias("rk"),
        F.count(F.lit(1)).over(by_shard).alias("ns"),
    )
    pts = r.filter(
        F.expr(f"(rk * {_Q_K}) div ns > ((rk - 1) * {_Q_K}) div ns")
    )
    w = pts.select(
        "shard",
        "cents",
        "rk",
        (
            F.col("rk")
            - F.coalesce(
                F.lag("rk").over(by_shard.orderBy("rk")), F.lit(0)
            )
        ).alias("wt"),
    )
    # Merge stage: the summary is SHARDS*K rows by construction, so a
    # global (unpartitioned) running-sum window over it is driver-knob
    # small — that smallness is the whole point of the sketch.
    cum = w.select(
        "cents",
        F.sum("wt")
        .over(
            Window.orderBy("cents", "shard", "rk").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cumw"),
    )
    # Exact baseline, bucketed two-pass CDF (r13 opt, guide §2.2/§2.4).
    # The old form ran a SinglePartition running-sum window over EVERY
    # distinct cents value (583k rows at sf0.1 — cents are near-unique,
    # so the "value-domain bounded" window was really a full single-
    # threaded sort) and then a BroadcastNestedLoopJoin of that CDF
    # against the 9-target grid (~2.2M predicate matches re-aggregated
    # to 9 rows). Two-pass replacement: (1) a coarse census of
    # cents-div-B buckets (map-side combined to ~|domain|/B rows) with
    # a tiny ordered window locates, IN-ROW via integer arithmetic,
    # which bucket each decile's target rank falls in; (2) only rows
    # of the <= 9 selected buckets (broadcast-semi-joined) are grouped
    # by exact cents and scanned with a bucket-partitioned window.
    # Decile d's target (d*n+9) div 10 lies in (cum_prev, cum] iff
    # (10*cum_prev) div n < d <= (10*cum) div n — the explode of that
    # integer range replaces the theta-join, emitting each decile
    # EXACTLY once, so the result is provably identical.
    _B = 4096  # cents per coarse bucket
    xb = materialize(
        x.groupBy(F.expr(f"cents div {_B}").alias("bkt"))
        .agg(F.count(F.lit(1)).alias("bcnt"))
        # ~|domain|/B rows; feeds n, the decile
        # bucket locator, AND (via the broadcast sel) the fine pass
    )
    n = xb.agg(F.sum("bcnt").cast("bigint").alias("n"))
    tgt = (
        spark.range(1, 10)
        .select(F.col("id").cast("bigint").alias("decile"))
        .crossJoin(F.broadcast(n))
        .select(
            "decile",
            F.expr("(decile * n + 9) div 10").cast("bigint").alias(
                "target_rank"
            ),
        )
    )
    est = (
        cum.join(F.broadcast(tgt), F.col("cumw") >= F.col("target_rank"))
        .groupBy("decile", "target_rank")
        .agg(F.min("cents").alias("est_cents"))
    )
    bcum = xb.select(
        "bkt",
        "bcnt",
        F.sum("bcnt")
        .over(
            Window.orderBy("bkt").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("bcum"),
    )
    sel = (
        bcum.crossJoin(F.broadcast(n))
        .select(
            "bkt",
            (F.col("bcum") - F.col("bcnt")).alias("off"),
            F.expr("(10 * (bcum - bcnt)) div n + 1").alias("d_lo"),
            F.expr("least((10 * bcum) div n, 9)").alias("d_hi"),
        )
        .filter((F.col("d_lo") <= F.col("d_hi")) & (F.col("d_lo") <= 9))
        .select("bkt", "off")
    )
    x_sel = x.join(
        F.broadcast(sel), F.expr(f"cents div {_B}") == F.col("bkt")
    )
    fine = (
        x_sel.groupBy("bkt", "off", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "cents",
            "cnt",
            (
                F.col("off")
                + F.sum("cnt").over(
                    Window.partitionBy("bkt")
                    .orderBy("cents")
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
            ).alias("cum"),
        )
    )
    exact = (
        fine.crossJoin(F.broadcast(n))
        .select(
            "cents",
            F.expr("(10 * (cum - cnt)) div n + 1").alias("d_lo"),
            F.expr("least((10 * cum) div n, 9)").alias("d_hi"),
        )
        # guarded sequence: start > stop DESCENDS in Spark (the q428
        # ANSI lesson), so empty ranges must short-circuit to []
        .select(
            "cents",
            F.explode(
                F.when(
                    F.col("d_lo") <= F.col("d_hi"),
                    F.sequence(F.col("d_lo"), F.col("d_hi")),
                ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
            ).alias("decile"),
        )
        .select(F.col("decile").cast("bigint").alias("decile"),
                F.col("cents").alias("exact_cents"))
    )
    return (
        est.join(F.broadcast(exact), "decile")
        .select(
            "decile",
            "target_rank",
            F.col("exact_cents").cast("bigint").alias("exact_cents"),
            F.col("est_cents").cast("bigint").alias("est_cents"),
            (F.col("est_cents") - F.col("exact_cents"))
            .cast("bigint")
            .alias("err_cents"),
            F.expr("(10000 * abs(est_cents - exact_cents)) div exact_cents")
            .cast("bigint")
            .alias("abs_err_bp"),
        )
        .orderBy("decile")
    )
