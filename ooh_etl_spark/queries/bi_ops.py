"""Sixteenth coverage wave: BI finishing shapes — period-over-period
growth, Pareto/ABC classification, and an ordered multi-step funnel.
The report-layer queries a warehouse serves all day; each is one or
two shuffles over pre-reduced inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table


@register(
    "q127_mom_growth",
    """
    WITH m AS (
      SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1999-01-01'
      GROUP BY yr, mo)
    SELECT yr, mo,
           round(rev_c / 100.0, 2) AS revenue,
           CAST(round(10000.0 * (rev_c - lag(rev_c) OVER w)
                      / lag(rev_c) OVER w) AS BIGINT) AS mom_growth_bp
    FROM m
    WINDOW w AS (ORDER BY yr, mo)
    ORDER BY yr, mo
    """,
)
def q127_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth in basis points (NULL for the
    first month) — the period-over-period shape every BI layer serves.
    The lag window runs over the 24-row MONTHLY aggregate, not the
    facts, so the unpartitioned window is a non-issue; growth is a
    ratio of integer cents."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    m = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.sum(quantise("o_totalprice", 2)).cast("bigint").alias("rev_c"))
    w = Window.orderBy("yr", "mo")
    prev = F.lag("rev_c").over(w)
    return m.select(
        "yr",
        "mo",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        F.round(10000.0 * (F.col("rev_c") - prev) / prev)
        .cast("bigint")
        .alias("mom_growth_bp"),
    ).orderBy("yr", "mo")


@register(
    "q128_pareto_abc",
    """
    WITH p AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS rev_c
      FROM lineitem GROUP BY l_partkey),
         r AS (
      SELECT l_partkey, rev_c,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_c,
             sum(rev_c) OVER () AS tot_c
      FROM p),
         cls AS (
      SELECT CASE WHEN cum_c * 100 <= tot_c * 80 THEN 'A'
                  WHEN cum_c * 100 <= tot_c * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev_c
      FROM r)
    SELECT abc_class,
           count(*) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS class_rev_c
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
)
def q128_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC inventory classification: parts ranked by revenue,
    classified A (first 80% of cumulative revenue), B (to 95%), C
    (tail). The running sum orders the PER-PART aggregate (one row per
    part — already reduced before the window); class boundaries are
    integer cross-products of cent sums, so the cut is engine-exact.
    At extreme part cardinality the same query runs per category
    (partitioned window) or over a revenue-threshold pre-filter."""
    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum(
            quantise(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
        )
        .cast("bigint")
        .alias("rev_c")
    )
    wcum = Window.orderBy(F.col("rev_c").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy()
    r = p.select(
        "rev_c",
        F.sum("rev_c").over(wcum).alias("cum_c"),
        F.sum("rev_c").over(wtot).alias("tot_c"),
    )
    cls = F.when(F.col("cum_c") * 100 <= F.col("tot_c") * 80, "A").when(
        F.col("cum_c") * 100 <= F.col("tot_c") * 95, "B"
    ).otherwise("C")
    return (
        r.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_c").cast("bigint").alias("class_rev_c"),
        )
        .orderBy("abc_class")
    )


@register(
    "q129_funnel_depth",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id),
         s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s1) AS n_signup,
           (SELECT count(*) FROM s2) AS n_then_click,
           (SELECT count(*) FROM s3) AS n_then_purchase
    """,
)
def q129_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (signup, then a LATER click, then a LATER
    purchase): each stage is a per-user min-timestamp reduce chained
    through a join on the previous stage — the strictly-ordered funnel
    without window scans over full history (q97's 2-step generalized).
    Every stage's output is one row per surviving user; at 10^9 users
    the chain is three reduce+join rounds, each smaller than the
    last."""
    ev = load_table(spark, sf_dir, "events")

    def stage(prev: DataFrame, t_prev: str, etype: str, t_out: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(t_prev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(t_out))
        )

    # checkpoint each stage's per-user survivors: stage N feeds both
    # stage N+1 and its own count, so without the checkpoints the
    # count chain re-ran the whole funnel per stage (audited: 6
    # parquet scans of events in one plan; now 3 — one per stage).
    s1 = materialize(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = materialize(stage(s1, "t1", "click", "t2"))
    s3 = materialize(stage(s2, "t2", "purchase", "t3"))
    c1 = s1.agg(F.count(F.lit(1)).alias("n_signup"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_then_click"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_then_purchase"))
    return c1.crossJoin(c2).crossJoin(c3)


@register(
    "q130_regex_gauntlet",
    """
    WITH x AS (
      SELECT doc_id,
             regexp_extract_all(text, '[a-z]*a[a-z]*') AS a_words,
             len(regexp_extract_all(text, 'ta')) AS n_ta,
             CASE WHEN regexp_matches(text, '^t') THEN 1 ELSE 0 END AS starts_t
      FROM documents WHERE doc_id < 100)
    SELECT doc_id,
           len(a_words) AS n_a_words,
           array_to_string(a_words[1:3], ',') AS first3,
           n_ta,
           starts_t
    FROM x ORDER BY doc_id
    """,
)
def q130_regex_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface parity: regexp_extract_all (all matches, the
    reference's global-match idiom at index.js:59-79 generalized),
    match counting, and anchored matching — per-row expressions in one
    codegen stage. Both engines run identical RE2-compatible patterns;
    the slice-and-join canonicalizes the array for the hash compare."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    a_words = F.regexp_extract_all(F.col("text"), F.lit("[a-z]*a[a-z]*"), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(a_words).alias("n_a_words"),
        F.array_join(F.slice(a_words, 1, 3), ",").alias("first3"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("ta"), F.lit(0))).alias("n_ta"),
        F.when(F.col("text").rlike("^t"), 1).otherwise(0).alias("starts_t"),
    ).orderBy("doc_id")


@register(
    "q131_rank_family",
    """
    WITH b AS (
      SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS bal
      FROM customer WHERE c_custkey < 60)
    SELECT c_mktsegment, c_custkey, bal,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           CAST(round(percent_rank() OVER w * 10000) AS BIGINT) AS pct_rank_bp,
           CAST(round(cume_dist()    OVER w * 10000) AS BIGINT) AS cume_bp,
           ntile(4)       OVER w AS quartile,
           round(nth_value(bal, 2) OVER (PARTITION BY c_mktsegment
                                         ORDER BY bal DESC, c_custkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING), 2) AS second_bal
    FROM b
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal DESC, c_custkey)
    ORDER BY c_mktsegment, rnk
    """,
)
def q131_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one window: rank,
    dense_rank, percent_rank, cume_dist (both bp-quantized — they are
    ratios of row positions, exact in both engines but rounded apart at
    the 4th decimal without quantization), ntile, and nth_value with an
    explicit unbounded frame (nth_value defaults differ between
    engines; the frame pins them to the same semantics)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 60)
    b = cust.select(
        "c_mktsegment", "c_custkey", F.round("c_acctbal", 2).alias("bal")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("bal").desc(), "c_custkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return b.select(
        "c_mktsegment",
        "c_custkey",
        "bal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        quantise(F.percent_rank().over(w), 4).alias("pct_rank_bp"),
        quantise(F.cume_dist().over(w), 4).alias("cume_bp"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.nth_value("bal", 2).over(wfull), 2).alias("second_bal"),
    ).orderBy("c_mktsegment", "rnk")


@register(
    "q132_datetime_gauntlet",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           year(ts) AS y, quarter(ts) AS q, month(ts) AS m,
           dayofyear(ts) AS doy,
           strftime(last_day(ts), '%Y-%m-%d') AS month_end,
           strftime(ts + INTERVAL '3 months', '%Y-%m-%d %H:%M:%S') AS plus_3mo,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_floor,
           CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) AS days_in
    FROM events WHERE event_id < 50
    ORDER BY event_id
    """,
)
def q132_datetime_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function parity: component extraction, quarter,
    day-of-year, month-end, month arithmetic (interval months — both engines clamp to the
    month's last day AND keep the time of day; Spark's add_months
    instead returns DATE and silently drops the time — a real trap), hour truncation, and day distances
    — every output formatted to strings or integers (the oracle-compare
    rule for temporal values). Pure per-row expressions."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ev.select(
        "event_id",
        F.date_format("ts", fmt).alias("ts_s"),
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        F.month("ts").alias("m"),
        F.dayofyear("ts").alias("doy"),
        F.date_format(F.last_day("ts"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.col("ts") + F.expr("INTERVAL 3 MONTHS"), fmt).alias("plus_3mo"),
        F.date_format(F.date_trunc("hour", "ts"), fmt).alias("hour_floor"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("days_in"),
    ).orderBy("event_id")


@register(
    "q133_conditional_aggs",
    """
    SELECT event_type,
           count(*) AS n,
           count(*) FILTER (WHERE value > 250) AS n_high,
           CAST(CASE WHEN bool_and(value > 0) THEN 1 ELSE 0 END AS BIGINT)
             AS all_positive,
           CAST(CASE WHEN bool_or(value > 480) THEN 1 ELSE 0 END AS BIGINT)
             AS any_extreme,
           round(min(value), 2) AS first_value_by_min
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def q133_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate parity: FILTERed counts (count_if),
    bool_and/bool_or (every/any), emitted as integers because DuckDB
    returns BOOLEAN and Spark BooleanType hash-canonicalize differently
    as strings. any_value is replaced by min — the deterministic
    'pick one' (any_value is legal but unordered, so it can never be
    oracle-checked)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("value") > 250).alias("n_high"),
            F.when(F.bool_and(F.col("value") > 0), 1).otherwise(0).cast("bigint").alias("all_positive"),
            F.when(F.bool_or(F.col("value") > 480), 1).otherwise(0).cast("bigint").alias("any_extreme"),
            F.round(F.min("value"), 2).alias("first_value_by_min"),
        )
        .orderBy("event_type")
    )


@register(
    "q197_gini_by_nation",
    """
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders GROUP BY o_custkey),
         ranked AS (
      SELECT c_nationkey, rev_c,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY rev_c, c_custkey) AS i
      FROM customer JOIN rev ON c_custkey = o_custkey),
         g AS (
      SELECT c_nationkey, count(*) AS n_customers,
             sum(i * rev_c) AS iwx, sum(rev_c) AS tot
      FROM ranked GROUP BY c_nationkey)
    SELECT n_name AS nation,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(round(1000000 * ((2.0 * iwx) / (n_customers * tot)
                                 - (n_customers + 1.0) / n_customers))
                AS BIGINT) AS gini_e6
    FROM g JOIN nation ON c_nationkey = n_nationkey
    ORDER BY nation
    """,
)
def q197_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient per nation, by the exact
    rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over customers
    sorted ascending by revenue (ties broken by custkey, so the total
    order — and hence the statistic — is deterministic in both
    engines). Revenue enters as integer cents (the engine money
    policy, functions/money.py), so sum(i*x) and sum(x) are exact
    integers; the per-nation double math is a fixed expression over
    two exact integers, identical across engines, quantized to 1e-6.

    100 TB design: one fact shuffle (orders groupBy custkey), one
    customer join, then the rank window is PARTITIONED by nation —
    per-partition external sort, no global window. The final stats
    are one map-side-combinable agg per nation and the nation name
    join broadcasts. bigint headroom: i*rev_c tops out near 1e15 at
    sf0.1-like cardinalities; at extreme per-nation cardinality the
    decimal(38,0) accumulator (money.cents_sum wide=True) is the
    documented swap."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(quantise("o_totalprice", 2)).alias("rev_c")
    )
    cr = cust.join(rev, cust.c_custkey == rev.o_custkey).select(
        "c_custkey", "c_nationkey", "rev_c"
    )
    w = Window.partitionBy("c_nationkey").orderBy("rev_c", "c_custkey")
    ranked = cr.select(
        "c_nationkey", "rev_c", F.row_number().over(w).alias("i")
    )
    g = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("i") * F.col("rev_c")).alias("iwx"),
        F.sum("rev_c").alias("tot"),
    )
    gini = (2.0 * F.col("iwx")) / (
        F.col("n_customers") * F.col("tot")
    ) - (F.col("n_customers") + 1.0) / F.col("n_customers")
    return (
        g.join(F.broadcast(nation), g.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_customers").cast("bigint").alias("n_customers"),
            quantise(gini, 6).alias("gini_e6"),
        )
        .orderBy("nation")
    )


@register(
    "q200_hhi_concentration",
    """
    WITH srev AS (
      SELECT s_nationkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS rev_c
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey, s_suppkey),
         agg AS (
      SELECT s_nationkey, count(*) AS n_suppliers,
             sum(CAST(rev_c AS HUGEINT) * rev_c) AS sumsq,
             sum(rev_c) AS tot
      FROM srev GROUP BY s_nationkey)
    SELECT n_name AS nation, CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(round(1000000 * (CAST(sumsq AS DOUBLE)
                 / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))))
                AS BIGINT) AS hhi_e6
    FROM agg JOIN nation ON s_nationkey = n_nationkey
    ORDER BY nation
    """,
)
def q200_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    per nation — the antitrust-standard concentration measure, HHI =
    sum_i share_i^2. The Gini twin (q197) measures inequality of the
    distribution; HHI measures market power of the top. Revenue is
    integer cents; the share squares sum in a WIDE accumulator
    (decimal(38,0) Spark-side, HUGEINT in DuckDB — sum of squares of
    ~1e8-cent suppliers crosses int64 around 2e3 suppliers, exactly
    the silent-wrap hazard functions/money.py documents), and both
    exact integers widen to double identically in each engine before
    the single division, quantized to 1e-6.

    100 TB design: one fact shuffle (lineitem keyed by supplier;
    the supplier dim joins broadcast), one nation-keyed reduction of
    the per-supplier table, broadcast name join. No windows at all."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    srev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(
            F.sum(
                quantise(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
            ).alias("rev_c")
        )
    )
    agg = srev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c")).alias("sumsq"),
        F.sum("rev_c").alias("tot"),
    )
    return (
        agg.join(F.broadcast(nation), agg.s_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            quantise(
                F.col("sumsq").cast("double")
                / (F.col("tot").cast("double") * F.col("tot").cast("double")),
                6,
            )
            .alias("hhi_e6"),
        )
        .orderBy("nation")
    )


@register(
    "q208_weighted_median",
    """
    WITH p AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             sum(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2),
         c AS (
      SELECT flag, price_c, w,
             sum(w) OVER (PARTITION BY flag ORDER BY price_c
               ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(w) OVER (PARTITION BY flag) AS totw
      FROM p)
    SELECT flag,
           round(min(price_c) / 100.0, 2) AS weighted_median,
           CAST(min(totw) AS BIGINT) AS total_qty
    FROM c
    WHERE 2 * cumw >= totw
    GROUP BY flag
    ORDER BY flag
    """,
)
def q208_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted (lower) median: the price at which half the
    total QUANTITY sits at-or-below — the inventory-weighted price
    statistic plain median misstates when order sizes vary. Defined
    as min{x : 2*cumw(x) >= totw} (type-1, no interpolation), which
    is deterministic from the (price, weight) multiset alone — tie
    order within equal prices cannot change it.

    100 TB design: the fact table pre-reduces to (group, DISTINCT
    price) weights in one map-combined shuffle; the cumulative window
    then runs over the distinct-price table, partitioned by group —
    bounded by price cardinality, not row count (integer-cents prices
    make that a true bound). Weights and cumulative sums are exact
    integers; the only double math is the final /100 display cast."""
    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        quantise("l_extendedprice", 2).alias("price_c"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    w_cum = Window.partitionBy("flag").orderBy("price_c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("flag")
    c = p.select(
        "flag",
        "price_c",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("totw"),
    )
    return (
        c.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("flag")
        .agg(
            F.round(F.min("price_c") / 100.0, 2).alias("weighted_median"),
            F.min("totw").cast("bigint").alias("total_qty"),
        )
        .orderBy("flag")
    )


@register(
    "q216_simpsons_paradox",
    """
    WITH s AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
             sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R'
                      THEN 1 ELSE 0 END) AS r_a,
             sum(CASE WHEN l_discount < 0.05 THEN 1 ELSE 0 END) AS n_b,
             sum(CASE WHEN l_discount < 0.05 AND l_returnflag = 'R'
                      THEN 1 ELSE 0 END) AS r_b
      FROM lineitem
      GROUP BY 1),
         p AS (
      SELECT sum(n_a) AS tn_a, sum(r_a) AS tr_a,
             sum(n_b) AS tn_b, sum(r_b) AS tr_b
      FROM s)
    SELECT s.yr, CAST(s.n_a AS BIGINT) AS n_a, CAST(s.r_a AS BIGINT) AS r_a,
           CAST(s.n_b AS BIGINT) AS n_b, CAST(s.r_b AS BIGINT) AS r_b,
           CAST(sign(s.r_a * s.n_b - s.r_b * s.n_a) AS BIGINT)
             AS dir_stratum,
           CAST(sign(p.tr_a * p.tn_b - p.tr_b * p.tn_a) AS BIGINT)
             AS dir_pooled,
           CAST(CASE WHEN s.n_a > 0 AND s.n_b > 0
                      AND sign(s.r_a * s.n_b - s.r_b * s.n_a)
                          * sign(p.tr_a * p.tn_b - p.tr_b * p.tn_a) = -1
                     THEN 1 ELSE 0 END AS BIGINT) AS flipped
    FROM s CROSS JOIN p
    ORDER BY yr
    """,
)
def q216_simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen (Simpson 1951; the canonical
    aggregation trap): compares the return-rate direction of
    high-discount (>= 5%) vs low-discount lineitems
    POOLED against its direction within every ship-year stratum, and
    flags strata whose sign reverses — the signal that a dashboard's
    topline comparison is confounded by mix shift and must be reported
    stratified. This is the audit a BI layer should run before
    publishing any two-group rate comparison.

    Engine-exact by construction: rates are never divided — rate_A >
    rate_B is evaluated as r_a·n_b > r_b·n_a on exact bigint counts
    (cross-multiplication, the q140/q210 integer-comparison move), so
    sign() agrees bit-for-bit across engines with zero quantization.
    Shape: ONE conditional aggregate over the fact scan,
    the pooled margin is a 1-row broadcast, and
    the stratum table is bounded by |years| — the whole paradox check
    costs a single shuffle at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    hi = F.col("l_discount") >= 0.05
    s = (
        li.select(
            F.year("l_shipdate").cast("bigint").alias("yr"),
            hi.cast("long").alias("is_a"),
            (hi & (F.col("l_returnflag") == "R")).cast("long").alias("is_ra"),
            (~hi).cast("long").alias("is_b"),
            ((~hi) & (F.col("l_returnflag") == "R"))
            .cast("long")
            .alias("is_rb"),
        )
        .groupBy("yr")
        .agg(
            F.sum("is_a").alias("n_a"),
            F.sum("is_ra").alias("r_a"),
            F.sum("is_b").alias("n_b"),
            F.sum("is_rb").alias("r_b"),
        )
    )
    p = s.agg(
        F.sum("n_a").alias("tn_a"),
        F.sum("r_a").alias("tr_a"),
        F.sum("n_b").alias("tn_b"),
        F.sum("r_b").alias("tr_b"),
    )
    dir_s = F.signum(
        (F.col("r_a") * F.col("n_b") - F.col("r_b") * F.col("n_a")).cast(
            "double"
        )
    ).cast("bigint")
    dir_p = F.signum(
        (F.col("tr_a") * F.col("tn_b") - F.col("tr_b") * F.col("tn_a")).cast(
            "double"
        )
    ).cast("bigint")
    return (
        s.crossJoin(F.broadcast(p))
        .select(
            "yr",
            "n_a",
            "r_a",
            "n_b",
            "r_b",
            dir_s.alias("dir_stratum"),
            dir_p.alias("dir_pooled"),
            F.when(
                (F.col("n_a") > 0)
                & (F.col("n_b") > 0)
                & (dir_s * dir_p == -1),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("flipped"),
        )
        .orderBy("yr")
    )


@register(
    "q252_price_elasticity",
    """
    WITH obs AS (
      SELECT CAST(round(ln(l_quantity) * 1000000) AS BIGINT) AS lq_u,
             CAST(round(ln(l_extendedprice * (1 - l_discount) / l_quantity)
                        * 1000000) AS BIGINT) AS lp_u
      FROM lineitem
      WHERE l_quantity > 0 AND l_extendedprice > 0 AND l_discount < 1),
         s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(lp_u AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(lq_u AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(lp_u AS DECIMAL(38,0))
                      * CAST(lq_u AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(lp_u AS DECIMAL(38,0))
                      * CAST(lp_u AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM obs)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(round(1000000.0 * (n * sxy - sx * sy)
                      / (n * sxx - sx * sx)) AS BIGINT)
             AS elasticity_e6,
           CAST(round((sy * 1.0 / n - ((n * sxy - sx * sy) * 1.0
                                       / (n * sxx - sx * sx))
                                      * sx / n) / 1000.0) AS BIGINT)
             AS intercept_milli
    FROM s
    """,
)
def q252_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand by log-log OLS (the econometric
    workhorse: elasticity = d ln q / d ln p = the slope of ln q on
    ln p): unit price derives from extended price over quantity, both
    logs quantize to integer micro-nats PER ROW, and the slope
    (n·Σxy − ΣxΣy)/(n·Σxx − Σx²) assembles from five moment sums
    accumulated in DECIMAL(38,0) — int64 would overflow Σx² at ~1e5
    rows of micro-nat logs (caught at sf0.01), so this query applies
    the money.py wide-accumulator policy from the start; the exact
    decimal sums convert to double ONCE for the closed-form (both
    engines round the same exact value to the same double).

    Fixture honesty: quantity and price are synthesized independently,
    so the recovered elasticity is near zero — the pytest-worthy
    property is that BOTH engines derive the same micro-exact
    coefficients from the same five sums, which is what the oracle
    pins; on real transaction data the same query estimates the real
    curve. Shape: one narrow pass + a 1-row moment aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0)
        & (F.col("l_extendedprice") > 0)
        & (F.col("l_discount") < 1)
    )
    lq = quantise(F.log(F.col("l_quantity")), 6)
    lp = quantise(
        F.log(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            / F.col("l_quantity")
        ),
        6,
    )
    obs = li.select(lq.alias("lq_u"), lp.alias("lp_u"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("lp_u")).cast("double").alias("sx"),
        F.sum(dec("lq_u")).cast("double").alias("sy"),
        F.sum(dec("lp_u") * dec("lq_u")).cast("double").alias("sxy"),
        F.sum(dec("lp_u") * dec("lp_u")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0 / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        quantise(slope, 6).alias("elasticity_e6"),
        F.round(
            (F.col("sy") * 1.0 / F.col("n") - slope * F.col("sx") / F.col("n"))
            / 1000.0
        )
        .cast("bigint")
        .alias("intercept_milli"),
    )


@register(
    "q254_rfm_segments",
    """
    WITH mx AS (SELECT max(ts) AS now_ts FROM events),
         per_user AS (
      SELECT e.user_id,
             CAST(date_diff('day', max(e.ts), mx.now_ts) AS BIGINT)
               AS recency_d,
             count(*) AS frequency,
             sum(CAST(round(e.value * 100) AS BIGINT)) AS monetary_c
      FROM events e CROSS JOIN mx
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id, mx.now_ts),
         cuts AS (
      SELECT CAST(quantile_disc(recency_d, 0.4) AS BIGINT) AS r_hi,
             CAST(quantile_disc(frequency, 0.6) AS BIGINT) AS f_lo,
             CAST(quantile_disc(monetary_c, 0.6) AS BIGINT) AS m_lo
      FROM per_user),
         seg AS (
      SELECT u.user_id,
             CASE WHEN u.recency_d <= c.r_hi THEN 'R1' ELSE 'R0' END
             || CASE WHEN u.frequency >= c.f_lo THEN 'F1' ELSE 'F0' END
             || CASE WHEN u.monetary_c >= c.m_lo THEN 'M1' ELSE 'M0' END
               AS segment,
             u.monetary_c
      FROM per_user u CROSS JOIN cuts c)
    SELECT segment,
           count(*) AS n_users,
           CAST(sum(monetary_c) AS BIGINT) AS revenue_c
    FROM seg
    GROUP BY segment
    ORDER BY segment
    """,
)
def q254_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (Hughes 1994, the retention-marketing
    workhorse): each purchaser scores Recent (last purchase within the
    40th-percentile recency), Frequent (purchase count at or above the
    60th percentile) and Monetary (revenue at or above the 60th
    percentile), and the 8 binary segments census users and revenue —
    'R1F1M1' is the loyal core, 'R0F1M1' the lapsing high-value
    cohort a win-back campaign targets.

    Scale-first: the textbook ntile(5) needs a GLOBAL user sort; here
    the cuts are three exact discrete percentiles reduced to a 1-ROW
    BROADCAST, and segment assignment is a narrow per-row CASE — no
    global window ever (q139's threshold-broadcast contract; swap
    approx_percentile at extreme user counts, everything downstream
    unchanged). All thresholds land on exact integers (days, counts,
    cents), so the segment boundaries are engine-identical.
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now_ts"))
    per_user = materialize(
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mx))
        .groupBy("user_id", "now_ts")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(quantise("value", 2)).alias("monetary_c"),
        )
        .select(
            "user_id",
            F.datediff(F.col("now_ts"), F.col("last_ts"))
            .cast("bigint")
            .alias("recency_d"),
            "frequency",
            "monetary_c",
        )
        # |purchasers| rows; feeds the percentile
        # cuts AND segment assignment (purchase rollup ran twice)
    )
    cuts = per_user.agg(
        F.expr("percentile_disc(0.4) WITHIN GROUP (ORDER BY recency_d)")
        .cast("bigint")
        .alias("r_hi"),
        F.expr("percentile_disc(0.6) WITHIN GROUP (ORDER BY frequency)")
        .cast("bigint")
        .alias("f_lo"),
        F.expr("percentile_disc(0.6) WITHIN GROUP (ORDER BY monetary_c)")
        .cast("bigint")
        .alias("m_lo"),
    )
    seg = per_user.crossJoin(F.broadcast(cuts)).select(
        F.concat(
            F.when(F.col("recency_d") <= F.col("r_hi"), "R1").otherwise("R0"),
            F.when(F.col("frequency") >= F.col("f_lo"), "F1").otherwise("F0"),
            F.when(F.col("monetary_c") >= F.col("m_lo"), "M1").otherwise("M0"),
        ).alias("segment"),
        "monetary_c",
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("monetary_c").cast("bigint").alias("revenue_c"),
        )
        .orderBy("segment")
    )


@register(
    "q256_pareto_elbow",
    """
    WITH rev AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS rev_c
      FROM lineitem GROUP BY l_partkey),
         ranked AS (
      SELECT rev_c,
             row_number() OVER (ORDER BY rev_c DESC, l_partkey) AS i,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
      FROM rev),
         n AS (
      SELECT max(i) AS n, max(cum_c) AS tot FROM ranked),
         dist AS (
      SELECT r.i, r.cum_c,
             (n.n - 1) * (r.cum_c - 0) - (n.tot - 0) * (r.i - 1) AS cross2
      FROM ranked r CROSS JOIN n)
    SELECT CAST(i AS BIGINT) AS elbow_rank,
           CAST(cum_c AS BIGINT) AS cum_revenue_c,
           CAST((SELECT n FROM n) AS BIGINT) AS n_parts,
           CAST(FLOOR(10000.0 * cum_c / (SELECT tot FROM n)) AS BIGINT)
             AS cum_share_bp
    FROM dist
    ORDER BY cross2 DESC, i
    LIMIT 1
    """,
)
def q256_pareto_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elbow detection on the Pareto curve (the 'kneedle' heuristic,
    Satopää 2011): the rank where the cumulative-revenue curve bends
    hardest — the principled cutoff for 'how many SKUs really matter'
    (and the same geometry that picks k from a k-means inertia curve).
    The elbow maximizes distance to the chord from (1, c₁) to
    (n, total); since only the argmax matters, the distance reduces to
    the CROSS PRODUCT (n−1)·cum_i − total·(i−1) — pure exact bigint,
    no sqrt, no division (the q216 cross-multiplication move applied
    to geometry), ties to the earliest rank.

    Scale note: the ranked curve is a global window over the PART
    dimension (catalog-sized, not fact-sized — the q196 bounded-table
    contract); the fact-scale work is one part-keyed revenue
    aggregate. Chord anchored at (1, 0): with c₁ folded out both
    engines agree exactly and the argmax is unchanged.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = quantise(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("rev_c"))
    w = Window.orderBy(F.desc("rev_c"), "l_partkey")
    ranked = rev.select(
        "rev_c",
        F.row_number().over(w).alias("i"),
        F.sum("rev_c")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_c"),
    )
    n = ranked.agg(F.max("i").alias("n"), F.max("cum_c").alias("tot"))
    dist = ranked.crossJoin(F.broadcast(n)).select(
        "i",
        "cum_c",
        "n",
        "tot",
        # decimal(38,0): (n-1)*cum_c is catalog-rank x total-cents and
        # exceeds BIGINT long before 100 TB; the oracle side is already
        # HUGEINT (DuckDB window sums). Exact argmax either way.
        (
            (F.col("n") - 1).cast("decimal(38,0)") * F.col("cum_c")
            - F.col("tot").cast("decimal(38,0)") * (F.col("i") - 1)
        ).alias("cross2"),
    )
    return (
        dist.orderBy(F.desc("cross2"), "i")
        .limit(1)
        .select(
            F.col("i").cast("bigint").alias("elbow_rank"),
            F.col("cum_c").cast("bigint").alias("cum_revenue_c"),
            F.col("n").cast("bigint").alias("n_parts"),
            F.floor(10000.0 * F.col("cum_c") / F.col("tot"))
            .cast("bigint")
            .alias("cum_share_bp"),
        )
    )


@register(
    "q288_mix_shift_decomposition",
    """
    WITH b AS (
      SELECT min(epoch_ms(CAST(o_orderdate AS TIMESTAMP))) AS lo,
             max(epoch_ms(CAST(o_orderdate AS TIMESTAMP))) AS hi
      FROM orders),
         t AS (
      SELECT o.o_custkey,
             CASE WHEN epoch_ms(CAST(o.o_orderdate AS TIMESTAMP))
                       >= CAST((b.lo + b.hi) // 2 AS BIGINT)
                  THEN 1 ELSE 0 END AS period,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS rev_c
      FROM orders o CROSS JOIN b),
         seg AS (
      SELECT c.c_mktsegment AS segment, t.period,
             count(*) AS n, sum(t.rev_c) AS rev_c
      FROM t JOIN customer c ON c.c_custkey = t.o_custkey
      GROUP BY 1, 2),
         w AS (
      SELECT s.segment,
             max(CASE WHEN period = 0 THEN n ELSE 0 END) AS n0,
             max(CASE WHEN period = 1 THEN n ELSE 0 END) AS n1,
             max(CASE WHEN period = 0 THEN rev_c ELSE 0 END) AS r0,
             max(CASE WHEN period = 1 THEN rev_c ELSE 0 END) AS r1
      FROM seg s GROUP BY s.segment),
         tot AS (
      SELECT sum(n0) AS tn0, sum(n1) AS tn1 FROM w)
    SELECT w.segment,
           CAST(w.r1 - w.r0 AS BIGINT) AS delta_c,
           -- mix effect: volume-share change at the OLD per-order rate
           CAST(round((w.n1 * 1.0 / t.tn1 - w.n0 * 1.0 / t.tn0)
                      * t.tn1 * (w.r0 * 1.0 / w.n0)) AS BIGINT)
             AS mix_effect_c,
           -- rate effect: per-order value change at the NEW volume
           CAST(round(w.n1 * (w.r1 * 1.0 / w.n1 - w.r0 * 1.0 / w.n0))
                AS BIGINT) AS rate_effect_c
    FROM w CROSS JOIN tot t
    WHERE w.n0 > 0 AND w.n1 > 0
    ORDER BY w.segment
    """,
)
def q288_mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue mix-shift decomposition (the FP&A price/volume-mix
    bridge): each market segment's period-over-period revenue delta
    splits into a MIX effect (its order-volume share moved, valued at
    the old per-order rate) and a RATE effect (its per-order value
    moved, at the new volume) — the analysis that says whether growth
    came from selling MORE or selling BIGGER, per segment. Periods
    split at the exact epoch-ms midpoint (q258's convention).

    Exactness: the decomposition is per-segment arithmetic on exact
    integer (n, revenue-cents) cells; each effect is one double
    expression on exact ints, rounded to cents. Shape: one
    (segment, period) aggregate over the fact scan (customer dim
    broadcast), a 10-row pivot, and 1-row totals.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    b = orders.agg(F.min(ms).alias("lo"), F.max(ms).alias("hi"))
    t = orders.crossJoin(F.broadcast(b)).select(
        "o_custkey",
        (ms >= F.floor((F.col("lo") + F.col("hi")) / 2).cast("bigint"))
        .cast("int")
        .alias("period"),
        quantise("o_totalprice", 2).alias("rev_c"),
    )
    seg = (
        t.join(F.broadcast(cust.select("c_custkey", "c_mktsegment")),
               t.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "period")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rev_c").alias("rev_c"))
    )
    # checkpoint the 10-row pivot: it feeds the totals AND the output
    # (the fact aggregate — including its bounds scan — ran twice).
    w = materialize(seg.groupBy("segment").agg(
        F.max(F.when(F.col("period") == 0, F.col("n")).otherwise(0)).alias("n0"),
        F.max(F.when(F.col("period") == 1, F.col("n")).otherwise(0)).alias("n1"),
        F.max(F.when(F.col("period") == 0, F.col("rev_c")).otherwise(0)).alias("r0"),
        F.max(F.when(F.col("period") == 1, F.col("rev_c")).otherwise(0)).alias("r1"),
    ))
    tot = w.agg(F.sum("n0").alias("tn0"), F.sum("n1").alias("tn1"))
    rate0 = F.col("r0") * 1.0 / F.col("n0")
    return (
        w.crossJoin(F.broadcast(tot))
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "segment",
            (F.col("r1") - F.col("r0")).cast("bigint").alias("delta_c"),
            F.round(
                (
                    F.col("n1") * 1.0 / F.col("tn1")
                    - F.col("n0") * 1.0 / F.col("tn0")
                )
                * F.col("tn1")
                * rate0
            )
            .cast("bigint")
            .alias("mix_effect_c"),
            F.round(
                F.col("n1")
                * (F.col("r1") * 1.0 / F.col("n1") - rate0)
            )
            .cast("bigint")
            .alias("rate_effect_c"),
        )
        .orderBy("segment")
    )


# --- q373: Laspeyres / Paasche / Fisher price indices (round 6) -------------
_DUCK_PRICE_IDX = """
    WITH pm AS (
      SELECT l_partkey AS pk,
             strftime(l_shipdate, '%Y-%m') AS mo,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS spend_c,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2),
         base AS (
      SELECT pk, spend_c * 1.0 / qty AS p0, qty AS q0
      FROM pm WHERE mo = (SELECT min(mo) FROM pm)),
         cur AS (
      SELECT pm.mo, pm.pk, pm.spend_c * 1.0 / pm.qty AS pt, pm.qty AS qt,
             base.p0, base.q0
      FROM pm JOIN base USING (pk)),
         terms AS (
      SELECT mo,
             CAST(round(100.0 * pt * q0) AS BIGINT) AS ptq0_cc,
             CAST(round(100.0 * p0 * q0) AS BIGINT) AS p0q0_cc,
             CAST(round(100.0 * pt * qt) AS BIGINT) AS ptqt_cc,
             CAST(round(100.0 * p0 * qt) AS BIGINT) AS p0qt_cc
      FROM cur),
         idx AS (
      SELECT mo, CAST(count(*) AS BIGINT) AS n_parts,
             sum(ptq0_cc) * 1.0 / sum(p0q0_cc) AS lasp,
             sum(ptqt_cc) * 1.0 / sum(p0qt_cc) AS paas
      FROM terms GROUP BY mo)
    SELECT mo AS month, n_parts,
           CAST(round(1000000.0 * lasp) AS BIGINT) AS laspeyres_e6,
           CAST(round(1000000.0 * paas) AS BIGINT) AS paasche_e6,
           CAST(round(1000000.0 * sqrt(lasp * paas)) AS BIGINT) AS fisher_e6
    FROM idx ORDER BY month
"""


@register("q373_price_indices", _DUCK_PRICE_IDX)
def q373_price_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly Laspeyres, Paasche, and Fisher price indices over the
    lineitem unit values (Laspeyres 1871; Paasche 1874; Fisher 1922 —
    the 'ideal' geometric mean; ILO CPI manual ch.15 for the
    unit-value practice): base-month quantity weights vs current
    weights answer 'how much did PRICES move' separately from 'how
    much did the MIX move' — the deflator q127's raw month-over-month
    revenue growth conflates.

    Exactness: per-(part, month) spend and quantity reduce to exact
    integer cents/units; unit values are identical doubles from
    identical integers; each part's four cross-terms quantize to
    centi-cents BEFORE the month sums (associative integer pooling),
    and the index ratios touch doubles once at the end.

    100 TB shape (r14): ONE pk-keyed fact shuffle serves the
    (part, month) aggregate AND the pk-partitioned window that
    attaches the base-month values (no checkpoint, no broadcast of the
    |parts|-row base slice — only the 1-row base-month scalar
    broadcasts, derived from a shipdate-only scan); index arithmetic
    runs on |parts| x |months| rows. The Fisher sqrt is a per-month
    scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13 opt (guide §2.3 narrower types / §1.2 per-task work): group on
    # the INTEGER month key year*100+month — two cheap field extracts
    # per row instead of a per-row DateTimeFormatter, and an 8-byte
    # shuffle key instead of a 7-char string. The 'yyyy-MM' string is
    # re-derived bijectively on the ~84 output rows only.
    #
    # r14 opt (guide §2.4 "share one exchange"): the eager (pk, month)
    # checkpoint — profiled at 1.2-1.5s of the query's 2.2s in r13 —
    # existed so three consumers (base-month scalar, base slice, current
    # rows) would not each re-run the fact aggregate. Instead, ONE
    # pk-keyed exchange now serves both the (pk, mo) aggregate AND a
    # pk-partitioned window that attaches the base-month (spend, qty)
    # in place of the broadcast self-join; the base-month scalar comes
    # from a l_shipdate-only scan (column-pruned, no shuffle). No
    # checkpoint job, no (pk,mo)->pk re-shuffle: the window reuses the
    # repartition's partitioning (alias-aware output partitioning).
    mo_of = F.year("l_shipdate") * 100 + F.month("l_shipdate")
    mo0 = li.agg(F.min(mo_of).cast("int").alias("mo0"))
    pm = (
        li.select(
            F.col("l_partkey").alias("pk"),
            mo_of.cast("int").alias("mo"),
            "l_extendedprice",
            "l_quantity",
        )
        .repartition(F.col("pk"))
        .groupBy("pk", "mo")
        .agg(
            F.sum(quantise("l_extendedprice", 2))
            .cast("bigint")
            .alias("spend_c"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    wpk = Window.partitionBy("pk")
    cur = (
        pm.crossJoin(F.broadcast(mo0))
        .select(
            "mo",
            "spend_c",
            "qty",
            F.max(F.when(F.col("mo") == F.col("mo0"), F.col("spend_c")))
            .over(wpk)
            .alias("spend0_c"),
            F.max(F.when(F.col("mo") == F.col("mo0"), F.col("qty")))
            .over(wpk)
            .alias("q0"),
        )
        .filter(F.col("q0").isNotNull())
        .select(
            "mo",
            (F.col("spend_c") * 1.0 / F.col("qty")).alias("pt"),
            F.col("qty").alias("qt"),
            (F.col("spend0_c") * 1.0 / F.col("q0")).alias("p0"),
            "q0",
        )
    )
    terms = cur.select(
        "mo",
        F.round(100.0 * F.col("pt") * F.col("q0")).cast("bigint").alias("ptq0_cc"),
        F.round(100.0 * F.col("p0") * F.col("q0")).cast("bigint").alias("p0q0_cc"),
        F.round(100.0 * F.col("pt") * F.col("qt")).cast("bigint").alias("ptqt_cc"),
        F.round(100.0 * F.col("p0") * F.col("qt")).cast("bigint").alias("p0qt_cc"),
    )
    idx = terms.groupBy("mo").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        (F.sum("ptq0_cc") * 1.0 / F.sum("p0q0_cc")).alias("lasp"),
        (F.sum("ptqt_cc") * 1.0 / F.sum("p0qt_cc")).alias("paas"),
    )
    return idx.select(
        F.format_string("%04d-%02d", F.expr("mo div 100"), F.expr("mo % 100")).alias("month"),
        "n_parts",
        quantise("lasp", 6).alias("laspeyres_e6"),
        quantise("paas", 6).alias("paasche_e6"),
        quantise(F.sqrt(F.col("lasp") * F.col("paas")), 6)
        .alias("fisher_e6"),
    ).orderBy("month")


# --- q390: Theil / Atkinson inequality indices (round 6) --------------------
_DUCK_INEQ = """
    WITH x AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(c) * 1.0 / count(*) AS mu
      FROM x),
         terms AS (
      SELECT CAST(round(1000000.0 * (x.c / m.mu) * ln(x.c / m.mu))
                  AS BIGINT) AS t_u,
             CAST(round(1000000.0 * ln(x.c / m.mu)) AS BIGINT) AS l_u,
             CAST(round(1000000.0 * sqrt(x.c / m.mu)) AS BIGINT) AS s_u
      FROM x CROSS JOIN m),
         agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t_u) AS BIGINT) AS st,
             CAST(sum(l_u) AS BIGINT) AS sl,
             CAST(sum(s_u) AS BIGINT) AS ss
      FROM terms)
    SELECT n,
           CAST(round(st * 1.0 / n / 1000) AS BIGINT) AS theil_t_e3,
           CAST(round(-sl * 1.0 / n / 1000) AS BIGINT) AS theil_l_e3,
           CAST(round(1000.0 * (1.0 - (ss * 1.0 / n / 1000000.0)
                                      * (ss * 1.0 / n / 1000000.0)))
                AS BIGINT) AS atkinson_half_e3
    FROM agg
"""


@register("q390_inequality_indices", _DUCK_INEQ)
def q390_inequality_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-entropy inequality indices over order values —
    Theil's T and L (Theil, 'Economics and Information Theory' 1967)
    and the Atkinson index at inequality-aversion 0.5 (Atkinson, JET
    1970): T = E[(x/mu) ln(x/mu)], L = -E[ln(x/mu)],
    A_0.5 = 1 - (E[sqrt(x/mu)])^2. Unlike q197's Gini (a rank
    statistic needing a global sort or all-pairs trick), the entropy
    family is ONE moment pass — and T is subgroup-DECOMPOSABLE, the
    property BI teams need to split inequality into between-segment
    and within-segment parts.

    Exactness: mu is a rational of exact integer cents; each row's
    three transform terms quantize to micro before summation; finals
    are double touches on exact integer sums.

    100 TB shape: two map-side-combinable passes (mean, then the three
    moment sums with the 1-row mean broadcast). No sort, no pairs —
    the scale advantage over rank-based inequality measures."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        quantise("o_totalprice", 2).alias("c")
    )
    m = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        (F.sum("c") * 1.0 / F.count(F.lit(1))).alias("mu"),
    )
    r = F.col("c") / F.col("mu")
    terms = x.crossJoin(F.broadcast(m)).select(
        F.round(1000000.0 * r * F.log(r)).cast("bigint").alias("t_u"),
        quantise(F.log(r), 6).alias("l_u"),
        quantise(F.sqrt(r), 6).alias("s_u"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t_u").cast("bigint").alias("st"),
        F.sum("l_u").cast("bigint").alias("sl"),
        F.sum("s_u").cast("bigint").alias("ss"),
    )
    smean = F.col("ss") * 1.0 / F.col("n") / 1000000.0
    return agg.select(
        "n",
        F.round(F.col("st") * 1.0 / F.col("n") / 1000).cast("bigint").alias(
            "theil_t_e3"
        ),
        F.round(-F.col("sl") * 1.0 / F.col("n") / 1000).cast("bigint").alias(
            "theil_l_e3"
        ),
        quantise(1.0 - smean * smean, 3).alias("atkinson_half_e3"),
    )


# --- q391: inventory reorder points (round 6) -------------------------------
_ROP_LEAD_DAYS = 7  # replenishment lead time
_ROP_Z_E6 = 1644854  # z for 95% cycle service level, micro

_DUCK_ROP = f"""
    WITH daily AS (
      SELECT l_partkey AS pk,
             CAST(epoch(CAST(l_shipdate AS DATE)) / 86400 AS BIGINT) AS d,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2),
         span AS (
      SELECT CAST(max(d) - min(d) + 1 AS BIGINT) AS n_days FROM daily),
         mom AS (
      SELECT pk,
             CAST(sum(q) AS BIGINT) AS sq,
             CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE) AS sqq,
             CAST(count(*) AS BIGINT) AS active_days
      FROM daily GROUP BY pk),
         stats AS (
      -- zero-filled day grid WITHOUT materializing it: mean and var
      -- over n_days including zero-demand days, from active-day sums
      SELECT mom.pk, span.n_days, mom.active_days,
             mom.sq * 1.0 / span.n_days AS mu,
             (mom.sqq - mom.sq * 1.0 * mom.sq / span.n_days)
               / (span.n_days - 1) AS var
      FROM mom CROSS JOIN span)
    SELECT pk AS partkey, n_days, active_days,
           CAST(round(1000.0 * mu) AS BIGINT) AS daily_mean_milli,
           CAST(round(1000.0 * sqrt(var)) AS BIGINT) AS daily_sd_milli,
           CAST(ceil(mu * {_ROP_LEAD_DAYS}
                     + ({_ROP_Z_E6} / 1000000.0)
                       * sqrt(var * {_ROP_LEAD_DAYS})) AS BIGINT)
             AS reorder_point_units
    FROM stats ORDER BY partkey
"""


@register("q391_reorder_points", _DUCK_ROP)
def q391_reorder_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety-stock reorder points (Hadley & Whitin, 'Analysis of
    Inventory Systems' 1963; the textbook ROP = mu_L + z sigma_L):
    per-part daily demand mean/variance over the FULL calendar
    (zero-demand days included — computed from active-day sums plus
    the span, never by materializing a part x day grid), then
    ROP = lead-time demand + z * lead-time sigma at a 95% service
    level. The replenishment-trigger table a supply-chain warehouse
    recomputes nightly; q64's excess-stock audit is its static
    complement.

    Exactness: daily quantities are integer sums; the zero-day
    correction uses exact integer moments and the span scalar; the
    only doubles are the final mu/var/sqrt on exact integers.

    100 TB shape: one fact shuffle to (part, day) partial sums
    (map-side combined), one part-keyed moment aggregate, one 1-row
    span broadcast. The grid is NEVER materialized — the zero-fill is
    algebra, not rows (n_days >> active_days at deep catalogs)."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.floor(F.unix_timestamp(F.col("l_shipdate").cast("date")) / 86400)
        .cast("bigint")
        .alias("d"),
    ).agg(F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    daily = materialize(daily)
    span = daily.agg(
        (F.max("d") - F.min("d") + 1).cast("bigint").alias("n_days")
    )
    mom = daily.groupBy("pk").agg(
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q"))
        .cast("double")
        .alias("sqq"),
        F.count(F.lit(1)).cast("bigint").alias("active_days"),
    )
    stats = mom.crossJoin(F.broadcast(span)).select(
        "pk",
        "n_days",
        "active_days",
        (F.col("sq") * 1.0 / F.col("n_days")).alias("mu"),
        (
            (F.col("sqq") - F.col("sq") * 1.0 * F.col("sq") / F.col("n_days"))
            / (F.col("n_days") - 1)
        ).alias("var"),
    )
    return stats.select(
        F.col("pk").alias("partkey"),
        "n_days",
        "active_days",
        quantise("mu", 3).alias("daily_mean_milli"),
        quantise(F.sqrt(F.col("var")), 3).alias("daily_sd_milli"),
        F.ceil(
            F.col("mu") * _ROP_LEAD_DAYS
            + (_ROP_Z_E6 / 1000000.0) * F.sqrt(F.col("var") * _ROP_LEAD_DAYS)
        )
        .cast("bigint")
        .alias("reorder_point_units"),
    ).orderBy("partkey")
