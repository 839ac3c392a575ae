"""Relational core: scans, filters, joins, aggregations, windows, set ops,
grouping sets, pivots, statistical and string aggregates, map and array
functions, RANGE frames, collation, three-valued logic, skylines.

The reference implements no relational algebra beyond scan→project→
filter→sink (SURVEY.md §2.A); this module is the §2.B mandated surface.
Every query is a declarative DataFrame plan (Catalyst chooses physical
strategy; AQE re-plans at runtime) and carries a DuckDB oracle.

Conventions:
- every computed column aliased identically in Spark and oracle SQL;
- double aggregates rounded (sum order across partitions is
  nondeterministic in any parallel engine — rounding makes the
  cross-engine hash stable);
- timestamps formatted to strings in outputs (engine-neutral repr);
- dimension tables broadcast explicitly where TPC-H semantics
  guarantee they stay small relative to facts at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import cents_avg, cents_sum, quantise
from ooh_etl_spark.functions.text import DUCK_TOKENIZE
from ooh_etl_spark.operators.relational import asof_join, top_k_per_group
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table, register_views


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q01: TPC-H Q1 shape — filter pushdown + hash aggregate (partial+final)
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0             AS sum_qty,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0        AS sum_base_price,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) / 100.0                                     AS sum_disc_price,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                    AS BIGINT)) / 100.0                                     AS sum_charge,
           round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0
                 / count(l_quantity), 2)                                    AS avg_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
                 / count(l_extendedprice), 2)                               AS avg_price,
           round(sum(CAST(round(l_discount * 1000000) AS BIGINT)) / 1000000.0
                 / count(l_discount), 4)                                    AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the 8-aggregate pricing summary in ONE scan +
    one shuffle — partial aggregates combine map-side, the date filter
    is pushed into the parquet scan, and every aggregate is decomposable
    (sum/count/avg), so shuffle payload is group-count sized. Money
    aggregates follow the integer-cents policy (functions/money.py):
    per-row cents, exact bigint sum — hash-stable under any shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            cents_sum("l_quantity").alias("sum_qty"),
            cents_sum("l_extendedprice").alias("sum_base_price"),
            cents_sum(disc_price).alias("sum_disc_price"),
            cents_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            cents_avg("l_quantity").alias("avg_qty"),
            cents_avg("l_extendedprice").alias("avg_price"),
            cents_avg("l_discount", scale=6, out_scale=4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02: filter + scalar-function projection (string/math surface, §2.A E2/C1)
# --------------------------------------------------------------------------
@register(
    "q02_filter_project",
    """
    SELECT p_partkey,
           upper(p_name)                       AS name_uc,
           split_part(p_name, ' ', 2)          AS second_word,
           p_brand || '/' || p_type            AS brand_type,
           length(p_name)                      AS name_len,
           round(p_retailprice * 1.1, 2)       AS price_plus_10
    FROM part
    WHERE p_size BETWEEN 10 AND 30 AND p_type IN ('ECONOMY', 'PROMO')
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter/project/predicate surface (between, isin, when/otherwise)
    — pure scan-stage expressions: the read schema is pruned to the
    referenced columns and all predicates reach PushedFilters."""
    part = _t(spark, sf_dir, "part")
    return part.filter(
        F.col("p_size").between(10, 30) & F.col("p_type").isin("ECONOMY", "PROMO")
    ).select(
        "p_partkey",
        F.upper("p_name").alias("name_uc"),
        F.split("p_name", " ").getItem(1).alias("second_word"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_plus_10"),
    )


# --------------------------------------------------------------------------
# q03: TPC-H Q3 shape — 3-way join + agg + deterministic top-10
# --------------------------------------------------------------------------
@register(
    "q03_top_revenue_orders",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d')                      AS orderdate,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) / 100.0                           AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast the filtered customer dimension, one
    fact shuffle into the (orderkey, orderdate, shippriority) aggregate,
    top-10 via TakeOrdered over the agg output (never a global sort of
    facts)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust), orders.o_custkey == cust.c_custkey
            ).select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04: EXISTS (left-semi join with non-equi residual) + count per group
# --------------------------------------------------------------------------
@register(
    "q04_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS(lineitem later than commit) decorrelated
    to a LEFT SEMI join with a non-equi residual — the semi join stops
    probing at first match and ships no lineitem columns."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# q05: TPC-H Q5 shape — star join with broadcast dimensions
# --------------------------------------------------------------------------
@register(
    "q05_regional_revenue",
    """
    SELECT n_name,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) / 100.0 AS revenue
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey   = c_custkey
                JOIN lineitem ON l_orderkey  = o_orderkey
                JOIN supplier ON l_suppkey   = s_suppkey
                             AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way star join. Region/nation broadcast and
    prune customers BEFORE the fact join; the order-date range is pushed
    to the scan; the supplier-nation equality folds into the join
    condition, not a post-filter."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    # Dimension chain broadcast: region⋈nation is tiny; customer joins
    # orders on its key (shuffle), lineitem joins orders (shuffle on the
    # fact key), supplier broadcast with the nation co-membership filter.
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    c = cust.join(dims, cust.c_nationkey == dims.n_nationkey)
    o = orders.join(c, orders.o_custkey == c.c_custkey).select(
        "o_orderkey", "n_name", "c_nationkey"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(supp),
        (li.l_suppkey == supp.s_suppkey)
        & (supp.s_nationkey == F.col("c_nationkey")),
    )
    return j.groupBy("n_name").agg(
        cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )


# --------------------------------------------------------------------------
# q06: TPC-H Q6 shape — tight filter + global agg (single-row result)
# --------------------------------------------------------------------------
@register(
    "q06_forecast_revenue",
    """
    SELECT sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0
             AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the all-pushdown query — every predicate (date
    range, discount band, quantity cap) reaches the parquet scan, then a
    single global sum; the canonical scan-efficiency benchmark."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        cents_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# q07: theta/range join (non-equi) — broadcast nested loop on small side
# --------------------------------------------------------------------------
@register(
    "q07_acctbal_band_join",
    """
    SELECT s_suppkey, count(*) AS n_close,
           round(avg(CAST(round((c_acctbal - s_acctbal) * 100, 0) AS BIGINT)) / 100, 2)
             + 0.0 AS avg_gap
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
    GROUP BY s_suppkey
    """,
)
def q07_acctbal_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range (band) join: customers matched to acctbal bands by
    interval containment — a broadcast nested-loop over the tiny band
    table, the correct physical plan when no equi-key exists."""
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    # Pure non-equi join: Spark plans BroadcastNestedLoopJoin with the
    # small (supplier) side broadcast — O(|C| * |S_broadcast|) per task,
    # no shuffle of the big side. At 100 TB you'd band-bucketize
    # (floor(acctbal/100)) to make it an equi-join; here |S| is tiny.
    return (
        cust.join(
            F.broadcast(supp),
            cust.c_acctbal.between(
                supp.s_acctbal - 100, supp.s_acctbal + 100
            ),
        )
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_close"),
            # Averaged over integer cents: means of 2-dp money sit on
            # .005 rounding boundaries where engines round apart (the
            # q23 lesson); + 0.0 folds IEEE -0.0.
            (
                F.round(
                    F.avg(
                        quantise(F.col("c_acctbal") - F.col("s_acctbal"), 2)
                    )
                    / 100,
                    2,
                )
                + 0.0
            ).alias("avg_gap"),
        )
    )


# --------------------------------------------------------------------------
# q08: anti join — customers that never ordered, per market segment
# --------------------------------------------------------------------------
@register(
    "q08_customers_without_orders",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q08_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: NOT EXISTS(orders) decorrelated to LEFT ANTI — only
    customer keys shuffle, no order payload moves, and AQE can broadcast
    the smaller side."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --------------------------------------------------------------------------
# q09/q10: rollup & cube (multi-dimensional aggregates)
# --------------------------------------------------------------------------
@register(
    "q09_rollup_returns",
    """
    SELECT l_returnflag, l_linestatus,
           sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q09_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, status, grand) in one pass —
    Catalyst expands to a single Expand + aggregate, not three scans."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        cents_sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q10_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q10_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions: all 4 grouping-set combinations from
    one Expand — grouping_id distinguishes the levels in the output."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        cents_sum("o_totalprice").alias("total"),
    )


# --------------------------------------------------------------------------
# q11: distinct aggregates (exact; HLL variant is rows-only, see q11b)
# --------------------------------------------------------------------------
@register(
    "q11_distinct_counts",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q11_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — expands to a two-level aggregate
    (distinct on (group, value) then count), both levels map-side
    combined; q11b is the sketch path for 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register("q11b_approx_distinct", None)  # approximate → rows-only check
def q11b_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct: the 100 TB path where exact distinct
    would shuffle every key; rsd=0.01 keeps sketch size bounded."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
    )


# --------------------------------------------------------------------------
# q12: set operations — intersect / except / union with tags
# --------------------------------------------------------------------------
@register(
    "q12_setops_customers",
    """
    WITH early AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate < TIMESTAMP '1997-01-01'),
         late  AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1997-01-01')
    SELECT 'both' AS cohort, o_custkey FROM (SELECT * FROM early INTERSECT SELECT * FROM late)
    UNION ALL
    SELECT 'early_only', o_custkey FROM (SELECT * FROM early EXCEPT SELECT * FROM late)
    UNION ALL
    SELECT 'late_only',  o_custkey FROM (SELECT * FROM late  EXCEPT SELECT * FROM early)
    """,
)
def q12_setops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (UNION, INTERSECT, EXCEPT ALL) over key sets —
    each compiles to an aggregate or join on the key, never a
    driver-side set."""
    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    # checkpoint: each key set feeds three set-op branches (intersect +
    # two exceptAll) — without it every branch re-runs the scan +
    # distinct shuffle (the q296 Union-recompute class; audited at 6
    # parquet scans for 2 logical key sets).
    early = materialize(
        orders.filter(F.col("o_orderdate") < cutoff)
        .select("o_custkey")
        .distinct()
    )
    late = materialize(
        orders.filter(F.col("o_orderdate") >= cutoff)
        .select("o_custkey")
        .distinct()
    )
    return (
        early.intersect(late).select(F.lit("both").alias("cohort"), "o_custkey")
        .unionByName(
            early.exceptAll(late).select(
                F.lit("early_only").alias("cohort"), "o_custkey"
            )
        )
        .unionByName(
            late.exceptAll(early).select(
                F.lit("late_only").alias("cohort"), "o_custkey"
            )
        )
    )


# --------------------------------------------------------------------------
# q13: as-of join — latest order at or before each event's timestamp
# --------------------------------------------------------------------------
@register(
    "q13_asof_event_order",
    """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S')          AS event_ts,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS last_orderdate
    FROM events ASOF JOIN orders
      ON events.user_id = orders.o_custkey AND events.ts >= orders.o_orderdate
    """,
)
def q13_asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each event matched to the latest order at-or-before
    its timestamp) via operators/relational.asof_join: a union-merge
    with a running last() window — one shuffle on the key, no range
    explosion, DuckDB's native ASOF JOIN as the oracle."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    j = asof_join(
        events, orders, on=("user_id", "o_custkey"), left_ts="ts", right_ts="o_orderdate"
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("last_orderdate"),
    )


# --------------------------------------------------------------------------
# q14: JSON extraction (the reference's nested-parse pattern, E3 analog)
# --------------------------------------------------------------------------
@register(
    "q14_json_props",
    """
    SELECT event_type,
           count(*)                                    AS n,
           round(avg(value), 2)                        AS avg_value,
           CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
           max(CAST(props->>'$.k' AS INT))             AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q14_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over events.props (the reference's
    nested-document trick in JSON form, index.js:23-26):
    get_json_object + from_json, aggregated per type. Oracle casts
    DuckDB's HUGEINT sums back to BIGINT."""
    events = _t(spark, sf_dir, "events")
    # from_json with a declared schema: the CDATA-reparse trick of the
    # reference (index.js:3-5) done as a typed expression, no UDF.
    k = F.from_json("props", "k INT").getField("k")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 2).alias("avg_value"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


# --------------------------------------------------------------------------
# q15: date/time functions — monthly order rollup
# --------------------------------------------------------------------------
@register(
    "q15_monthly_orders",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           year(o_orderdate)     AS yr,
           quarter(o_orderdate)  AS qtr,
           count(*)              AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q15_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: date_trunc to month + aggregate — the
    partition-key shape of every time-partitioned warehouse table."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month"
            ),
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            cents_sum("o_totalprice").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q16/q17: window functions — ranking, analytic, running frames
# --------------------------------------------------------------------------
@register(
    "q16_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def q16_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (k=3) via row_number over (customer,
    totalprice) — operators/relational.top_k_per_group; one shuffle,
    rank computed within partitions, never a global sort."""
    orders = _t(spark, sf_dir, "orders")
    return top_k_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


@register(
    "q17_customer_order_history",
    """
    SELECT o_custkey, o_orderkey,
           row_number() OVER w                                   AS seq,
           lag(o_totalprice) OVER w                              AS prev_total,
           lead(o_totalprice) OVER w                             AS next_total,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q17_customer_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead order history per customer: previous/next order dates
    and price deltas from ONE window over one shuffle on custkey."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("seq"),
        F.lag("o_totalprice").over(w).alias("prev_total"),
        F.lead("o_totalprice").over(w).alias("next_total"),
        F.round(F.sum("o_totalprice").over(run), 2).alias("running_spend"),
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
            "days_since_prev"
        ),
    )


# --------------------------------------------------------------------------
# q18: scalar-function mosaic (the §2.A string/math surface on real data)
# --------------------------------------------------------------------------
@register(
    "q18_scalar_functions",
    """
    SELECT p_partkey,
           upper(p_name)                        AS uc,
           lower(p_brand)                       AS lc,
           substring(p_name, 1, 5)              AS head5,
           replace(p_name, ' ', '_')            AS snake,
           lpad(p_brand, 10, '*')               AS padded,
           position('widget' IN p_name)         AS pos_widget,
           CASE WHEN p_size > 20 THEN 'big' ELSE 'small' END AS size_class,
           round(sqrt(p_retailprice), 4)        AS price_sqrt,
           p_size % 7                           AS size_mod
    FROM part
    """,
)
def q18_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar surface (concat, substring, upper/lower,
    translate, abs/ceil/floor/pow...) — all per-row codegen
    expressions, zero shuffles."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("uc"),
        F.lower("p_brand").alias("lc"),
        F.substring("p_name", 1, 5).alias("head5"),
        # regexp_replace ≡ the reference's replace-all idiom (index.js:110)
        F.regexp_replace("p_name", " ", "_").alias("snake"),
        F.lpad("p_brand", 10, "*").alias("padded"),
        F.instr("p_name", "widget").alias("pos_widget"),
        F.when(F.col("p_size") > 20, "big").otherwise("small").alias("size_class"),
        F.round(F.sqrt("p_retailprice"), 4).alias("price_sqrt"),
        (F.col("p_size") % 7).alias("size_mod"),
    )


# --------------------------------------------------------------------------
# q19: pivot (cells→columns; the E8 zip→dict idea, columnar form)
# --------------------------------------------------------------------------
@register(
    "q19_pivot_linestatus",
    """
    SELECT l_returnflag,
           sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(round(l_quantity * 100) AS BIGINT) END) / 100.0 AS qty_O,
           sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(round(l_quantity * 100) AS BIGINT) END) / 100.0 AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q19_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT on linestatus: Catalyst rewrites to conditional aggregates
    (one pass), with the pivot values enumerated so the schema is
    static."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(cents_sum("l_quantity"))
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


# --- q336: explicit salted skew join (round 6) -----------------------------
_DUCK_SALTED = """
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
                  ELSE l_orderkey % 100 END AS k,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS rev_c
      FROM lineitem),
         d AS (
      SELECT n_nationkey * 4 AS k, n_name AS bucket FROM nation)
    SELECT d.bucket,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(f.rev_c) AS BIGINT) AS revenue_c
    FROM f JOIN d ON f.k = d.k
    GROUP BY d.bucket ORDER BY d.bucket
"""


@register("q336_salted_skew_join", _DUCK_SALTED)
def q336_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT salted join under engineered 90%-hot-key skew — the
    manual escape hatch when one key exceeds what a single reducer
    can hold even after AQE's skew split (the power-law reality of
    any 100 TB join key): the fact side gets a random salt in [0, 8),
    the dimension side replicates across all 8 salt values, the join
    keys on (k, salt), and the hot key's rows spread over 8 tasks.
    The salt NEVER reaches the result — the oracle is the plain
    unsalted join, and the hash equality proves salting is
    result-invariant (the property that licenses using it at all).

    90% of fact rows share key 0 by construction; nation keys x4
    give partial dimension coverage so the join also exercises
    selective matching.

    100 TB shape: replication multiplies the DIMENSION side only
    (8x a broadcast-sized table); the fact shuffle spreads uniformly.
    This registers operators/relational.salted_join through the
    driver's correctness gate (previously pytest-only)."""
    from ooh_etl_spark.operators.relational import salted_join

    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    f = li.select(
        F.when(F.col("l_orderkey") % 100 < 90, 0)
        .otherwise(F.col("l_orderkey") % 100)
        .alias("k"),
        quantise("l_extendedprice", 2).alias("rev_c"),
    )
    d = nation.select(
        (F.col("n_nationkey") * 4).alias("k"), F.col("n_name").alias("bucket")
    )
    joined = salted_join(f, d, "k")
    return (
        joined.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("rev_c").cast("bigint").alias("revenue_c"),
        )
        .orderBy("bucket")
    )


# --- q38-q45, q337: grouping sets, percentiles, pivots, joins, dates ---------


@register(
    "q38_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q38_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping sets via the SQL surface (rollup/cube's
    general form; same partial+final hash aggregation underneath).
    The cents sum is CAST to DOUBLE before the divide: in Spark SQL a
    ``100.0`` literal is DECIMAL and bigint/decimal division yields
    DECIMAL (stringifying as ``x.000000``), while DuckDB yields DOUBLE
    — the cast makes both engines divide in double."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
                 AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "q39_percentiles",
    """
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5)  AS p50,
           quantile_disc(l_extendedprice, 0.95) AS p95,
           min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q39_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (values drawn from the data — the
    continuous/interpolated form lands midpoints exactly on the .005
    rounding lattice of 2-dp money, where engines round apart). The
    approximate path for 100 TB is ``percentile_approx`` — see q39b."""
    li = load_table(spark, sf_dir, "lineitem")
    grouped = li.groupBy("l_returnflag")
    disc = lambda p: F.expr(  # noqa: E731
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY l_extendedprice)"
    )
    return grouped.agg(
        disc(0.5).alias("p50"),
        disc(0.95).alias("p95"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )


@register("q39b_approx_percentiles", None)  # sketch-based → rows-only
def q39b_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest approximate percentiles (percentile_approx) — the
    sketch path for 100 TB where exact sort-based percentiles are
    impractical. Rows-only; bounded error vs q39 asserted in tests."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("p50_approx"),
    )


@register(
    "q40_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def q40_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt). Spark's unpivot/stack is a narrow
    per-row expansion — no shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    ).withColumn(
        "measure", F.regexp_replace("measure", "^l_", "")
    )


@register(
    "q41_full_outer_nations",
    """
    SELECT n_name, c_cnt, s_cnt FROM (
      SELECT coalesce(cn.n_nationkey, sn.n_nationkey) AS nk,
             coalesce(cn.c_cnt, 0) AS c_cnt, coalesce(sn.s_cnt, 0) AS s_cnt
      FROM (SELECT c_nationkey AS n_nationkey, count(*) AS c_cnt
            FROM customer GROUP BY 1) cn
      FULL OUTER JOIN
           (SELECT s_nationkey AS n_nationkey, count(*) AS s_cnt
            FROM supplier GROUP BY 1) sn
      USING (n_nationkey))
    JOIN nation ON nk = n_nationkey
    """,
)
def q41_full_outer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with coalesced keys — both unmatched sides
    survive; the shape that breaks naive broadcast plans (outer side
    must shuffle)."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = cust.groupBy(F.col("c_nationkey").alias("n_nationkey")).agg(
        F.count(F.lit(1)).alias("c_cnt")
    )
    sn = supp.groupBy(F.col("s_nationkey").alias("n_nationkey")).agg(
        F.count(F.lit(1)).alias("s_cnt")
    )
    fo = cn.join(sn, "n_nationkey", "full_outer").select(
        F.col("n_nationkey").alias("nk"),
        F.coalesce("c_cnt", F.lit(0)).alias("c_cnt"),
        F.coalesce("s_cnt", F.lit(0)).alias("s_cnt"),
    )
    return fo.join(
        F.broadcast(nation), fo.nk == nation.n_nationkey
    ).select("n_name", "c_cnt", "s_cnt")


@register(
    "q42_cross_join_regions",
    """
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    WHERE a.r_name <> b.r_name
    """,
)
def q42_cross_join_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian on a tiny dimension (the only place a cross
    join is ever acceptable)."""
    region = load_table(spark, sf_dir, "region")
    a = region.select(F.col("r_name").alias("from_region"))
    b = region.select(F.col("r_name").alias("to_region"))
    return a.crossJoin(b).filter(F.col("from_region") != F.col("to_region"))


@register(
    "q43_date_arithmetic",
    """
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL '3 months', '%Y-%m-%d')  AS plus_3m,
           strftime(last_day(o_orderdate), '%Y-%m-%d')              AS month_end,
           date_diff('day', o_orderdate, TIMESTAMP '2000-01-01')    AS days_to_y2k,
           dayofweek(o_orderdate) + 1                               AS dow,
           week(o_orderdate)                                        AS wk
    FROM orders WHERE o_orderkey < 200
    """,
)
def q43_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time arithmetic surface: datediff, date_add, months_between,
    trunc — per-row expressions, formatted to strings for the
    cross-engine compare."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return orders.select(
        "o_orderkey",
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias("plus_3m"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2000-01-01").cast("timestamp"), "o_orderdate").alias(
            "days_to_y2k"
        ),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("wk"),
    )


@register(
    "q44_null_handling",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 0) END AS bal_pos,
           ifnull(CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 0) END, -1)
             AS bal_filled,
           greatest(round(c_acctbal, 0), 5000.0) AS at_least_5k,
           least(round(c_acctbal, 0), 5000.0)    AS at_most_5k
    FROM customer
    """,
)
def q44_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics surface: coalesce, nullif, nvl2, null-safe
    equality (<=>), IS DISTINCT FROM — the totality toolkit ANSI mode
    demands."""
    cust = load_table(spark, sf_dir, "customer")
    bal_pos = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(
        F.round("c_acctbal", 0)
    )
    return cust.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        bal_pos.alias("bal_pos"),
        F.coalesce(bal_pos, F.lit(-1)).alias("bal_filled"),
        F.greatest(F.round("c_acctbal", 0), F.lit(5000.0)).alias("at_least_5k"),
        F.least(F.round("c_acctbal", 0), F.lit(5000.0)).alias("at_most_5k"),
    )


@register(
    "q45_array_functions",
    """
    WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
    SELECT p_partkey,
           array_to_string(list_sort(words), '|')                AS sorted_words,
           array_to_string(list_reverse(list_sort(words)), '|')  AS rev_words,
           array_to_string(list_sort(words), '-')                AS joined,
           words[1]                                              AS first_word,
           len(list_filter(words, w -> length(w) > 4))           AS n_long
    FROM t
    """,
)
def q45_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: split, array_sort, reverse, array_join,
    element access, higher-order filter — expression-level fan-out
    inside the scan stage. Array-valued intermediates are serialized
    with array_join for the output (the harness canonicalizer hashes
    scalar columns; raw array columns are unhashable pandas-side), so
    the array semantics are still what's under test — just rendered."""
    part = load_table(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    return part.select(
        "p_partkey",
        F.array_join(F.array_sort(words), "|").alias("sorted_words"),
        F.array_join(F.reverse(F.array_sort(words)), "|").alias("rev_words"),
        F.array_join(F.array_sort(words), "-").alias("joined"),
        words.getItem(0).alias("first_word"),
        F.size(F.filter(words, lambda w: F.length(w) > 4)).alias("n_long"),
    )


# --- q337: relational pivot (round 6) --------------------------------------
_PIVOT_SEGS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


_DUCK_PIVOT = f"""
    WITH j AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey)
    SELECT nation,
           {", ".join(
               f"CAST(coalesce(sum(CASE WHEN seg = '{s}' THEN rev_c END), 0)"
               f" AS BIGINT) AS {s.lower()}_c"
               for s in _PIVOT_SEGS)}
    FROM j GROUP BY nation ORDER BY nation
"""


@register("q337_pivot_segment_matrix", _DUCK_PIVOT)
def q337_pivot_segment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relational PIVOT surface — ``groupBy().pivot(col, values)``
    with an EXPLICIT value list (q40's unpivot inverse, closing the
    reshape pair): nation x market-segment revenue matrix in integer
    cents. The explicit list matters twice: it keeps the schema static
    (no extra distinct-values job, no data-dependent columns — the
    production contract for a pivot feeding a downstream table) and it
    makes the oracle a plain CASE aggregation.

    100 TB shape: Catalyst compiles pivot-with-values to ONE aggregate
    whose buffer holds |values| slots per group — identical cost to
    the manual max(when()) spelling (q288), same single shuffle; the
    dims broadcast. Omitting the value list adds a distinct pass —
    the anti-pattern the explicit list exists to avoid."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        orders.join(
            F.broadcast(
                cust.select("c_custkey", "c_nationkey", "c_mktsegment")
            ),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("seg"),
            quantise("o_totalprice", 2).alias("rev_c"),
        )
    )
    wide = (
        j.groupBy("nation")
        .pivot("seg", list(_PIVOT_SEGS))
        .agg(F.sum("rev_c"))
    )
    return wide.select(
        "nation",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("bigint").alias(f"{s.lower()}_c")
            for s in _PIVOT_SEGS
        ],
    ).orderBy("nation")


# --- q54-q60, q179-q190: aggregates, maps, frames, collation, 3VL ------------


@register(
    "q54_stat_aggregates",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4)               AS sd_qty,
           round(var_samp(l_quantity), 4)                  AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
           round(covar_samp(l_discount, l_tax), 6) + 0.0   AS covar_disc_tax,
           round(skewness(l_quantity), 4) + 0.0            AS skew_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q54_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: stddev/variance (sample +
    population), corr, covar, skewness — one pass, all decomposable
    into moment sums."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + 0.0).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + 0.0).alias("covar_disc_tax"),
        # + 0.0 folds IEEE negative zero to positive zero (round(-1e-9, 4)
        # yields -0.0 in one engine and 0.0 in the other).
        (F.round(F.skewness("l_quantity"), 4) + 0.0).alias("skew_qty"),
    )


@register(
    "q55_arg_extrema",
    """
    SELECT o_orderpriority,
           (max(struct_pack(p := o_totalprice, k := o_orderkey))).k
             AS biggest_order,
           (min(struct_pack(p := o_totalprice, k := o_orderkey))).k
             AS smallest_order,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q55_arg_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregation with a DETERMINISTIC tie-break: max/min over
    a (price, orderkey) struct — lexicographic in both engines — picks
    the extreme price and, among ties, the extreme key. Plain
    max_by/arg_max is engine-arbitrary on ties; unique prices at the
    stock SFs masked that until the 5x-replicated scaling corpus (5
    copies of every extreme price under different keys) flipped the
    two engines to different keys (round-8 full-registry 5x sweep).
    The struct-extremum form is the same one aggregate pass (map-side
    combinable) with the tie-break carried in the comparator."""
    orders = load_table(spark, sf_dir, "orders")
    pk = F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    return orders.groupBy("o_orderpriority").agg(
        F.max(pk)["k"].alias("biggest_order"),
        F.min(pk)["k"].alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@register(
    "q56_string_agg",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q56_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (collect → sort → join keeps the
    result deterministic regardless of partitioning)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@register(
    "q58_above_customer_average",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders i
                                WHERE i.o_custkey = o.o_custkey)
    """,
)
def q58_above_customer_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery, decorrelated into a window
    average — one shuffle on the correlation key instead of a
    re-executed subquery per row."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q60_map_functions",
    f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENIZE} AS toks
      FROM documents WHERE doc_id < 100),
         wc AS (
      SELECT doc_id,
             list_filter(list_transform(list_distinct(toks),
                         w -> {{'k': w, 'v': len(list_filter(toks, x -> x = w))}}),
                         e -> e.v > 1) AS ents
      FROM t)
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_transform(ents, e -> e.k || '=' || (e.v * 2))), '|'), '')
             AS doubled_repeats,
           len(ents) AS n_repeated
    FROM wc
    """,
)
def q60_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (map_filter / transform_values /
    map_entries) over the word-count map — the reference's dict-valued
    fields (§1.2) manipulated in place, canonicalized for comparison."""
    from ooh_etl_spark.queries.flagship import word_count_map

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    wc = word_count_map(F.col("text"))
    repeats = F.map_filter(wc, lambda k, v: v > 1)
    doubled = F.transform_values(repeats, lambda k, v: v * 2)
    as_string = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(doubled),
                lambda e: F.concat(e.getField("key"), F.lit("="), e.getField("value").cast("string")),
            )
        ),
        "|",
    )
    return docs.select(
        "doc_id",
        as_string.alias("doubled_repeats"),
        F.size(F.map_keys(repeats)).alias("n_repeated"),
    )


@register(
    "q57_range_frame",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_extendedprice) OVER (
             PARTITION BY l_suppkey
             ORDER BY epoch(l_shipdate)
             RANGE BETWEEN 432000 PRECEDING AND 432000 FOLLOWING), 2)
             AS revenue_pm5d
    FROM lineitem
    WHERE l_suppkey < 3
    """,
)
def q57_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time (±5 days of shipments per
    supplier) — value-based frames, not row-count frames."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 3)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.unix_timestamp("l_shipdate"))
        .rangeBetween(-432000, 432000)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(w), 2).alias("revenue_pm5d"),
    )


_DUCK_COLLATE = """
    WITH messy AS (
      SELECT CASE p_partkey % 3
               WHEN 0 THEN p_type
               WHEN 1 THEN lower(p_type)
               ELSE concat(substr(p_type, 1, 1), lower(substr(p_type, 2)))
             END AS category,
             p_retailprice
      FROM part)
    SELECT min(category) AS category, count(*) AS n,
           sum(CAST(round(p_retailprice * 100) AS BIGINT)) / 100.0
             AS total_price
    FROM messy
    GROUP BY lower(category)
    ORDER BY category
"""


@register("q179_collation_group", _DUCK_COLLATE)
def q179_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation support: a messy feed where the same category
    arrives as UPPER, lower, and Capitalized (synthesized 3-way by key
    mod — the real-world multi-source ingest problem) grouped under the
    UTF8_LCASE collation via F.collate — the engine-level answer that
    keeps comparisons, joins and aggregations case-insensitive WITHOUT
    rewriting every expression in lower(). The reported representative
    is min(category) under BINARY ordering (deterministic; the collated
    grouping key itself is an arbitrary group member, so it never
    reaches the output), which the oracle mirrors with GROUP BY
    lower(). Money rides integer cents as everywhere.

    100 TB shape: collation is metadata on the comparison, not a
    projection — the groupBy shuffles the original bytes with the
    lowercase-fold applied inside the hash/compare, same exchange
    volume as a binary groupBy, and map-side partials still apply."""
    p = load_table(spark, sf_dir, "part")
    first = F.substring(F.col("p_type"), 1, 1)
    rest = F.expr("substring(p_type, 2)")
    messy = p.select(
        F.when(F.col("p_partkey") % 3 == 0, F.col("p_type"))
        .when(F.col("p_partkey") % 3 == 1, F.lower(F.col("p_type")))
        .otherwise(F.concat(first, F.lower(rest)))
        .alias("category"),
        "p_retailprice",
    )

    return (
        messy.groupBy(F.collate(F.col("category"), "UTF8_LCASE").alias("k"))
        .agg(
            F.min("category").alias("category"),
            F.count(F.lit(1)).alias("n"),
            cents_sum("p_retailprice").alias("total_price"),
        )
        .select("category", "n", "total_price")
        .orderBy("category")
    )


_3VL_SQL = """
WITH holders AS (
  SELECT CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_custkey END AS k
  FROM customer WHERE c_acctbal > 9000)
SELECT
 (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM holders))
   AS not_in_cnt,
 (SELECT count(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM holders h WHERE h.k = o.o_custkey))
   AS not_exists_cnt,
 (SELECT count(*) FROM holders WHERE k IS NULL) AS null_keys
"""


@register("q182_three_valued_logic", _3VL_SQL)
def q182_three_valued_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, run as the IDENTICAL SQL text on both
    engines (the q67/q171 contract): with even one NULL in the
    subquery, ``x NOT IN (...)`` is never TRUE under three-valued
    logic — x <> NULL is UNKNOWN — so the count is 0, while the
    NOT EXISTS form (NULL-safe by construction: the correlated
    predicate just never matches) counts 13k+ orders. The third column
    pins that the subquery really contains NULLs, guarding the test
    against a fixture regeneration quietly removing them.

    Engine mechanics worth the parity check: Spark compiles the NOT IN
    into a null-aware anti join (NullAwareHashedRelation — a broadcast
    with an extra null-key probe), a join mode that exists ONLY for
    this semantic; a plain left-anti join would silently compute the
    NOT EXISTS answer. At 100 TB the practical advice in the docstring
    is the point: NOT EXISTS (or an explicit IS NOT NULL guard) keeps
    the anti join null-unaware and cheaper."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_3VL_SQL)


_DUCK_TRAIL = """
    SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
             AS BIGINT) AS trail_c
    FROM events WHERE user_id < 200
"""


@register("q183_trailing_hour_sum", _DUCK_TRAIL)
def q183_trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per user, the rolling sum of the
    TRAILING HOUR of activity — RANGE BETWEEN INTERVAL '1 hour'
    PRECEDING AND CURRENT ROW over the event timestamp. This is the
    value-based frame q57 demonstrated on numbers, on TIME: the frame
    holds however many events fall in the hour (0..n), which no ROWS
    frame can express. Money rides integer cents, so the in-frame sum
    is order-free and engine-exact.

    100 TB shape: one shuffle on user_id, per-partition sort by ts —
    the same exchange a session window costs; frame evaluation is a
    sliding two-pointer over the sorted run (linear, no re-scan per
    row). The streaming twin of this exact shape is q34's sliding
    window; this form answers it point-in-time per event rather than
    per pane."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT user_id, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_s,
               sum(CAST(round(value * 100) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
                 AS trail_c
        FROM events WHERE user_id < 200
        """
    )


_DUCK_SKYLINE = """
    WITH pts AS (
      SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
             p_size AS sz, count(*) AS support
      FROM part GROUP BY 1, 2),
         w AS (
      SELECT price_c, sz, support,
             min(sz) OVER (ORDER BY price_c, sz
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS msb
      FROM pts)
    SELECT price_c / 100.0 AS price, sz AS size, support
    FROM w WHERE msb IS NULL OR msb > sz
    ORDER BY price_c, sz
"""


@register("q190_skyline", _DUCK_SKYLINE)
def q190_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (Borzsonyi, Kossmann & Stocker,
    ICDE'01): the parts no other part beats on BOTH price and size —
    the multi-objective 'best offers' query. The naive form is an
    O(n^2) dominance anti-join; this plan reduces it to DISTINCT
    points + ONE running-min window: sorted by (price, size), a point
    is dominated iff some earlier point's size <= its size (earlier in
    that order implies price <= with at least one strict coordinate on
    distinct points — tie-safety is exactly why the window runs on the
    DISTINCT point set). Machine-checked equal to the naive dominance
    SQL in pytest; the oracle runs the same window form.

    100 TB shape: the groupBy collapses the corpus to |distinct
    (price, size)| points (with support counts riding along — the q166
    canonicalization trick); the global window then touches only that
    reduced set. When even the distinct set is huge, skylines COMPOSE:
    skyline(S) = skyline(union of per-partition skylines), so the
    scale path is a local skyline per range partition followed by this
    exact operator over the (tiny) union — the docstring contract for
    the 2-phase form."""
    p = load_table(spark, sf_dir, "part")
    pts = p.groupBy(
        quantise("p_retailprice", 2).alias("price_c"),
        F.col("p_size").alias("sz"),
    ).agg(F.count(F.lit(1)).alias("support"))

    w = Window.orderBy("price_c", "sz").rowsBetween(Window.unboundedPreceding, -1)
    return (
        pts.withColumn("msb", F.min("sz").over(w))
        .filter(F.col("msb").isNull() | (F.col("msb") > F.col("sz")))
        .select(
            (F.col("price_c") / 100.0).alias("price"),
            F.col("sz").alias("size"),
            "support",
        )
        .orderBy("price", "size")
    )
