"""Relational core: scans, filters, joins, aggregations, windows, set ops.

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

from ooh_etl_spark.functions.money import cents_avg, cents_sum
from ooh_etl_spark.operators.relational import asof_join, top_k_per_group
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_table


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
                        F.round((F.col("c_acctbal") - F.col("s_acctbal")) * 100, 0)
                        .cast("long")
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
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("rev_c"),
    )
    d = nation.select(
        (F.col("n_nationkey") * 4).alias("k"), F.col("n_name").alias("bucket")
    )
    joined = salted_join(f, d, "k", salt=8)
    return (
        joined.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("rev_c").cast("bigint").alias("revenue_c"),
        )
        .orderBy("bucket")
    )
