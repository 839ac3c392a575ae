"""The classic TPC-H query shapes beyond the relational core — with
q01 and q03-q06 in ``relational.py``, all 22 are covered (Q1-Q22 ↔
q01, q51, q03-q06, q52, q61, q91, q84, q123, q90, q89, q85, q86, q87,
q62, q63, q88, q64, q65, q124) — plus the BPE-ish token-count oracle.

The reference has no joins or aggregation at all (SURVEY.md §2.A,
"Categories with NO reference implementation"); these are §2.B
extension shapes chosen because each exercises a distinct decorrelation
/ join-planning strategy that matters at 100 TB:

- Q2: correlated MIN subquery → a partitioned row_number window.
- Q7: two roles of one dimension (customer nation, supplier nation).
- Q8: two roles of one dimension + conditional aggregation — the share
  numerator folds into the same partial agg as the denominator (one
  shuffle, not two).
- Q17: correlated scalar AVG subquery → decorrelated into a partial agg
  joined back on the correlation key.
- Q18: HAVING over a fact-key agg, then join back to the dimension
  side — the agg output is tiny, so it broadcasts.
- Q20: nested IN-subqueries → a chain of semi-joins over a shared agg.
- Q21: EXISTS/NOT EXISTS on the same fact → rewritten as a per-key
  distinct-count predicate (one shuffle instead of two join passes).
- Q9/Q10: many-dimension star joins — every dimension broadcasts, the
  fact table never shuffles before the aggregate.
- Q12: CASE-bucketed conditional aggregation (one pass, no per-class
  scans).
- Q13: left join + count(nullable) + histogram-of-histogram — two
  aggregations where the second input is already tiny.
- Q14: conditional numerator folded into the same partial agg as the
  denominator.
- Q15: agg → global-max semi-filter via a 1-row broadcast, instead of a
  rank-everything window.
- Q16: count(DISTINCT) over a broadcast-joined dimension attribute set.
- Q19: disjunction of conjunctive range predicates — pushed to the
  scan as one OR filter; Catalyst prunes parquet row groups with the
  per-column min/max envelope of the OR.

Money aggregates from Q9 on are quantized to integer cents before any
ratio or round (the q23/q61 precedent: float sums may differ in the
last ulp per engine; integer cents cannot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import cents_sum, quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.tables import load_documents, load_table

_REV = "l_extendedprice * (1 - l_discount)"


@register(
    "q61_market_share",
    f"""
    WITH vol AS (
      SELECT year(o_orderdate) AS yr,
             sn.n_name AS supp_nation,
             {_REV} AS volume
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN part     ON l_partkey = p_partkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'),
         cents AS (
      SELECT yr,
             CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                          THEN CAST(round(volume * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS nc,
             CAST(sum(CAST(round(volume * 100) AS BIGINT)) AS BIGINT) AS tc
      FROM vol GROUP BY yr)
    SELECT yr,
           round(nc / 100.0, 2) AS nation_volume,
           round(tc / 100.0, 2) AS total_volume,
           round(CAST(nc AS DOUBLE) / tc, 4) AS mkt_share
    FROM cents ORDER BY yr
    """,
)
def q61_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's share of PROMO-part revenue sold into
    ASIA customers, per order year. Numerator and denominator come out
    of ONE aggregation (conditional sum), so the share costs a single
    shuffle on `yr`. Both sums are quantized to integer cents before
    the ratio so the 4-dp round cannot straddle an engine-specific
    float boundary (see q23/q34 precedent)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")

    cn = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cnk"))
    sn = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    c = cust.join(F.broadcast(cn), cust.c_nationkey == cn.cnk).select("c_custkey")
    s = supp.join(F.broadcast(sn), supp.s_nationkey == sn.snk).select(
        "s_suppkey", "supp_nation"
    )
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(c), orders.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            F.year("o_orderdate").alias("yr"),
            "supp_nation",
            F.expr(_REV).alias("volume"),
        )
    )
    vol_c = quantise("volume", 2)
    cents = vol.groupBy("yr").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", vol_c).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("nc"),
        F.sum(vol_c).cast("bigint").alias("tc"),
    )
    return cents.select(
        "yr",
        F.round(F.col("nc") / 100.0, 2).alias("nation_volume"),
        F.round(F.col("tc") / 100.0, 2).alias("total_volume"),
        F.round(F.col("nc").cast("double") / F.col("tc"), 4).alias("mkt_share"),
    ).orderBy("yr")


@register(
    "q62_small_qty_revenue",
    """
    WITH brand_li AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#4'),
         thr AS (
      SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS t
      FROM brand_li GROUP BY l_partkey)
    SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0, 2)
             AS avg_yearly
    FROM brand_li JOIN thr ON l_partkey = pk
    WHERE l_quantity < t
    """,
)
def q62_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue of below-average-quantity lineitems.
    The correlated scalar subquery (avg quantity *per part*) is
    decorrelated into a groupBy on the correlation key joined back to
    the fact. The brand filter is applied BEFORE the avg aggregation —
    legal because l_partkey functionally determines p_brand, and it
    shrinks the agg input ~25x. The threshold side is an aggregate of
    the fact (small output) → broadcast back. l_quantity is
    integer-valued in the fixtures, so 0.2*avg is bit-identical across
    engines and the `<` comparison is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thr = brand_li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("t")
    )
    return (
        brand_li.join(F.broadcast(thr), brand_li.l_partkey == thr.pk)
        .filter(F.col("l_quantity") < F.col("t"))
        .agg(
            F.round(
                F.sum(quantise("l_extendedprice", 2))
                / 100.0
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@register(
    "q63_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey AS ok, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_totalprice,
           CAST(total_qty AS BIGINT) AS total_qty
    FROM big JOIN orders ON o_orderkey = ok
             JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def q63_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest orders. The HAVING
    aggregate runs on the fact first (one shuffle on l_orderkey); its
    output is a few dozen rows, so IT broadcasts into orders — the
    big-table-probes-small-table direction, not the reverse. Timestamp
    formatted to a string in both engines (cross-engine ts rendering)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.ok)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            F.col("total_qty").cast("bigint").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


@register(
    "q64_excess_stock_suppliers",
    """
    WITH pq AS (
      SELECT l_suppkey AS sk, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red %'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           CAST((SELECT qty FROM pq WHERE sk = s_suppkey) AS BIGINT) AS red_qty
    FROM supplier
    WHERE s_suppkey IN (
      SELECT sk FROM pq WHERE qty > (SELECT 0.5 * avg(qty) FROM pq))
    ORDER BY s_suppkey
    """,
)
def q64_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers moving above-average volume of 'red'
    parts. The nested IN-subquery chain decorrelates into: one agg per
    supplier over the semi-filtered fact → a scalar global threshold
    (broadcast as a 1-row cross join, never collected to the driver) →
    a semi-join into supplier. pq is computed once and reused for the
    per-supplier quantity, the threshold, and the semi-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red %"))
    supp = load_table(spark, sf_dir, "supplier")
    pq = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    thr = pq.agg((F.avg("qty") * 0.5).alias("cutoff"))
    keep = pq.join(F.broadcast(thr), F.lit(True)).filter(F.col("qty") > F.col("cutoff"))
    return (
        supp.join(F.broadcast(keep), supp.s_suppkey == keep.sk)
        .select("s_suppkey", "s_name", F.col("qty").cast("bigint").alias("red_qty"))
        .orderBy("s_suppkey")
    )


@register(
    "q65_sole_supplier_orders",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s_name, count(*) AS sole_orders
    FROM li a JOIN supplier ON s_suppkey = a.l_suppkey
    WHERE NOT EXISTS (
      SELECT 1 FROM li b
      WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey)
    GROUP BY s_name
    ORDER BY sole_orders DESC, s_name
    """,
)
def q65_sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: orders served by exactly one supplier, counted
    per supplier. The NOT-EXISTS-over-the-same-fact is rewritten as a
    per-order distinct-supplier aggregate filtered to count 1 — one
    shuffle on the order key instead of a second self-join pass (the
    anti-join rewrite Catalyst would pick costs shuffle+join; the agg
    form is strictly cheaper and equivalent because EXISTS of `another
    supplier in this order` == distinct-count > 1)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    sole = (
        li.groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.min("l_suppkey").alias("only_supp"),
        )
        .filter(F.col("n_supp") == 1)
    )
    return (
        sole.join(F.broadcast(supp), sole.only_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("sole_orders"))
        .orderBy(F.col("sole_orders").desc(), "s_name")
    )


@register(
    "q66_bpe_token_count",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
           len(list_distinct(regexp_extract_all(text, '\w+|[^\w\s]')))
             AS n_distinct_bpe
    FROM documents
    """,
)
def q66_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting with a cross-engine oracle: words,
    numbers, and individual punctuation marks count as separate tokens
    via `\\w+|[^\\w\\s]` — the match-based formulation (regexp_extract_all)
    instead of a lookaround split, because DuckDB's RE2 has no
    lookarounds. Narrow per-row expression, shuffle-free."""
    docs = load_documents(spark, sf_dir)
    toks = F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe"),
    )


# --- Q2 correlated-min (q51), Q7 bi-national volume (q52) --------------------


@register(
    "q51_cheapest_supplier_per_part",
    """
    SELECT p_partkey, p_name, s_suppkey, s_acctbal FROM (
      SELECT p_partkey, p_name, s_suppkey, s_acctbal,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY s_acctbal, s_suppkey) AS rn
      FROM lineitem JOIN part ON l_partkey = p_partkey
                    JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_size < 15)
    WHERE rn = 1
    """,
)
def q51_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated minimum decorrelated into a ranking
    window (Catalyst's own strategy for correlated scalar subqueries)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 15)
    supp = load_table(spark, sf_dir, "supplier")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).join(
        F.broadcast(supp), li.l_suppkey == supp.s_suppkey
    )
    w = Window.partitionBy("p_partkey").orderBy("s_acctbal", "s_suppkey")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_acctbal")
    )


@register(
    "q52_nation_volume",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           year(l_shipdate) AS yr,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) / 100.0 AS volume
    FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation cn ON c_nationkey = cn.n_nationkey
                  JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND cn.n_name IN ('NATION_3', 'NATION_8')
      AND sn.n_name IN ('NATION_3', 'NATION_8')
    GROUP BY 1, 2, 3
    """,
)
def q52_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: fact-fact join on the order key, dimensions
    broadcast, two roles of the same dimension (nation) aliased."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = nation.filter(F.col("n_name").isin("NATION_3", "NATION_8")).select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.filter(F.col("n_name").isin("NATION_3", "NATION_8")).select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    c = cust.join(F.broadcast(cn), cust.c_nationkey == cn.cnk)
    s = supp.join(F.broadcast(sn), supp.s_nationkey == sn.snk)
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(c, orders.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )
    return j.groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("yr")).agg(
        cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")
    )


# --- Q9-Q16, Q19, Q11, Q22 (q84-q91, q123, q124) -----------------------------


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _cents(col: F.Column) -> F.Column:
    return quantise(col, 2)


@register(
    "q84_returned_items",
    f"""
    WITH r AS (
      SELECT c_custkey, c_name, n_name,
             CAST(sum(CAST(round(({_REV}) * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name)
    SELECT c_custkey, c_name, n_name, round(rev_c / 100.0, 2) AS revenue
    FROM r
    ORDER BY rev_c DESC, c_custkey
    LIMIT 20
    """,
)
def q84_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost revenue per customer from returned items
    (l_returnflag = 'R'), top 20. Star join where customer and nation
    broadcast, so the fact table's only shuffle is the final groupBy on
    c_custkey — and the top-20 is a TakeOrdered over the already-small
    agg output, not a global sort."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    r = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_cents(_rev())).cast("bigint").alias("rev_c"))
    )
    return (
        r.orderBy(F.col("rev_c").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        )
    )


@register(
    "q85_promo_revenue",
    f"""
    WITH m AS (
      SELECT year(l_shipdate) AS yr, month(l_shipdate) AS mo,
             CAST(sum(CASE WHEN p_type = 'PROMO'
                             THEN CAST(round(({_REV}) * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS promo_c,
             CAST(sum(CAST(round(({_REV}) * 100) AS BIGINT)) AS BIGINT) AS total_c
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY yr, mo)
    SELECT yr, mo,
           round(promo_c / 100.0, 2) AS promo_revenue,
           round(total_c / 100.0, 2) AS total_revenue,
           round(100.0 * promo_c / total_c, 4) AS promo_pct
    FROM m ORDER BY yr, mo
    """,
)
def q85_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly share of revenue from PROMO-type parts
    in 1997. The promo numerator is a conditional sum inside the SAME
    partial aggregate as the denominator — one broadcast join, one
    shuffle on (yr, mo), no second pass. The year filter is written as
    a timestamp RANGE (not ``year(col) = 1997``) so it pushes down to
    the parquet scan and prunes row groups on l_shipdate min/max."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    part = load_table(spark, sf_dir, "part")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.year("l_shipdate").alias("yr"), F.month("l_shipdate").alias("mo")
        )
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", _cents(_rev())).otherwise(F.lit(0))
            ).cast("bigint").alias("promo_c"),
            F.sum(_cents(_rev())).cast("bigint").alias("total_c"),
        )
    )
    return m.select(
        "yr",
        "mo",
        F.round(F.col("promo_c") / 100.0, 2).alias("promo_revenue"),
        F.round(F.col("total_c") / 100.0, 2).alias("total_revenue"),
        F.round(100.0 * F.col("promo_c") / F.col("total_c"), 4).alias("promo_pct"),
    ).orderBy("yr", "mo")


@register(
    "q86_top_supplier",
    f"""
    WITH s AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(({_REV}) * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, round(rev_c / 100.0, 2) AS total_revenue
    FROM s JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_c = (SELECT max(rev_c) FROM s)
    ORDER BY s_suppkey
    """,
)
def q86_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in a
    quarter. The classic view-with-max: revenue agg once, then the
    global max — a single row — broadcasts back as a semi-filter.
    Cheaper than the rank()-over-() alternative, which would funnel the
    whole agg output through one window partition; the comparison is on
    integer cents so 'equals the max' is exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    s = li.groupBy("l_suppkey").agg(F.sum(_cents(_rev())).cast("bigint").alias("rev_c"))
    mx = s.agg(F.max("rev_c").alias("max_c"))
    return (
        s.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_c") == F.col("max_c"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.round(F.col("rev_c") / 100.0, 2).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@register(
    "q87_supplier_part_census",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type <> 'PROMO' AND p_size IN (1, 9, 19, 29, 39, 49)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q87_supplier_part_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can deliver each
    (brand, type, size) combination, excluding PROMO parts. The
    dimension filter broadcasts and prunes before the fact shuffle;
    count(DISTINCT) expands to a two-level aggregate (distinct on the
    grouping+suppkey first, then count) — both levels map-side
    combined."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO") & F.col("p_size").isin(1, 9, 19, 29, 39, 49)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q88_or_brackets_revenue",
    f"""
    SELECT CAST(sum(CAST(round(({_REV}) * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 25)
    """,
)
def q88_or_brackets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a disjunction of conjunctive
    brackets mixing fact (quantity) and dimension (brand, size)
    predicates. Expressed as ONE filter over the joined relation:
    Catalyst splits the parts-only conjuncts out of the OR and pushes
    the common envelope to both scans, and the whole disjunction
    evaluates in a single codegen stage — no UNION of three scans."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#2") & s.between(10, 30) & q.between(10, 30))
        | ((b == "Brand#3") & s.between(20, 50) & (q >= 25))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_cents(_rev())).cast("bigint").alias("revenue_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q89_order_count_distribution",
    """
    WITH c AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM c
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q89_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts
    (customers with zero qualifying orders included via the left join;
    the priority filter stands in for Q13's comment NOT LIKE). Two
    aggregations: the first shuffles on c_custkey, the second's input
    is one row per customer — tiny, and its histogram output tinier."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    c = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q90_shipping_delay_classes",
    """
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 0 THEN 'early'
                WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'on-time'
                ELSE 'late' END AS delay_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY delay_class
    ORDER BY delay_class
    """,
)
def q90_shipping_delay_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line counts by priority class per shipping
    delay bucket (delay buckets stand in for Q12's ship modes, which
    the fixture lacks). Both priority counters fold into one
    conditional aggregate — a single pass, 3 output rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    cls = (
        F.when(delay < 0, "early").when(delay <= 90, "on-time").otherwise("late")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(cls.alias("delay_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


@register(
    "q91_profit_by_nation",
    f"""
    WITH p AS (
      SELECT n_name AS nation, year(o_orderdate) AS yr,
             CAST(sum(CAST(round(({_REV} - 0.1 * p_retailprice * l_quantity) * 100) AS BIGINT)) AS BIGINT) AS profit_c
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN orders   ON l_orderkey = o_orderkey
      WHERE p_type = 'STANDARD'
      GROUP BY n_name, yr)
    SELECT nation, yr, round(profit_c / 100.0, 2) AS profit
    FROM p ORDER BY nation, yr DESC
    """,
)
def q91_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year over
    STANDARD parts, with 10% of retail price x quantity as the cost
    stand-in (the fixture has no partsupp.ps_supplycost). Four
    dimensions broadcast; the fact shuffles once on (nation, yr) after
    the per-partition partial agg has collapsed it to the group
    cardinality."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = _rev() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    p = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr")
        )
        .agg(F.sum(_cents(profit)).cast("bigint").alias("profit_c"))
    )
    return p.select(
        "nation", "yr", F.round(F.col("profit_c") / 100.0, 2).alias("profit")
    ).orderBy("nation", F.col("yr").desc())


_STOCK_BP = 20  # parts holding > 0.2% of their nation's stock value


@register(
    "q123_important_stock",
    f"""
    WITH stock AS (
      SELECT n_name, l_partkey,
             CAST(sum(CAST(round((l_quantity * p_retailprice) * 100) AS BIGINT)) AS BIGINT) AS val_c
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN part     ON l_partkey = p_partkey
      GROUP BY n_name, l_partkey),
         tot AS (
      SELECT n_name, CAST(sum(val_c) AS BIGINT) AS tot_c
      FROM stock GROUP BY n_name)
    SELECT s.n_name, s.l_partkey, round(s.val_c / 100.0, 2) AS stock_value
    FROM stock s JOIN tot t USING (n_name)
    WHERE s.val_c * 10000 > t.tot_c * {_STOCK_BP}
    ORDER BY s.n_name, s.val_c DESC, s.l_partkey
    """,
)
def q123_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts concentrating more than 1% of their
    supplier nation's total stock value (0.2%; quantity x retail price
    stands in for partsupp availqty x supplycost — the fixture has no
    partsupp). Classic agg-vs-groupwise-total: the per-nation totals
    re-reduce the FIRST aggregate's output (never the facts), join
    back on n_name, and the share threshold is an integer
    cross-multiplication on cent-quantized sums."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    stock = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(_cents(F.col("l_quantity") * F.col("p_retailprice"))).cast("bigint").alias("val_c"))
    )
    tot = stock.groupBy("n_name").agg(F.sum("val_c").cast("bigint").alias("tot_c"))
    return (
        stock.join(tot, "n_name")
        .filter(F.col("val_c") * 10000 > F.col("tot_c") * _STOCK_BP)
        .select(
            "n_name",
            "l_partkey",
            F.round(F.col("val_c") / 100.0, 2).alias("stock_value"),
        )
        .orderBy("n_name", F.col("val_c").desc(), "l_partkey")
    )


@register(
    "q124_idle_rich_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(round(avg(CAST(round(c_acctbal * 100) AS BIGINT))) AS BIGINT)
               AS avg_c
      FROM customer WHERE c_acctbal > 0),
         idle AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01'))
    SELECT c_nationkey,
           count(*) AS numcust,
           CAST(sum(CAST(round((c_acctbal) * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
    FROM idle CROSS JOIN avg_bal
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) > avg_c
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q124_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average account balance
    and no recent orders, rolled up by nation (nation key stands in
    for Q22's phone-prefix country code). The average is a 1-row
    broadcast over cent-quantized balances; 'no recent orders' is a
    LEFT ANTI join against the date-pruned orders scan — the
    NOT-EXISTS decorrelation. With Q11 this completes all 22 TPC-H
    query shapes."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    bal_c = quantise("c_acctbal", 2)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg(bal_c)).cast("bigint").alias("avg_c")
    )
    idle = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        idle.crossJoin(F.broadcast(avg_bal))
        .filter(bal_c > F.col("avg_c"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_cents(F.col("c_acctbal"))).cast("bigint").alias("totacctbal_c"),
        )
        .orderBy("c_nationkey")
    )
