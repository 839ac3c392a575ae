"""Thirteenth coverage wave: data validation and change tracking — the
Deequ-style constraint census, a column profiler, snapshot diff (CDC
accounting), and robust (winsorized) aggregation. These are the checks
an ETL engine runs around every load; the reference has no equivalent
(its only validation is a node-count console warning, index.js:33-35 —
here the same idea is a first-class metrics query).

Scale notes: every check is an aggregate or anti-join whose output is a
handful of counter rows; nothing materializes violations (at 100 TB
the violation LIST is a follow-up filtered query, the CHECK must stay a
counter). Money/means quantize to integer cents/micro-units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.tables import load_table


@register(
    "q111_constraint_census",
    """
    SELECT 'lineitem_orphans' AS check_name,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
    UNION ALL
    SELECT 'orders_dup_pk',
           (SELECT count(*) FROM
             (SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING count(*) > 1))
    UNION ALL
    SELECT 'orders_null_priority',
           (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL)
    UNION ALL
    SELECT 'lineitem_nonpositive_price',
           (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0)
    UNION ALL
    SELECT 'lineitem_qty_out_of_range',
           (SELECT count(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'lineitem_discount_out_of_range',
           (SELECT count(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.5)
    ORDER BY check_name
    """,
)
def q111_constraint_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint census: referential integrity (orphan
    facts, via LEFT ANTI join), primary-key uniqueness, completeness,
    and domain bounds — each reduced to a violation COUNTER, emitted as
    one (check_name, n_violations) table. Each check is an independent
    single-pass aggregate; the anti-join is the only shuffle and
    reduces at the join (no violation rows survive the stage)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def counter(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    orphans = counter(
        "lineitem_orphans",
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti"),
    )
    dup_pk = counter(
        "orders_dup_pk",
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1),
    )
    null_prio = counter(
        "orders_null_priority", orders.filter(F.col("o_orderpriority").isNull())
    )
    nonpos = counter(
        "lineitem_nonpositive_price", li.filter(F.col("l_extendedprice") <= 0)
    )
    qty = counter(
        "lineitem_qty_out_of_range",
        li.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
    )
    disc = counter(
        "lineitem_discount_out_of_range",
        li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)),
    )
    return (
        orphans.unionByName(dup_pk)
        .unionByName(null_prio)
        .unionByName(nonpos)
        .unionByName(qty)
        .unionByName(disc)
        .orderBy("check_name")
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "q112_column_profiler",
    f"""
    WITH u AS (
      SELECT col, x FROM (
        SELECT unnest(['l_quantity', 'l_extendedprice', 'l_discount', 'l_tax'])
                 AS col,
               unnest([l_quantity, l_extendedprice, l_discount, l_tax]) AS x
        FROM lineitem))
    SELECT col,
           count(*) AS n,
           count(*) - count(x) AS n_null,
           count(DISTINCT x) AS n_distinct,
           CAST(round(min(x) * 1000000) AS BIGINT) AS min_u,
           CAST(round(max(x) * 1000000) AS BIGINT) AS max_u,
           CAST(round(sum(CAST(round(x * 1000000) AS BIGINT)) / count(x))
                AS BIGINT) AS mean_u
    FROM u GROUP BY col ORDER BY col
    """,
)
def q112_column_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: count / nulls / distinct / min / max / mean for
    every numeric lineitem measure, computed in ONE scan via unpivot
    (melt) — the profile-everything pass a pipeline runs on ingest.
    Values quantize to micro-units at the unpivot so the mean's
    cross-row sum is exact integers; the shuffle carries 4 groups."""
    li = load_table(spark, sf_dir, "lineitem")
    u = li.unpivot([], _PROFILE_COLS, "col", "x")
    xu = quantise("x", 6)
    return (
        u.groupBy("col")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count("x")).alias("n_null"),
            F.countDistinct("x").alias("n_distinct"),
            quantise(F.min("x"), 6).alias("min_u"),
            quantise(F.max("x"), 6).alias("max_u"),
            F.round(F.sum(xu) / F.count("x")).cast("bigint").alias("mean_u"),
        )
        .orderBy("col")
    )


_SNAP_CUT = "2000-01-01"


@register(
    "q113_snapshot_diff",
    f"""
    WITH old AS (
      SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{_SNAP_CUT}'),
         ins AS (
      SELECT n.o_orderstatus
      FROM orders n
      WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.o_orderkey = n.o_orderkey))
    SELECT o_orderstatus,
           (SELECT count(*) FROM old o2
            WHERE o2.o_orderstatus = i.o_orderstatus) AS n_old,
           count(*) AS n_inserted
    FROM ins i
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q113_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC accounting): rows present in the new snapshot
    but not the old (keyed by primary key), counted per status next to
    the old snapshot's size — the insert side of the q59 MERGE,
    expressed as an anti-join so at 100 TB only keys move through the
    shuffle and AQE can pick a broadcast for the smaller snapshot. Both
    'snapshots' derive from one table scan with a pushed-down date
    split (the fixture has no second version of the table)."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < _SNAP_CUT)
    ins = orders.join(
        old.select(F.col("o_orderkey").alias("k")),
        orders.o_orderkey == F.col("k"),
        "left_anti",
    )
    n_old = old.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_old"))
    n_ins = ins.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_inserted"))
    return (
        n_ins.join(n_old, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            F.coalesce(F.col("n_old"), F.lit(0)).alias("n_old"),
            "n_inserted",
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q114_winsorized_mean",
    """
    WITH b AS (
      SELECT event_type,
             quantile_disc(value, 0.05) AS p05,
             quantile_disc(value, 0.95) AS p95
      FROM events GROUP BY event_type),
         w AS (
      SELECT e.event_type,
             CAST(round(least(greatest(e.value, b.p05), b.p95) * 100) AS BIGINT)
               AS v_c
      FROM events e JOIN b USING (event_type))
    SELECT event_type,
           count(*) AS n,
           CAST(round(avg(v_c)) AS BIGINT) AS winsorized_mean_c
    FROM w GROUP BY event_type ORDER BY event_type
    """,
)
def q114_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean: clamp each value into its type's [P5, P95]
    before averaging — the robust-statistics move that makes pipeline
    metrics insensitive to outliers. Discrete percentiles (values drawn
    from the data — the q39 rule: interpolated percentiles of 2-dp
    money land on the .005 rounding lattice where engines round apart)
    reduce to a 5-row broadcast; the clamp+mean is one more scan with
    integer-cent accumulation."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").alias("p05"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias("p95"),
    )
    w = ev.join(F.broadcast(b), "event_type").select(
        "event_type",
        quantise(F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")), 2)
        .alias("v_c"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("v_c")).cast("bigint").alias("winsorized_mean_c"),
        )
        .orderBy("event_type")
    )


# --- q311: Observation API — free pipeline metrics off the main action ---
_DUCK_OBSERVED = """
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(sum(CASE WHEN l_quantity <= 0 OR l_extendedprice < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_rows,
           CAST(max(length(l_returnflag)) AS BIGINT) AS max_flag_len
    FROM lineitem
"""


@register("q311_observed_metrics", _DUCK_OBSERVED)
def q311_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe`` (Spark's Observation API) — data-quality metrics
    collected AS A SIDE EFFECT of whatever action the pipeline already
    runs: the observed aggregates (row count, integer-cent revenue,
    constraint-violation count, max flag width — DISTINCT aggregates are
    rejected by observe(), a real API constraint) are computed inside
    the same pass as the main job, costing zero extra scans — the
    production pattern for freshness/volume monitors that q111's
    dedicated constraint census would otherwise re-scan for.

    The query triggers one action on the observed frame and returns
    the captured metrics as a 1-row DataFrame; the oracle recomputes
    the identical aggregates declaratively — proving the side-channel
    numbers match first-class SQL.

    100 TB shape: observe() piggybacks on the existing scan (metrics
    are accumulator-style partial aggregates merged on the driver);
    the returned table is 1 row. The streaming twin attaches the same
    Observation to a writeStream and reads it per-batch from the
    StreamingQueryListener."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(quantise("l_extendedprice", 2))
        .cast("bigint")
        .alias("revenue_cents"),
        F.sum(
            F.when(
                (F.col("l_quantity") <= 0) | (F.col("l_extendedprice") < 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_rows"),
        F.max(F.length("l_returnflag")).cast("bigint").alias("max_flag_len"),
    )
    observed.count()  # the "main job" action; metrics ride along free
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["revenue_cents"], m["bad_rows"], m["max_flag_len"])],
        "n_rows long, revenue_cents long, bad_rows long, max_flag_len long",
    )
