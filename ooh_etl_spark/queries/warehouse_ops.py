"""Warehouse maintenance operators.

The three operations that keep a 100 TB warehouse CORRECT over time,
as opposed to querying a frozen snapshot:

- SCD2 apply-changes (Kimball's slowly-changing dimension type 2):
  merge an incoming change set into a versioned dimension — close the
  superseded row, open the new one, pass no-ops through untouched.
- Incremental view maintenance for aggregate-over-join views
  (Gupta & Mumick, IEEE Data Eng. 1995): refresh a materialized view
  from the DELTA alone, merging partial aggregates instead of
  rescanning the base — the algebra behind every streaming
  materialized view.
- Order-free table fingerprinting: a commutative content checksum
  (bit_xor of per-row hashes) that equates two table states without
  sorting or co-locating them — the cheap replication/backfill
  equality check.

Numeric policy: money moves in integer cents end to end (the new SCD2
value is computed by integer arithmetic on cents, never float * 1.1);
fingerprints are 60-bit integers from md5 prefixes, folded with XOR —
commutative, associative, overflow-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ooh_etl_spark.functions.money import quantise
from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.stages import materialize
from ooh_etl_spark.tables import load_documents, load_table

# --- q176: SCD2 apply-changes -------------------------------------------
_EFF = "2024-06-01"  # effective date of the change batch
_OPEN_FROM = "2020-01-01"  # the existing dimension's validity start
_HIGH_DATE = "9999-12-31"  # open-row sentinel (avoids NULL-vs-NaN canon)

_DUCK_SCD2 = f"""
    WITH dim AS (
      SELECT c_custkey AS k,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer),
         changes AS (
      -- updates: every 7th key gets +10% (integer-cents arithmetic);
      -- keys = 3 (mod 7) arrive as NO-OP rows (same value);
      -- five brand-new keys arrive as inserts.
      SELECT k, (bal_c * 11) // 10 AS new_bal_c FROM dim WHERE k % 7 = 0
      UNION ALL
      SELECT k, bal_c FROM dim WHERE k % 7 = 3
      UNION ALL
      SELECT k + 10000000 AS k, 12345 AS new_bal_c FROM dim WHERE k < 5),
         classified AS (
      SELECT c.k AS k, c.new_bal_c, d.bal_c,
             CASE WHEN d.k IS NULL THEN 'insert'
                  WHEN d.bal_c != c.new_bal_c THEN 'update'
                  ELSE 'noop' END AS action
      FROM changes c LEFT JOIN dim d ON c.k = d.k)
    SELECT k AS c_custkey, bal_c / 100.0 AS acctbal,
           '{_OPEN_FROM}' AS valid_from, '{_EFF}' AS valid_to,
           0 AS is_current
    FROM classified WHERE action = 'update'
    UNION ALL
    SELECT k, new_bal_c / 100.0, '{_EFF}', '{_HIGH_DATE}', 1
    FROM classified WHERE action IN ('update', 'insert')
    ORDER BY c_custkey, is_current
"""


@register("q176_scd2_apply_changes", _DUCK_SCD2)
def q176_scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge: a change batch (updates, no-ops, and inserts —
    synthesized deterministically from the customer table) classified
    against the current dimension by an outer join, emitting the row
    versions the merge writes: the CLOSED predecessor (valid_to =
    effective date, is_current = 0) for every genuine update, and the
    OPENED row (valid_from = effective date) for updates and inserts.
    No-op changes (same value) emit nothing — the filter that keeps a
    daily full-extract feed from rewriting the whole dimension.

    100 TB shape: one keyed equi-join of the change batch against the
    CURRENT slice only (is_current = 1 — at scale a partition of its
    own, so the scan prunes to it); untouched rows are never read or
    rewritten. The new balance is integer-cents arithmetic
    ((bal_c * 11) div 10), so both engines land the same cent.

    Ref: Kimball & Ross, The Data Warehouse Toolkit, ch. 5 (SCD2);
    the MERGE formulation is Delta/Iceberg's apply-changes."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        quantise("c_acctbal", 2).alias("bal_c"),
    )
    # Integer division (DIV) — Spark's DIV and DuckDB's // both
    # truncate toward zero, so negative balances land the same cent.
    updates = dim.filter(F.col("k") % 7 == 0).select(
        "k", F.expr("(bal_c * 11) DIV 10").alias("new_bal_c")
    )
    noops = dim.filter(F.col("k") % 7 == 3).select(
        "k", F.col("bal_c").alias("new_bal_c")
    )
    inserts = dim.filter(F.col("k") < 5).select(
        (F.col("k") + 10_000_000).alias("k"), F.lit(12345).alias("new_bal_c")
    )
    changes = updates.union(noops).union(inserts)
    classified = changes.join(dim, "k", "left").select(
        "k",
        "new_bal_c",
        "bal_c",
        F.when(F.col("bal_c").isNull(), "insert")
        .when(F.col("bal_c") != F.col("new_bal_c"), "update")
        .otherwise("noop")
        .alias("action"),
    )
    # Both row versions in ONE pass over the classified join (explode
    # of a conditional struct array; explode drops NULL arrays, so
    # no-ops vanish) — a closed.union(opened) would execute the
    # change-batch join twice (the q296 Union-recompute class).
    closed_row = F.struct(
        F.col("k").alias("c_custkey"),
        (F.col("bal_c") / 100.0).alias("acctbal"),
        F.lit(_OPEN_FROM).alias("valid_from"),
        F.lit(_EFF).alias("valid_to"),
        F.lit(0).alias("is_current"),
    )
    opened_row = F.struct(
        F.col("k").alias("c_custkey"),
        (F.col("new_bal_c") / 100.0).alias("acctbal"),
        F.lit(_EFF).alias("valid_from"),
        F.lit(_HIGH_DATE).alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    return (
        classified.select(
            F.explode(
                F.when(
                    F.col("action") == "update", F.array(closed_row, opened_row)
                ).when(F.col("action") == "insert", F.array(opened_row))
            ).alias("r")
        )
        .select("r.*")
        .orderBy("c_custkey", "is_current")
    )


# --- q177: incremental view maintenance (aggregate over join) -----------
_DUCK_IVM = """
    WITH o AS (
      SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders),
         v AS (
      SELECT n.n_name AS nation, sum(o.price_c) AS revenue_c,
             count(*) AS n_orders
      FROM o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT nation, revenue_c / 100.0 AS revenue, n_orders,
           CAST(round(revenue_c * 1.0 / n_orders) AS BIGINT) AS avg_price_c
    FROM v ORDER BY nation
"""


@register("q177_join_view_ivm", _DUCK_IVM)
def q177_join_view_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregate-over-join view
    (nation-level revenue): the base is split into a 90% "old
    snapshot" and a 10% "delta batch" (orderkey mod 10), the view is
    maintained as old partials + delta partials MERGED BY ADDITION,
    and the oracle recomputes from the full base — equality is the
    self-maintainability proof (Gupta & Mumick 1995: SUM/COUNT views
    over insert deltas merge additively; AVG is derived from the two,
    never maintained directly — the algebraic-vs-distributive rule).

    100 TB shape: the refresh scans ONLY the delta (at production the
    new partition/files), aggregates it to |nations| rows, and merges
    with the stored partials — the full base is never rescanned. The
    dimension joins broadcast on the delta side exactly as they did on
    the original build. Integer-cents sums make merge order
    irrelevant to the final cent."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        quantise("o_totalprice", 2).alias("price_c"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def partials(part: DataFrame) -> DataFrame:
        return (
            part.join(F.broadcast(cust), part.o_custkey == cust.c_custkey)
            .join(
                F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.sum("price_c").alias("revenue_c"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    old_v = partials(orders.filter(F.col("o_orderkey") % 10 != 0))
    delta_v = partials(orders.filter(F.col("o_orderkey") % 10 == 0))
    merged = (
        old_v.union(delta_v)
        .groupBy("nation")
        .agg(
            F.sum("revenue_c").alias("revenue_c"),
            F.sum("n_orders").alias("n_orders"),
        )
    )
    return merged.select(
        "nation",
        (F.col("revenue_c") / 100.0).alias("revenue"),
        "n_orders",
        F.round(F.col("revenue_c") * 1.0 / F.col("n_orders"))
        .cast("bigint")
        .alias("avg_price_c"),
    ).orderBy("nation")


# --- q178: order-free table fingerprint ---------------------------------
_DUCK_FP = """
    WITH h AS (
      SELECT source,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '|',
                                                 coalesce(text, ''))), 1, 15))
                  AS BIGINT) AS rh
      FROM documents)
    SELECT source, count(*) AS n_rows, bit_xor(rh) AS fingerprint
    FROM h GROUP BY source ORDER BY source
"""


@register("q178_table_fingerprint", _DUCK_FP)
def q178_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per source partition: each row hashes to a
    60-bit integer (md5 prefix — engine-identical, unlike the engines'
    native hash builtins), folded with bit_xor — commutative,
    associative, overflow-free, so the fingerprint is independent of
    row order, partitioning, and merge tree, and two table states are
    equal iff their fingerprints and counts agree (the count guards
    XOR's self-canceling duplicate-pair blind spot).

    This is the replication/backfill equality primitive: comparing a
    100 TB table across clusters costs one narrow map pass + a
    |partitions|-row exchange on each side, no sort, no co-location,
    and it parallelizes embarrassingly. Pytest pins the order-freedom:
    a repartition(7) of the input yields the identical fingerprint."""
    docs = load_documents(spark, sf_dir)
    # NULL text must hash identically in both engines: concat_ws SKIPS
    # a NULL argument AND its separator ('42' not '42|'), while
    # DuckDB's concat renders NULL as '' ('42|') — an explicit coalesce
    # on both sides removes the asymmetry (round-4 review finding).
    rh = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col("doc_id"), F.coalesce(F.col("text"), F.lit(""))
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.select("source", rh.alias("rh"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(rh)").alias("fingerprint"),
        )
        .orderBy("source")
    )


@register(
    "q245_cdc_apply_deletes",
    """
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS val_c
      FROM orders WHERE o_orderkey % 4 = 0),
         changes AS (
      SELECT o_orderkey AS k,
             o_orderkey % 3 AS seq_in_key,
             CASE CAST((o_orderkey // 10) % 3 AS INT)
               WHEN 0 THEN 'I' WHEN 1 THEN 'U' ELSE 'D' END AS op,
             CAST(round(o_totalprice * 100) + 777 AS BIGINT) AS val_c,
             o_orderkey * 7 AS lsn
      FROM orders WHERE o_orderkey % 8 IN (1, 4)),
         last_change AS (
      SELECT k, op, val_c FROM (
        SELECT k, op, val_c,
               row_number() OVER (PARTITION BY k ORDER BY lsn DESC,
                                  seq_in_key DESC) AS rn
        FROM changes)
      WHERE rn = 1),
         applied AS (
      SELECT coalesce(b.k, c.k) AS k,
             CASE WHEN c.op = 'D' THEN NULL
                  WHEN c.op IS NULL THEN b.val_c
                  ELSE c.val_c END AS val_c,
             CASE WHEN c.op = 'D' THEN 'deleted'
                  WHEN c.op IS NULL THEN 'untouched'
                  WHEN b.k IS NULL THEN 'inserted'
                  ELSE 'updated' END AS outcome
      FROM base b FULL OUTER JOIN last_change c ON b.k = c.k)
    SELECT outcome,
           count(*) AS n,
           CAST(coalesce(sum(val_c), 0) AS BIGINT) AS total_c,
           CAST(min(k) AS BIGINT) AS min_key
    FROM applied
    GROUP BY outcome
    ORDER BY outcome
    """,
)
def q245_cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply — ordered inserts, updates AND DELETES — the
    piece q59 (upsert) and q176 (SCD2) leave out, and the semantics a
    Debezium/'apply changes into' consumer must honor: multiple ops
    per key collapse to the LAST by (lsn, seq) BEFORE touching the
    target (a delete-then-reinsert must not net to delete), deletes
    remove the row, updates replace, inserts create, untouched rows
    survive. The change feed is synthesized deterministically from
    orders so every outcome class is exercised; the audit reports the
    outcome census (count, surviving value total, exemplar key).

    Shape: the op-collapse is one window over the CHANGE feed only
    (never the target); the apply is ONE full-outer join on the key —
    same plan MERGE INTO generates — with integer-cents values. At
    partitioned-storage scale dynamic partition pruning confines the
    join to touched partitions (q59's note).
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("k"),
        quantise("o_totalprice", 2).alias("val_c"),
    )
    changes = orders.filter(
        (F.col("o_orderkey") % 8).isin(1, 4)
    ).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 3).alias("seq_in_key"),
        F.element_at(
            F.array(F.lit("I"), F.lit("U"), F.lit("D")),
            (F.floor(F.col("o_orderkey") / 10) % 3).cast("int") + 1,
        ).alias("op"),
        (F.round(F.col("o_totalprice") * 100) + 777).cast("bigint").alias("val_c"),
        (F.col("o_orderkey") * 7).alias("lsn"),
    )
    w = Window.partitionBy("k").orderBy(
        F.desc("lsn"), F.desc("seq_in_key")
    )
    last_change = (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "op", "val_c")
    )
    b = base.select(F.col("k").alias("bk"), F.col("val_c").alias("bval"))
    applied = b.join(
        last_change.select(
            F.col("k").alias("ck"), "op", F.col("val_c").alias("cval")
        ),
        F.col("bk") == F.col("ck"),
        "full_outer",
    ).select(
        F.coalesce("bk", "ck").alias("k"),
        F.when(F.col("op") == "D", F.lit(None))
        .when(F.col("op").isNull(), F.col("bval"))
        .otherwise(F.col("cval"))
        .alias("val_c"),
        F.when(F.col("op") == "D", "deleted")
        .when(F.col("op").isNull(), "untouched")
        .when(F.col("bk").isNull(), "inserted")
        .otherwise("updated")
        .alias("outcome"),
    )
    return (
        applied.groupBy("outcome")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("val_c"), F.lit(0)).cast("bigint").alias("total_c"),
            F.min("k").cast("bigint").alias("min_key"),
        )
        .orderBy("outcome")
    )


@register(
    "q286_partition_layout_report",
    """
    WITH parts AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n,
             count(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1),
         s AS (
      SELECT count(*) AS n_partitions, sum(n) AS n_rows,
             max(n) AS max_rows, min(n) AS min_rows,
             sum(n * n) AS snn
      FROM parts)
    SELECT CAST(n_partitions AS BIGINT) AS n_partitions,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(max_rows AS BIGINT) AS max_rows,
           CAST(min_rows AS BIGINT) AS min_rows,
           CAST(round(10000.0 * max_rows * n_partitions / n_rows)
                AS BIGINT) AS skew_factor_bp,
           CAST(round(1000000.0 * snn * n_partitions
                      / (CAST(n_rows AS DOUBLE) * n_rows))
                AS BIGINT) AS imbalance_e6
    FROM s
    """,
)
def q286_partition_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout planning report for a date-partitioned events
    store: per-day row counts reduced to the two numbers a data
    engineer sizes files and tasks with — the SKEW FACTOR
    (max/mean, in bp; >2x means the hottest partition dominates task
    time) and the IMBALANCE index n·Σc²/ (Σc)² (1.0 = perfectly even;
    the same Σc² statistic as q204's join-size estimate, applied to
    layout). This is the query you run BEFORE choosing the partition
    column, and again after to verify.

    Exactness: all integer counts; two closed forms on a 1-row
    reduce. Shape: one calendar-keyed aggregate (the future partition
    key), a |days|-row rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    parts = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    s = parts.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_rows"),
        F.min("n").alias("min_rows"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    return s.select(
        F.col("n_partitions").cast("bigint").alias("n_partitions"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("max_rows").cast("bigint").alias("max_rows"),
        F.col("min_rows").cast("bigint").alias("min_rows"),
        F.round(
            10000.0 * F.col("max_rows") * F.col("n_partitions") / F.col("n_rows")
        )
        .cast("bigint")
        .alias("skew_factor_bp"),
        F.round(
            1000000.0
            * F.col("snn")
            * F.col("n_partitions")
            / (F.col("n_rows").cast("double") * F.col("n_rows"))
        )
        .cast("bigint")
        .alias("imbalance_e6"),
    )


# --- q312: small-file compaction planner (next-fit by running size) ------
_DUCK_COMPACT = """
    WITH files AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS rows_in
      FROM events GROUP BY 1),
         tot AS (SELECT CAST(ceil(sum(rows_in) / 10.0) AS BIGINT) AS target
                 FROM files),
         planned AS (
      SELECT d, rows_in,
             coalesce(sum(rows_in) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // tot.target AS bin
      FROM files CROSS JOIN tot)
    SELECT CAST(bin AS BIGINT) AS bin,
           count(*) AS n_files,
           CAST(sum(rows_in) AS BIGINT) AS total_rows,
           CAST(min(d) AS VARCHAR) AS first_day,
           CAST(max(d) AS VARCHAR) AS last_day
    FROM planned GROUP BY bin ORDER BY bin
"""


@register("q312_compaction_planner", _DUCK_COMPACT)
def q312_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the table-maintenance chore
    behind every lakehouse OPTIMIZE: assign date-partition files to
    compaction bins by NEXT-FIT over the running size (bin = floor of
    the preceding cumulative size / target), keeping day order so each
    output file stays date-clustered (preserving q314's zone-map
    skipping). Next-fit is the deterministic, windowable member of
    the bin-packing family — first-fit-decreasing packs ~2% tighter
    but is inherently sequential-stateful.

    Target sizing is data-derived (total/10), so the plan is
    meaningful at every SF. Output: per bin, the file count, row
    total, and date span the compactor would rewrite.

    100 TB shape: the file inventory is metadata-sized (one row per
    file/partition, aggregated in one pass); the planning window runs
    over that bounded inventory, never over data rows."""
    ev = load_table(spark, sf_dir, "events")
    # checkpoint the (metadata-sized: one row per file/day) inventory:
    # it feeds both the target-size aggregate and the planning window,
    # and without it each consumer re-runs the corpus pass.
    files = materialize(
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("rows_in"))
    )
    tot = files.agg(
        F.ceil(F.sum("rows_in") / 10.0).cast("bigint").alias("target")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    planned = files.crossJoin(F.broadcast(tot)).select(
        "d",
        "rows_in",
        F.floor(
            F.coalesce(F.sum("rows_in").over(wcum), F.lit(0)) / F.col("target")
        ).alias("bin"),
    )
    return (
        planned.groupBy(F.col("bin").cast("bigint").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("rows_in").cast("bigint").alias("total_rows"),
            F.min("d").cast("string").alias("first_day"),
            F.max("d").cast("string").alias("last_day"),
        )
        .orderBy("bin")
    )


# --- q313: clustering factor / sortedness audit ---------------------------
_CF_FILE_ROWS = 1000  # synthetic file = 1000 consecutive orderkeys

_DUCK_CLUSTERING = f"""
    WITH r AS (
      SELECT o_orderkey // {_CF_FILE_ROWS} AS f, o_orderkey, o_orderdate
      FROM orders),
         lagged AS (
      SELECT f, o_orderdate,
             lag(o_orderdate) OVER (PARTITION BY f ORDER BY o_orderkey)
               AS prev_d
      FROM r),
         pairs AS (
      SELECT f,
             CAST(sum(CASE WHEN prev_d IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN prev_d IS NOT NULL AND o_orderdate >= prev_d
                           THEN 1 ELSE 0 END) AS BIGINT) AS nondec,
             CAST(sum(CASE WHEN prev_d IS NOT NULL AND o_orderdate <> prev_d
                           THEN 1 ELSE 0 END) AS BIGINT) AS changes
      FROM lagged GROUP BY f)
    SELECT count(*) AS n_files,
           CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
           CAST(round(10000.0 * sum(nondec) / sum(n_pairs)) AS BIGINT)
             AS sortedness_bp,
           CAST(round(1000.0 * (sum(n_pairs) + count(*))
                      / (sum(changes) + count(*))) AS BIGINT)
             AS avg_run_len_milli
    FROM pairs
"""


@register("q313_clustering_factor", _DUCK_CLUSTERING)
def q313_clustering_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-factor / sortedness audit of a column in PHYSICAL
    row order (the statistic behind Oracle's CLUSTERING_FACTOR and
    every 'should I re-sort this table?' decision): within each
    synthetic {_CF_FILE_ROWS}-row file, the share of adjacent row
    pairs where o_orderdate is non-decreasing (sortedness) and the
    mean value-run length. Random layout scores ~50% sortedness and
    run length ~1; a freshly sorted table scores 10000 bp — the two
    numbers tell the optimizer how much q314's zone maps will skip
    BEFORE paying for the sort.

    100 TB shape: the lag window partitions by file id (bounded rows
    per partition, embarrassingly parallel — file boundaries are the
    natural partition boundaries, and cross-file pairs are
    deliberately excluded the way min/max zone maps are per-file);
    one aggregate over the per-file pair counts."""
    orders = load_table(spark, sf_dir, "orders")
    r = orders.select(
        F.floor(F.col("o_orderkey") / _CF_FILE_ROWS).alias("f"),
        "o_orderkey",
        "o_orderdate",
    )
    w = Window.partitionBy("f").orderBy("o_orderkey")
    lagged = r.select(
        "f", "o_orderdate", F.lag("o_orderdate").over(w).alias("prev_d")
    )
    pairs = lagged.groupBy("f").agg(
        F.sum(F.when(F.col("prev_d").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pairs"),
        F.sum(
            F.when(
                F.col("prev_d").isNotNull()
                & (F.col("o_orderdate") >= F.col("prev_d")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("nondec"),
        F.sum(
            F.when(
                F.col("prev_d").isNotNull()
                & (F.col("o_orderdate") != F.col("prev_d")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("changes"),
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_pairs").cast("bigint").alias("n_pairs"),
        F.round(10000.0 * F.sum("nondec") / F.sum("n_pairs"))
        .cast("bigint")
        .alias("sortedness_bp"),
        F.round(
            1000.0
            * (F.sum("n_pairs") + F.count(F.lit(1)))
            / (F.sum("changes") + F.count(F.lit(1)))
        )
        .cast("bigint")
        .alias("avg_run_len_milli"),
    )


# --- q314: zone-map (min/max) file-skipping audit -------------------------
_ZM_LO = "1995-01-01"
_ZM_HI = "1995-03-31"

_DUCK_ZONEMAP = f"""
    WITH zones AS (
      SELECT o_orderkey // {_CF_FILE_ROWS} AS f,
             min(o_orderdate) AS lo, max(o_orderdate) AS hi,
             count(*) AS rows_in
      FROM orders GROUP BY 1),
         hits AS (
      SELECT count(*) AS n_files,
             CAST(sum(CASE WHEN hi >= DATE '{_ZM_LO}'
                            AND lo <= DATE '{_ZM_HI}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_hit
      FROM zones),
         m AS (
      SELECT CAST(sum(CASE WHEN o_orderdate BETWEEN DATE '{_ZM_LO}'
                            AND DATE '{_ZM_HI}' THEN 1 ELSE 0 END) AS BIGINT)
               AS matching,
             CAST(sum(CASE WHEN o_orderdate < DATE '{_ZM_LO}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS offset_
      FROM orders)
    SELECT CAST(hits.n_files AS BIGINT) AS n_files, hits.files_hit,
           m.matching,
           CAST(CASE WHEN m.matching = 0 THEN 0
                ELSE (m.offset_ + m.matching - 1) // {_CF_FILE_ROWS}
                     - m.offset_ // {_CF_FILE_ROWS} + 1 END AS BIGINT)
             AS files_hit_if_sorted,
           CAST(round(10000.0 * (1.0 - hits.files_hit * 1.0 / hits.n_files))
                AS BIGINT) AS skip_bp_current
    FROM hits CROSS JOIN m
"""


@register("q314_zonemap_skipping", _DUCK_ZONEMAP)
def q314_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) skipping audit — the number that
    decides whether q144's Z-order / a date re-sort pays for itself:
    for a Q1-1995 date predicate, how many {_CF_FILE_ROWS}-row files
    must be read under the CURRENT layout (file min/max straddles the
    range) versus under a perfectly date-sorted layout, where the
    matching rows are contiguous and the file count is pure integer
    arithmetic — floor((offset + matching - 1)/rows) -
    floor(offset/rows) + 1 — computed WITHOUT sorting anything.

    On the randomly-laid-out fixture the current layout reads ~every
    file (skip ~0 bp) while the sorted bound reads only
    ceil(matching/{_CF_FILE_ROWS}) — that gap is the business case
    for the re-sort, quantified in one metadata-cheap pass.

    100 TB shape: zones are ONE min/max aggregate per file (this is
    literally what parquet footers store — at scale, read the footers
    instead); the sorted bound needs only two scalar counts."""
    orders = load_table(spark, sf_dir, "orders")
    zones = orders.groupBy(
        F.floor(F.col("o_orderkey") / _CF_FILE_ROWS).alias("f")
    ).agg(
        F.min("o_orderdate").alias("lo"),
        F.max("o_orderdate").alias("hi"),
    )
    hits = zones.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(
            F.when(
                (F.col("hi") >= F.lit(_ZM_LO).cast("date"))
                & (F.col("lo") <= F.lit(_ZM_HI).cast("date")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("files_hit"),
    )
    m = orders.agg(
        F.sum(
            F.when(
                F.col("o_orderdate").between(_ZM_LO, _ZM_HI), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("matching"),
        F.sum(F.when(F.col("o_orderdate") < _ZM_LO, 1).otherwise(0))
        .cast("bigint")
        .alias("offset_"),
    )
    return hits.crossJoin(F.broadcast(m)).select(
        "n_files",
        "files_hit",
        "matching",
        F.when(F.col("matching") == 0, 0)
        .otherwise(
            F.floor((F.col("offset_") + F.col("matching") - 1) / _CF_FILE_ROWS)
            - F.floor(F.col("offset_") / _CF_FILE_ROWS)
            + 1
        )
        .cast("bigint")
        .alias("files_hit_if_sorted"),
        quantise(1.0 - F.col("files_hit") * 1.0 / F.col("n_files"), 4)
        .alias("skip_bp_current"),
    )


# --- q329: sort-key advisor via rank correlation (round 6) -----------------
_DUCK_SORTKEY = """
    WITH d AS (
      SELECT CAST(epoch(o_orderdate) AS BIGINT) AS qcol,
             o_custkey AS c_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c_totalprice,
             o_orderkey AS c_orderkey
      FROM orders),
         n AS (SELECT count(*) AS n FROM d),
         stacked AS (
      SELECT 'o_custkey' AS candidate, c_custkey AS v, qcol FROM d
      UNION ALL
      SELECT 'o_totalprice_c', c_totalprice, qcol FROM d
      UNION ALL
      SELECT 'o_orderkey', c_orderkey, qcol FROM d),
         rv AS (
      SELECT candidate, v, count(*) AS c FROM stacked GROUP BY 1, 2),
         rvm AS (
      SELECT candidate, v,
             2 * coalesce(sum(c) OVER (PARTITION BY candidate ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS r2v
      FROM rv),
         rq AS (
      SELECT qcol, count(*) AS c FROM d GROUP BY 1),
         rqm AS (
      SELECT qcol,
             2 * coalesce(sum(c) OVER (ORDER BY qcol
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS r2q
      FROM rq),
         j AS (
      SELECT s.candidate, rvm.r2v / 2.0 AS rx, rqm.r2q / 2.0 AS ry
      FROM stacked s
      JOIN rvm ON rvm.candidate = s.candidate AND rvm.v = s.v
      JOIN rqm ON rqm.qcol = s.qcol),
         m AS (
      SELECT candidate, count(*) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
      FROM j GROUP BY 1)
    SELECT candidate,
           CAST(round(1000000.0 * (n * sxy - sx * sy)
                / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
                AS BIGINT) AS rank_corr_e6,
           CAST(row_number() OVER (
             ORDER BY abs((n * sxy - sx * sy)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) DESC,
             candidate) AS BIGINT) AS advisor_rank
    FROM m ORDER BY advisor_rank
"""


@register("q329_sort_key_advisor", _DUCK_SORTKEY)
def q329_sort_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-key advisor: rank candidate physical sort keys by |Spearman
    correlation| with the dominant query predicate column (order date)
    — the decision input for lakehouse OPTIMIZE ... ZORDER / SORT BY.
    Sorting by a key strongly rank-correlated with the predicate
    column tightens every file's min/max envelope on that column, so
    zone maps (q314) prune; a near-zero correlation predicts useless
    pruning WITHOUT EXECUTING ANY RE-SORT. The q313/q314 trio closes:
    measure current layout -> bound the ideal -> pick the key.

    Ranks are histogram midranks (the q281/q326 rank-map: 2*midrank
    stays integer, no corpus sort); the correlation is Pearson over
    midranks = Spearman with the standard tie treatment. Moment sums
    run in doubles over midranks (exact integers + .5 halves — exact
    in binary floating point, and identical in both engines).

    100 TB shape: one narrow scan stacks the candidates (explode),
    per-candidate value histograms bound the windows, and the moment
    reduce is map-side combinable. Candidate count is a constant; the
    advisor runs as metadata-cheaply as the audits it feeds."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.unix_timestamp(F.col("o_orderdate")).cast("bigint").alias("qcol"),
        F.col("o_custkey").alias("c_custkey"),
        quantise("o_totalprice", 2)
        .alias("c_totalprice"),
        F.col("o_orderkey").alias("c_orderkey"),
    )
    stacked = materialize(d.select(
        "qcol",
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_custkey").alias("candidate"),
                    F.col("c_custkey").alias("v"),
                ),
                F.struct(
                    F.lit("o_totalprice_c").alias("candidate"),
                    F.col("c_totalprice").alias("v"),
                ),
                F.struct(
                    F.lit("o_orderkey").alias("candidate"),
                    F.col("c_orderkey").alias("v"),
                ),
            )
        ).alias("s"),
    ).select("qcol", "s.candidate", "s.v"))
    rv = stacked.groupBy("candidate", "v").agg(F.count(F.lit(1)).alias("c"))
    wv = (
        Window.partitionBy("candidate")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rvm = rv.select(
        "candidate",
        "v",
        (2 * F.coalesce(F.sum("c").over(wv), F.lit(0)) + F.col("c") + 1).alias(
            "r2v"
        ),
    )
    rq = stacked.filter(F.col("candidate") == "o_custkey").groupBy("qcol").agg(
        F.count(F.lit(1)).alias("c")
    )
    wq = Window.orderBy("qcol").rowsBetween(Window.unboundedPreceding, -1)
    rqm = rq.select(
        "qcol",
        (2 * F.coalesce(F.sum("c").over(wq), F.lit(0)) + F.col("c") + 1).alias(
            "r2q"
        ),
    )
    j = (
        stacked.join(rvm, ["candidate", "v"])
        .join(F.broadcast(rqm), "qcol")
        .select(
            "candidate",
            (F.col("r2v") / 2.0).alias("rx"),
            (F.col("r2q") / 2.0).alias("ry"),
        )
    )
    m = j.groupBy("candidate").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "candidate",
        quantise(rho, 6).alias("rank_corr_e6"),
        F.row_number()
        .over(Window.orderBy(F.abs(rho).desc(), F.col("candidate")))
        .cast("bigint")
        .alias("advisor_rank"),
    ).orderBy("advisor_rank")


# --- q340: rendezvous (HRW) shard assignment (round 6) ---------------------
_HRW_N = 8  # current shard count; the resize audit adds shard 8

_DUCK_HRW = f"""
    WITH shards AS (SELECT unnest(generate_series(0, {_HRW_N})) AS s),
         w AS (
      SELECT c_custkey AS k, shards.s,
             CAST(CAST('0x' || substr(md5(c_custkey || ':' || shards.s), 1, 15)
                  AS BIGINT) AS BIGINT) AS wt
      FROM customer CROSS JOIN shards),
         a8 AS (
      SELECT k, arg_max(s, wt) AS shard
      FROM w WHERE s < {_HRW_N} GROUP BY k),
         a9 AS (
      SELECT k, arg_max(s, wt) AS shard FROM w GROUP BY k),
         moved AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(CASE WHEN a8.shard <> a9.shard THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_moved,
             CAST(sum(CASE WHEN a8.shard <> a9.shard
                            AND a9.shard <> {_HRW_N}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_wrong
      FROM a8 JOIN a9 USING (k))
    SELECT n_keys, n_moved, n_moved_wrong,
           CAST(round(10000.0 * n_moved / n_keys) AS BIGINT) AS moved_bp
    FROM moved
"""


@register("q340_rendezvous_sharding", _DUCK_HRW)
def q340_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    1998 — the stateless consistent-hashing alternative every
    partition-router and cache tier uses): each key lands on the shard
    maximizing md5(key:shard), so adding a shard moves ONLY the keys
    whose new-shard weight wins — about 1/(N+1) of them — and NO key
    moves between pre-existing shards. The query assigns every
    customer under N={_HRW_N} and N={_HRW_N}+1 and AUDITS both halves
    of that contract: moved fraction near 1/9, and n_moved_wrong
    (moves not landing on the new shard) EXACTLY ZERO — the
    minimal-disruption property, machine-checked.

    Determinism: md5 is bit-identical in both engines (the q221/q301
    convention); weights are 60-bit integer prefixes; argmax ties are
    impossible in practice and would break on (wt) only.

    100 TB shape: weight generation is a narrow per-row map over
    |keys| x (N+1) rows (N is small and constant); assignment is one
    keyed max_by aggregate. No ring state, no coordination — the
    reason HRW beats ring hashing for engine-internal routing."""
    cust = load_table(spark, sf_dir, "customer")
    shards = spark.range(_HRW_N + 1).select(F.col("id").cast("int").alias("s"))
    w = materialize(cust.select(F.col("c_custkey").alias("k")).crossJoin(
        F.broadcast(shards)
    ).select(
        "k",
        "s",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("k"), F.col("s"))), 1, 15
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("wt"),
    ))  # the weight table feeds both assignments
    a8 = (
        w.filter(F.col("s") < _HRW_N)
        .groupBy("k")
        .agg(F.max_by("s", "wt").alias("shard8"))
    )
    a9 = w.groupBy("k").agg(F.max_by("s", "wt").alias("shard9"))
    return (
        a8.join(a9, "k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_moved"),
            F.sum(
                F.when(
                    (F.col("shard8") != F.col("shard9"))
                    & (F.col("shard9") != _HRW_N),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_moved_wrong"),
        )
        .select(
            "n_keys",
            "n_moved",
            "n_moved_wrong",
            F.round(10000.0 * F.col("n_moved") / F.col("n_keys"))
            .cast("bigint")
            .alias("moved_bp"),
        )
    )


# --- q358: multi-format sink round-trip fingerprint (round 6) --------------
_DUCK_SINK_RT = """
    WITH f AS (
      SELECT CAST(bit_xor(CAST(CAST('0x' || substr(md5(
               o_orderkey || '|' || o_custkey || '|'
               || CAST(round(o_totalprice * 100) AS BIGINT)), 1, 15)
             AS BIGINT) AS BIGINT)) AS BIGINT) AS fp,
             CAST(count(*) AS BIGINT) AS n
      FROM orders)
    SELECT fmt.fmt AS format, f.n AS n_rows, f.fp AS fingerprint
    FROM f CROSS JOIN (SELECT unnest(['csv', 'json', 'parquet']) AS fmt) fmt
    ORDER BY format
"""


@register("q358_sink_roundtrip", _DUCK_SINK_RT)
def q358_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format SINK round-trip proof: the orders projection is
    WRITTEN to CSV, JSON, and parquet and read back with the one
    DECLARED schema (parquet too: its footer agrees, and inferring it
    again would be a Spark job of its own), and each read-back
    computes the order-free content fingerprint (bit-XOR of
    per-row md5 prefixes — q178's commutative checksum). The ORACLE
    computes the same fingerprint from the source table directly, so
    a hash match per format proves the write→read cycle is LOSSLESS
    for every format — the check that catches CSV quoting bugs, JSON
    number-precision drift, and schema-inference mis-typing (reads
    declare schemas, never infer; inference is a full extra scan and
    the classic silent corrupter).

    Money rides as integer cents INSIDE the fingerprint, so a format
    that round-trips doubles imprecisely would still be caught on the
    cent value.

    100 TB shape: writes are the engine's normal partitioned output;
    the fingerprint is one map-side-combinable aggregate per read —
    the cheap replication/backfill equality check run after any
    cross-format migration."""
    import tempfile

    base = tempfile.mkdtemp(prefix="sink_rt_")
    proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        quantise("o_totalprice", 2).alias("price_c"),
    )
    schema = "o_orderkey long, o_custkey long, price_c long"
    proj.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    proj.write.mode("overwrite").json(f"{base}/json")
    proj.write.mode("overwrite").parquet(f"{base}/parquet")
    reads = {
        "csv": spark.read.schema(schema).option("header", True).csv(
            f"{base}/csv"
        ),
        "json": spark.read.schema(schema).json(f"{base}/json"),
        "parquet": spark.read.schema(schema).parquet(f"{base}/parquet"),
    }

    def fingerprint(df: DataFrame, fmt: str) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", "o_orderkey", "o_custkey", "price_c"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        return df.agg(
            F.lit(fmt).alias("format"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(concat_ws('|', o_orderkey, "
                "o_custkey, price_c)), 1, 15), 16, 10) as bigint))"
            )
            .cast("bigint")
            .alias("fingerprint"),
        )

    out = None
    for fmt, df in sorted(reads.items()):
        part = fingerprint(df, fmt)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("format")


# --- round-11 wave 2: q449 hash-partition skew audit --------------------------

_SKEW_P = 32  # shard count: the local[32] / shuffle-partition analogue


def _duck_shard(key: str) -> str:
    return f"(('0x' || substr(md5({key}), 1, 8))::BIGINT % {_SKEW_P})"


_DUCK_SKEW = f"""
    WITH pol AS (
      SELECT 'by_source' AS policy, {_duck_shard("source")} AS shard
      FROM documents
      UNION ALL
      SELECT 'by_source_salt8' AS policy,
             {_duck_shard("source || ':' || CAST(doc_id % 8 AS VARCHAR)")}
               AS shard
      FROM documents
      UNION ALL
      SELECT 'by_doc' AS policy,
             {_duck_shard("CAST(doc_id AS VARCHAR)")} AS shard
      FROM documents),
         s AS (
      SELECT policy, shard, count(*) AS rows_in
      FROM pol GROUP BY policy, shard)
    SELECT policy,
           CAST(count(*) AS BIGINT) AS shards_used,
           CAST(max(rows_in) AS BIGINT) AS max_shard_rows,
           CAST((10000 * {_SKEW_P} * max(rows_in)) // sum(rows_in) AS BIGINT)
             AS skew_bp
    FROM s GROUP BY policy ORDER BY policy
"""


@register("q449_partition_skew_audit", _DUCK_SKEW)
def q449_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-partition skew audit — the pre-shuffle question every
    100 TB job should ask before it runs ('will one reducer get the
    whole corpus?'): simulate hashing into {_SKEW_P} shards under
    three keying policies — the natural-but-skewed key (source: few
    distinct values, so whole sources land on single shards), the
    salted key (source x doc_id%8 — the standard skew cure this repo
    applies in its own join strategies), and the uniform key (doc_id)
    — and report shards used, the largest shard, and skew in basis
    points of the uniform ideal (10000 = perfectly balanced;
    {_SKEW_P}0000 = everything on one shard). The md5-derived shard
    function is engine-identical (the q444 hex-parse pair), so the
    audit itself is oracle-checked.

    100 TB shape: three scan-stage hash projections and one
    (policy, shard) aggregate — the audit costs one corpus pass and
    answers whether the NEXT job's exchange will stall on a hot
    shard; at a real deployment the policies are the candidate
    shuffle keys of that job."""
    docs = load_table(spark, sf_dir, "documents")

    def shard(key):
        return F.expr(
            f"CAST(conv(substring(md5({key}), 1, 8), 16, 10) AS BIGINT)"
            f" % {_SKEW_P}"
        )

    pol = (
        docs.select(F.lit("by_source").alias("policy"), shard("source").alias("shard"))
        .unionAll(
            docs.select(
                F.lit("by_source_salt8").alias("policy"),
                shard(
                    "source || ':' || CAST(doc_id % 8 AS STRING)"
                ).alias("shard"),
            )
        )
        .unionAll(
            docs.select(
                F.lit("by_doc").alias("policy"),
                shard("CAST(doc_id AS STRING)").alias("shard"),
            )
        )
    )
    s = pol.groupBy("policy", "shard").agg(F.count(F.lit(1)).alias("rows_in"))
    return (
        s.groupBy("policy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shards_used"),
            F.max("rows_in").cast("bigint").alias("max_shard_rows"),
            F.expr(f"(10000 * {_SKEW_P} * max(rows_in)) div sum(rows_in)")
            .cast("bigint")
            .alias("skew_bp"),
        )
        .orderBy("policy")
    )


# --- round-11 wave 3: q452 join strategy advisor -------------------------------

#: Broadcast-row threshold for the advisor (a literal stand-in for
#: spark.sql.autoBroadcastJoinThreshold expressed in rows; the real
#: knob is bytes — rows are what the census measures exactly).
_ADVISOR_BCAST_ROWS = 50000

_ADVISOR_JOINS = (
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
)


def _advisor_duck() -> str:
    parts = []
    for name, lt, lk, rt, rk in _ADVISOR_JOINS:
        parts.append(f"""
    SELECT '{name}' AS join_name,
           l.rows_l AS left_rows, r.rows_r AS right_rows,
           l.keys_l AS left_keys, r.keys_r AS right_keys,
           CAST((CAST(l.rows_l AS HUGEINT) * r.rows_r)
                // (CASE WHEN l.keys_l > r.keys_r THEN l.keys_l
                         ELSE r.keys_r END) AS BIGINT) AS est_out_rows,
           CASE WHEN r.rows_r <= {_ADVISOR_BCAST_ROWS} THEN 'broadcast_right'
                WHEN l.rows_l <= {_ADVISOR_BCAST_ROWS} THEN 'broadcast_left'
                ELSE 'shuffle' END AS strategy,
           CAST(CASE WHEN r.rows_r <= {_ADVISOR_BCAST_ROWS}
                       OR l.rows_l <= {_ADVISOR_BCAST_ROWS} THEN 0
                     ELSE l.rows_l + r.rows_r END AS BIGINT) AS shuffled_rows,
           CAST(CASE WHEN r.rows_r <= {_ADVISOR_BCAST_ROWS} THEN r.rows_r
                     WHEN l.rows_l <= {_ADVISOR_BCAST_ROWS} THEN l.rows_l
                     ELSE 0 END AS BIGINT) AS broadcast_rows
    FROM (SELECT CAST(count(*) AS BIGINT) AS rows_l,
                 CAST(count(DISTINCT {lk}) AS BIGINT) AS keys_l
          FROM {lt}) l
    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS rows_r,
                       CAST(count(DISTINCT {rk}) AS BIGINT) AS keys_r
                FROM {rt}) r""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY join_name"


@register("q452_join_strategy_advisor", _advisor_duck())
def q452_join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join strategy advisor — the pre-flight planning question a
    100 TB job asks of every join ('broadcast, or shuffle both
    sides?') answered from exact per-table censuses, for the three
    canonical TPC-H FK joins: row counts and distinct join keys per
    side, the System-R output estimate |L|*|R| / max(d_L, d_R)
    (Selinger SIGMOD'79 — the uniform-key independence estimate AQE
    refines at runtime), the chosen strategy under a literal
    broadcast row threshold, and what each choice moves (shuffled
    rows vs broadcast rows). This is the advisory twin of what
    Catalyst does with autoBroadcastJoinThreshold + AQE: the query
    MAKES the decision visible and oracle-checkable.

    Determinism: counts and distinct counts are exact integers; the
    estimate is an integer floor division.

    100 TB shape: two map-side-combinable censuses per join (the
    exact countDistinct shuffles the key column once — at production
    swap approx_count_distinct, q11b's HLL path, for a scan-stage
    sketch); the advisor's own output is |joins| = 3 rows."""
    out = None
    for name, lt, lk, rt, rk in _ADVISOR_JOINS:
        la = (
            load_table(spark, sf_dir, lt)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("rows_l"),
                F.countDistinct(F.col(lk)).cast("bigint").alias("keys_l"),
            )
        )
        ra = (
            load_table(spark, sf_dir, rt)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("rows_r"),
                F.countDistinct(F.col(rk)).cast("bigint").alias("keys_r"),
            )
        )
        row = la.crossJoin(ra).select(
            F.lit(name).alias("join_name"),
            F.col("rows_l").alias("left_rows"),
            F.col("rows_r").alias("right_rows"),
            F.col("keys_l").alias("left_keys"),
            F.col("keys_r").alias("right_keys"),
            # DECIMAL(38,0) product (HUGEINT in the oracle): at ~1e9–
            # 1e10 rows/side the BIGINT product overflows 2^63 — the
            # q397 overflow contract q453/q455 already follow (ADVICE
            # r11). The quotient fits BIGINT again after the divide.
            F.expr(
                "CAST(CAST(rows_l AS DECIMAL(38,0)) * rows_r AS DECIMAL(38,0)) div"
                " (CASE WHEN keys_l > keys_r THEN keys_l ELSE keys_r END)"
            )
            .cast("bigint")
            .alias("est_out_rows"),
            F.expr(
                f"CASE WHEN rows_r <= {_ADVISOR_BCAST_ROWS} THEN 'broadcast_right'"
                f" WHEN rows_l <= {_ADVISOR_BCAST_ROWS} THEN 'broadcast_left'"
                " ELSE 'shuffle' END"
            ).alias("strategy"),
            F.expr(
                f"CASE WHEN rows_r <= {_ADVISOR_BCAST_ROWS}"
                f" OR rows_l <= {_ADVISOR_BCAST_ROWS} THEN 0"
                " ELSE rows_l + rows_r END"
            )
            .cast("bigint")
            .alias("shuffled_rows"),
            F.expr(
                f"CASE WHEN rows_r <= {_ADVISOR_BCAST_ROWS} THEN rows_r"
                f" WHEN rows_l <= {_ADVISOR_BCAST_ROWS} THEN rows_l"
                " ELSE 0 END"
            )
            .cast("bigint")
            .alias("broadcast_rows"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("join_name")


# --- round-12 wave: q470 bucket-count sizing advisor --------------------------

_BUCKET_GRID = (8, 32, 128)

_DUCK_BUCKETS = f"""
    WITH g AS (SELECT unnest([{", ".join(str(x) for x in _BUCKET_GRID)}])
                 AS n_buckets),
         h AS (
      SELECT g.n_buckets,
             ((l_orderkey * 2654435761) % 4294967296) % g.n_buckets AS bucket
      FROM lineitem CROSS JOIN g),
         per_bucket AS (
      SELECT n_buckets, bucket, count(*) AS rows_in
      FROM h GROUP BY n_buckets, bucket),
         stats AS (
      SELECT n_buckets,
             count(*) AS filled,
             sum(rows_in) AS total,
             max(rows_in) AS max_rows
      FROM per_bucket GROUP BY n_buckets)
    SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(filled AS BIGINT) AS filled_buckets,
           CAST(total // n_buckets AS BIGINT) AS mean_rows,
           CAST(max_rows AS BIGINT) AS max_rows,
           CAST((10000 * max_rows * n_buckets) // total AS BIGINT)
             AS skew_bp
    FROM stats ORDER BY n_buckets
"""


@register("q470_bucket_sizing_advisor", _DUCK_BUCKETS)
def q470_bucket_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count sizing advisor — the bucketed-table DDL question
    (`CLUSTERED BY (l_orderkey) INTO how-many BUCKETS`?) that decides
    whether the q452 advisor's shuffle joins can become bucketed
    co-located joins: for each candidate bucket count, the fill rate,
    mean and max rows per bucket, and the skew factor (10000 =
    perfectly uniform). Too few buckets → each bucket file exceeds
    the task-memory budget; too many → small-file overhead; a high
    skew_bp at every count says the key itself is hot and needs
    salting (q336) rather than more buckets.

    Hashing is the q69 Knuth multiplicative scheme — pure BIGINT
    arithmetic, so the census is engine-reproducible (Spark's own
    bucket hash is Murmur3, but the BALANCE statistics of any good
    hash agree; the advisor measures the key distribution, not the
    hash function).

    Determinism: integer hashing, integer counts, integer bp.

    100 TB shape: one map-side-combinable (count, bucket) aggregate
    per grid entry over narrow int pairs, then a |grid|-row reduce —
    the same shape the real bucketed write's shuffle would have, run
    as a cheap census before committing to the DDL."""
    li = load_table(spark, sf_dir, "lineitem")
    grid = spark.createDataFrame(
        [(x,) for x in _BUCKET_GRID], "n_buckets BIGINT"
    )
    h = li.crossJoin(F.broadcast(grid)).select(
        "n_buckets",
        (
            ((F.col("l_orderkey") * F.lit(2654435761)) % F.lit(4294967296))
            % F.col("n_buckets")
        ).alias("bucket"),
    )
    per_bucket = h.groupBy("n_buckets", "bucket").agg(
        F.count(F.lit(1)).alias("rows_in")
    )
    return (
        per_bucket.groupBy("n_buckets")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("filled_buckets"),
            F.expr("sum(rows_in) div n_buckets").cast("bigint").alias("mean_rows"),
            F.max("rows_in").cast("bigint").alias("max_rows"),
            F.expr("(10000 * max(rows_in) * n_buckets) div sum(rows_in)")
            .cast("bigint")
            .alias("skew_bp"),
        )
        .select(
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            "filled_buckets", "mean_rows", "max_rows", "skew_bp",
        )
        .orderBy("n_buckets")
    )


# --- q59: MERGE INTO emulation -----------------------------------------------


@register(
    "q59_merge_upsert",
    """
    WITH updates AS (
      SELECT c_custkey, c_name, c_nationkey,
             round(c_acctbal + 100.0, 2) AS c_acctbal,
             'UPGRADED' AS c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0)
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 10 <> 0
    UNION ALL
    SELECT * FROM updates
    """,
)
def q59_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (anti-join + union): every 10th customer
    gets an updated balance and segment; the rest pass through."""
    from ooh_etl_spark.operators.relational import merge_upsert

    cust = load_table(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        F.lit("UPGRADED").alias("c_mktsegment"),
    )
    return merge_upsert(cust, updates, "c_custkey")
