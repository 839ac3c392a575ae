"""Catalog of the driver-generated parquet tables (TESTDATA.md).

``load_table`` is the single scan entry point for every query in the
engine: plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown, column pruning, and partition pruning (parquet row-group
stats) fully available. No caching here — at 100 TB you want the
vectorized reader + pushed filters, not a driver-pinned cache.

The scan is read with a declared schema. Without one, Spark opens the
file footers to infer it, and that inference is a Spark job of its own
on every call: about 125–160 ms and one construct job per scan, three
per ``checkpoint_funnel`` pass. ``table_schema`` infers each table's
schema once per SparkContext and hands the result to every later scan.
It is a memo rather than a pinned ``StructType`` per table because the
on-disk encoding of ``events.ts`` has changed between regenerations of
the data (int64 nanos under ``nanosAsLong``, later ``timestamp[us]``;
``tests/test_fixture_drift.py``): the memo keeps whatever the files say,
and the dtype-guarded nanos branch below stays exact for both. The memo
assumes what TESTDATA.md states: a table's files do not change while a
session runs. A new SparkContext reads them again.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Inferred table schemas by (application id, table path).
_SCHEMAS: dict[tuple[str, str], StructType] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet schema of one table, inferred from its footers the
    first time this SparkContext asks for it (one Spark job) and
    remembered after that. Keyed on the application id, so a restarted
    context infers again."""
    path = table_path(sf_dir, name)
    key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    if name == "events" and schema["ts"].dataType == LongType():
        # TIMESTAMP(NANOS) read as int64 nanos (session.get_spark sets
        # nanosAsLong); truncate to micros with integer division (exact
        # — double division would lose bits at int64 magnitude),
        # matching DuckDB's nanos→micros truncation.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def non_pushable(pred: Column) -> Column:
    """Mark a filter predicate as non-pushable.

    PushDownPredicates substitutes a filter's aliases and sinks the
    predicate through projections and repartition exchanges — which
    re-evaluates expensive projected expressions (XML/HTML parses, map
    builds) a second time inside the pre-exchange single-split scan
    stage, single-threaded. The rule only moves DETERMINISTIC
    predicates, so AND-ing a vacuously-true non-deterministic conjunct
    pins the filter where it was written, after the projection it
    consumes. Three traps found empirically (Spark 4.1):

    - an AND conjunct gets SPLIT and the deterministic part pushed
      anyway — the guard must be an OR (not separable);
    - ``rand()``-based guards get optimized away (range analysis knows
      rand ∈ [0,1), so ``rand() < -1`` folds to false);
    - an unused non-deterministic projected column is stripped by
      ColumnPruning before pushdown runs.

    ``spark_partition_id() < -1`` survives: non-deterministic, no
    range reasoning, free to evaluate. Use only where the predicate
    references expensive projected columns; cheap predicates SHOULD
    push to the scan.
    """
    return pred | (F.spark_partition_id() < F.lit(-1))


def parallelize_rows(df: DataFrame) -> DataFrame:
    """Spread rows across cores before CPU-heavy per-row expressions —
    but ONLY when the input is actually under-split.

    The driver fixtures are single-row-group parquet files, so their
    scan yields ONE split and every downstream narrow expression runs
    single-threaded; a round-robin repartition (cheap: the fixture is
    MBs) restores parallelism. At production scale the same table is
    thousands of splits and an unconditional repartition would inject a
    full round-robin shuffle of the corpus before any narrow work — AQE
    coalesces post-shuffle partitions but never elides the exchange
    itself. So the gate is MEASURED: ask the planned scan how many
    partitions it produces (no job runs — this is split planning only)
    and return the input untouched when it already meets the target.
    """
    from ooh_etl_spark.session import default_parallelism

    target = default_parallelism()
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: plan not convertible
        current = 0
    if current >= target:
        return df
    return df.repartition(target)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` scan spread by :func:`parallelize_rows`: the
    input of queries that run text-heavy per-row work over the corpus."""
    return parallelize_rows(load_table(spark, sf_dir, "documents"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
