"""Sinks: parquet (default), partitioned parquet, CSV, JSON.

The reference's only sink is formatted stdout (K1, index.js:178-182) —
``report_lines`` covers that shape. An engine needs durable columnar
output: parquet with ``partitionBy`` is the 100 TB default (partition
pruning on read, vectorized scan, predicate pushdown); CSV/JSON exist
for interchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    # Schema is declared, never inferred (inference is a full extra scan
    # and mis-types free text — see sources/xml.py for the same stance).
    return spark.read.schema(schema).option("header", True).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).json(path)
