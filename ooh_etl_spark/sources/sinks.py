"""Sink: parquet.

The reference's only sink is formatted stdout (K1, index.js:178-182) —
``report_lines`` covers that shape. An engine needs durable columnar
output: parquet is the 100 TB default (vectorized scan, predicate
pushdown on read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)
