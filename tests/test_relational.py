"""Functional tests for ``queries/relational.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q336_salted_join_matches_unsalted(spark):
    from ooh_etl_spark.tables import load_table

    salted = {
        r.bucket: (r.n_lines, r.revenue_c)
        for r in run(spark, "q336_salted_skew_join").collect()
    }
    li = load_table(spark, SF_DIR, "lineitem")
    nation = load_table(spark, SF_DIR, "nation")
    f = li.select(
        F.when(F.col("l_orderkey") % 100 < 90, 0)
        .otherwise(F.col("l_orderkey") % 100)
        .alias("k"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("rev_c"),
    )
    d = nation.select(
        (F.col("n_nationkey") * 4).alias("k"), F.col("n_name").alias("bucket")
    )
    plain = {
        r.bucket: (r.n, r.s)
        for r in f.join(d, "k")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rev_c").alias("s"))
        .collect()
    }
    assert salted == plain


def test_q337_pivot_row_sums_match_long_form(spark):
    from ooh_etl_spark.tables import load_table

    rows = run(spark, "q337_pivot_segment_matrix").collect()
    segs = ["automobile_c", "building_c", "furniture_c", "household_c",
            "machinery_c"]
    wide_total = sum(sum(r[s] for s in segs) for r in rows)
    orders = load_table(spark, SF_DIR, "orders")
    long_total = orders.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
    ).collect()[0][0]
    assert wide_total == long_total
