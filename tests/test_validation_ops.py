"""Functional tests for ``queries/validation_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q311_observation_matches_declarative(spark):
    from ooh_etl_spark.tables import load_table
    from pyspark.sql import functions as SF

    r = QUERIES["q311_observed_metrics"].fn(spark, SF_DIR).collect()[0]
    li = load_table(spark, SF_DIR, "lineitem")
    want = li.agg(
        SF.count(SF.lit(1)).alias("n"),
        SF.sum(SF.round(SF.col("l_extendedprice") * 100).cast("bigint")).alias("rev"),
    ).collect()[0]
    assert r["n_rows"] == want["n"]
    assert r["revenue_cents"] == want["rev"]
    assert r["bad_rows"] == 0  # fixture generates valid rows
