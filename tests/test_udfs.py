"""Functional tests for ``queries/udfs.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q310_arrow_norms_match_sql_expression(spark):
    # the zero-copy Arrow fold must agree with the declarative form
    from ooh_etl_spark.tables import load_table
    from pyspark.sql import functions as SF

    rows = QUERIES["q310_map_in_arrow"].fn(spark, SF_DIR).collect()
    emb = load_table(spark, SF_DIR, "embeddings")
    expr = emb.select(
        (
            SF.round(
                1000000
                * SF.sqrt(
                    SF.expr(
                        "aggregate(transform(cast(embedding as array<double>), "
                        "x -> x * x), cast(0.0 as double), (a, y) -> a + y)"
                    )
                )
            ).cast("bigint")
            / 1000000
        )
        .cast("bigint")
        .alias("norm_unit")
    )
    want = {
        r["norm_unit"]: r["cnt"]
        for r in expr.groupBy("norm_unit").agg(SF.count(SF.lit(1)).alias("cnt")).collect()
    }
    got = {r["norm_unit"]: r["n_vecs"] for r in rows}
    assert got == want
