"""Functional tests for ``queries/streaming.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q349_foreach_batch_conserves_totals(spark):
    from ooh_etl_spark.tables import load_table

    rows = run(spark, "q349_stream_foreach_batch").collect()
    assert len(rows) > 0
    streamed = {}
    for r in rows:
        n, v = streamed.get(r.event_type, (0, 0.0))
        streamed[r.event_type] = (n + r.n, round(v + r.total_value, 2))
    batch = {
        r.event_type: (r.n, float(r.tv))
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0
            ).alias("tv"),
        )
        .collect()
    }
    assert streamed == batch
