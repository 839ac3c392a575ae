"""Session configuration that every harness inherits from ``get_spark``."""

from __future__ import annotations

from ooh_etl_spark.session import codegen_compilations
from tests.conftest import run


def test_repeat_execution_compiles_no_classes(spark):
    """Spark's generated-class cache holds q479's working set, so a
    second execution reuses every class the first one compiled. Under
    Spark's default cache of 100 classes each q479 execution evicted its
    own classes and recompiled about 150 of them."""
    run(spark, "q479_corpus_build_funnel").collect()
    before = codegen_compilations(spark)
    run(spark, "q479_corpus_build_funnel").collect()
    assert codegen_compilations(spark) - before == 0
