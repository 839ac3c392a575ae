"""Session configuration that every harness inherits from ``get_spark``,
and the driver work that it keeps off each query construction."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from ooh_etl_spark.queries import QUERIES
from ooh_etl_spark.session import codegen_compilations, default_driver_memory
from ooh_etl_spark.tables import load_table
from perfbench.sparktrace import job_group
from tests.conftest import SF_DIR, run


def test_repeat_execution_compiles_no_classes(spark):
    """Spark's generated-class cache holds q479's working set, so a
    second execution reuses every class the first one compiled. Under
    Spark's default cache of 100 classes each q479 execution evicted its
    own classes and recompiled about 150 of them."""
    run(spark, "q479_corpus_build_funnel").collect()
    before = codegen_compilations(spark)
    run(spark, "q479_corpus_build_funnel").collect()
    assert codegen_compilations(spark) - before == 0


def test_driver_heap_defaults_to_half_the_host(spark):
    """The default ``spark.driver.memory`` leaves the other half of the
    host to the OS, the Python workers and a second JVM; a fixed 16g was
    above a 15.7 GB host's memory. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    mb = int(default_driver_memory().removesuffix("m"))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    assert 0 < mb <= 16 * 1024 and 2 * mb <= phys_mb
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    assert spark.conf.get("spark.driver.memory") == want


def _group_stages(spark, group: str, body) -> list[list[str]]:
    """Run ``body()`` under a job group; each of its jobs' stage names."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    with job_group(sc, group):
        body()
    return [
        [tracker.getStageInfo(s).name for s in tracker.getJobInfo(j).stageIds]
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]


def _inference_jobs(stages: list[list[str]]) -> list[list[str]]:
    return [names for names in stages if any(n.startswith("parquet at ") for n in names)]


def test_table_schema_is_read_once_per_session(spark, tmp_path):
    """Without a declared schema every ``spark.read.parquet`` opens the
    footers in a one-task Spark job. ``load_table`` reads each table's
    schema once per session, so the first scan of a path runs that one
    job and no later scan or query construction runs it again."""
    shutil.copy(f"{SF_DIR}/orders.parquet", tmp_path / "orders.parquet")
    first = _group_stages(spark, "schema-first", lambda: load_table(spark, str(tmp_path), "orders"))
    assert len(first) == 1 and _inference_jobs(first) == first, first
    again = _group_stages(spark, "schema-again", lambda: load_table(spark, str(tmp_path), "orders"))
    assert again == [], again

    build = QUERIES["q333_hits_authority"].fn
    build(spark, SF_DIR)
    rebuilt = _group_stages(spark, "schema-q333", lambda: build(spark, SF_DIR))
    assert rebuilt, "q333's construction runs its checkpoint jobs in the group"
    assert _inference_jobs(rebuilt) == [], rebuilt


def test_dataframe_debugging_is_off_and_errors_keep_their_class(spark):
    """``get_spark`` turns off PySpark's per-call call-site capture
    (``session.DATAFRAME_DEBUGGING``). An ANSI runtime error still raises
    with its error class. Its "DataFrame query context" names the py4j
    reflection frame, not the Python line that built the expression."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    df = spark.range(3).select((F.lit(1) / (F.col("id") - F.col("id"))).alias("q"))
    with pytest.raises(ArithmeticException) as err:
        df.collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    # The frame is NativeMethodAccessorImpl.invoke0 until the JVM
    # inflates the reflective call into a GeneratedMethodAccessor class
    # (as it does in a long session); both are jdk.internal.reflect.
    [context] = err.value.getQueryContext()
    assert (context.contextType().name, context.fragment()) == ("DataFrame", "divide")
    assert re.match(r"(java\.base/)?jdk\.internal\.reflect\.\w+\.invoke0?\(", context.callSite())
    assert f'== DataFrame ==\n"divide" was called from\n{context.callSite()}' in str(err.value)
    assert "test_session.py" not in str(err.value)
    over = spark.range(1).select((F.col("id") + F.lit(2**31)).cast("int").alias("n"))
    with pytest.raises(ArithmeticException) as err:
        over.collect()
    assert err.value.getCondition() == "CAST_OVERFLOW"
