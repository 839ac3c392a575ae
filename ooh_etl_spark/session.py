"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM); the configuration below is chosen so the *same logical
plans* deploy unchanged to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  selection) so plans tuned at sf0.1 survive a 100x scale-up.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number, so queries never
  hard-code partition counts.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) byte for byte.
- Arrow enabled for any pandas interchange (vectorized UDF boundary).
- Driver heap sized to the host (``default_driver_memory``): half of
  physical memory, capped at 16g, unless ``SPARK_GRAFT_DRIVER_MEM`` says.
- Generated-class cache sized to the measured working set
  (``CODEGEN_CACHE_ENTRIES``): bench.py's 52 headline entries compile
  1,247 distinct Janino classes in one session at sf0.001 and sf0.1,
  against Spark's default cache of 100. Under the default every q479
  execution recompiled about 145 of its classes. Holding the whole
  headline set cost 124 MB more heap after a full GC and 9.6 MB more
  metaspace than the default (one headline session each, 4 GB heap).
- PySpark's DataFrame debugging off (``DATAFRAME_DEBUGGING``): the
  call-site capture it runs on every DataFrame and Column API call is a
  fixed driver cost that construction pays hundreds of times per query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: ``spark.sql.codegen.cache.maxEntries``: the smallest power of two that
#: holds the distinct classes bench.py's 52 headline entries compile in
#: one session. Measured on 4 cores with the cache unbounded: 821 from
#: the count() warm-up at sf0.001, 20 more from count() at sf0.1 and 406
#: more from toPandas() at sf0.1, 1,247 in all. The cache is one LRU per
#: JVM and Spark's default of 100 is below q479's own working set, so
#: each execution evicted the classes the next one needed. A static SQL
#: conf: it takes effect only in the builder that starts the JVM.
CODEGEN_CACHE_ENTRIES = 2048

#: ``spark.python.sql.dataFrameDebugging.enabled``. When on (PySpark's
#: default), every wrapped DataFrame and Column API call reads
#: ``spark.sql.stackTracesInDataFrameContext`` over py4j, walks the
#: Python stack, tries to import ``ipykernel`` (a failing import here)
#: and sets and clears the JVM's ``PySparkCurrentOrigin``. A cProfile of
#: one q479 execution (2.74 s, 4 vCPUs) put that at over 1.1 ms on each
#: of its 210 wrapped calls: 0.124 s in ``_capture_call_site`` and 0.114 s
#: in the failed imports. What it gives up: a runtime error no longer
#: carries the Python ``file:line`` "DataFrame query context". The error
#: class, its message and the context of SQL-string expressions stay.
#: The DataFrame context is still printed, but it names the JVM
#: reflection frame of the py4j call (``"divide" was called from
#: java.base/jdk.internal.reflect.NativeMethodAccessorImpl.invoke0(Native
#: Method)``, or a ``GeneratedMethodAccessor`` once the JVM has inflated
#: that call), not the Python line that built the expression: read the
#: error class, not that line. PySpark's ``DataFrameQueryContextLogger``
#: also logs each such error as one JSON line, JVM stack included, to
#: stderr.
#: PySpark reads the setting once per process, from the first active
#: session, so it belongs in the builder.
DATAFRAME_DEBUGGING = "false"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """``spark.driver.memory`` unless ``SPARK_GRAFT_DRIVER_MEM`` is set:
    half of the host's physical memory, capped at 16g. A fixed 16g is
    above a 15.7 GB host's memory, and two such JVMs (an oracle run
    beside the test suite) got one OOM-killed there."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // 2**20
    return f"{min(half_mb, 16 * 1024)}m"


def get_spark(app_name: str = "ooh_etl_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime filter injection (SPARK-32268): executor-built bloom
        # filters planted at the fact scan when stats warrant — the
        # JVM-side form of a hand-rolled bloom prefilter (q121).
        # (runtimeFilter.semiJoinReduction deadlocks this Spark build on
        # any action — verified on spark.range(5).count() — so only the
        # bloom-filter flavor is enabled.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Progress-bar carriage returns interleave with stdout and
        # corrupted the driver's parse of bench.py's final JSON line
        # in rounds 4-5 ("parsed": null).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert (tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # JS-object assignment overwrites duplicate keys (index.js:63-66);
        # map_from_entries must mirror last-wins, not throw.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Keep catalog-table files (bucketed-join tests) out of the repo.
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", DATAFRAME_DEBUGGING)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """Janino compilations in this JVM so far, one per generated-class
    cache miss on the driver or on a local-mode task."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
