"""Stage materialisation: the one place a query cuts its plan into
eagerly computed stages.

A query that reuses a frame (several consumers, an iterated operator,
a census beside the chain it measures) materialises it at the stage
boundary so each consumer plans from the computed rows instead of
re-deriving the whole upstream lineage. :func:`materialize` cuts one
frame and :func:`materialize_all` cuts frames that share no lineage as
concurrent jobs. Queries call them, and so do three library modules
whose frames always have several consumers: the iterated operators of
``operators/dedup.py`` and ``operators/graph.py``, and
``sources/xml.py::occupation_records``, whose records feed both the
pipeline's report and its parquet sink.

Spark does not share an uncached subtree between the consumers of one
plan (``df.select(a).union(df.select(b))`` computes ``df`` twice).
Read ``df`` once with a single ``explode(array(...))`` pass, or cut it
with :func:`materialize`.

Plan audits want the opposite: the full lineage back to the scans, so
a pin can assert on the shuffles a checkpoint would hide. Under
:func:`full_lineage` both calls return their inputs unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

_full_lineage: ContextVar[bool] = ContextVar("full_lineage", default=False)


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now (an eager local checkpoint) and return a frame
    that plans from the computed rows."""
    if _full_lineage.get():
        return df
    return df.localCheckpoint()


def materialize_all(*dfs: DataFrame) -> tuple[DataFrame, ...]:
    """Materialise frames with no mutual lineage as concurrent jobs;
    the results come back in argument order.

    Each job runs on a pool thread wrapped in
    ``pyspark.inheritable_thread_target``, so under pinned-thread mode
    (the default since Spark 3.2) it inherits the caller's JVM
    thread-local properties: job group, job description and scheduler
    pool. A caller cancelling the query via ``cancelJobGroup`` also
    cancels these jobs."""
    if _full_lineage.get():
        return dfs
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(df.sparkSession)(materialize), df)
            for df in dfs
        ]
        return tuple(f.result() for f in futures)


@contextmanager
def full_lineage() -> Iterator[None]:
    """Within the block, :func:`materialize` and :func:`materialize_all`
    called from this thread return their inputs unchanged, so plans
    reach the scans."""
    token = _full_lineage.set(True)
    try:
        yield
    finally:
        _full_lineage.reset(token)
