"""The workloads and the unit of work each one repeats.

A workload is a list of items. An item is built by a constructor call
(``construct``), consumed by ``consume`` (the query's user-visible
result), and checked against a digest fixed at set-up. One execution,
the unit every end-to-end metric counts, is construct + consume.
"""

from __future__ import annotations

import os

from digest import frame_digest
from oohgen import report_digest

#: Headline entries whose constructors do most of the work: eager
#: ``localCheckpoint()`` jobs run before the query returns a frame, and
#: their checkpoint RDDs stay persisted after the result is consumed.
CHECKPOINT_FUNNEL = (
    "q479_corpus_build_funnel",
    "q333_hits_authority",
    "q453_doremi_mixture_step",
)

#: Size of the generated OOH compilation (about 9 MB). One execution
#: takes about 3 s on 4 vCPUs, so a 10 s window holds two passes.
OOH_OCCUPATIONS = 5_000
#: Size of the compilation the parquet workload's traced runs probe the
#: XML layers with.
OOH_PROBE_OCCUPATIONS = 1_000

WORKLOADS = {
    "checkpoint_funnel": CHECKPOINT_FUNNEL,
    "ooh_etl": ("ooh_etl",),
}

#: Executions of each item in one pass. A pass's slowest execution is
#: its tail sample, so the single-item workload repeats its item.
PASS_REPEATS = {"checkpoint_funnel": 1, "ooh_etl": 2}

#: Untimed passes at set-up; the first execution of each item is
#: checked against its oracle. Both workloads keep getting faster over
#: their first two passes.
WARMUP_PASSES = 2


class ParquetQuery:
    """A registered query over the benchmark's parquet tables; its
    result is the Arrow ``toPandas`` collect."""

    def __init__(self, name: str, fn, data_dir: str) -> None:
        self.name, self.fn, self.data_dir = name, fn, data_dir
        self.expected: str | None = None

    def construct(self, spark):
        return self.fn(spark, self.data_dir)

    def frames(self, built) -> list:
        return [built]

    def collect_frame(self, built):
        return built

    def sink_frame(self, built):
        return built

    def consume(self, built):
        return built.toPandas()

    def digest(self, result) -> str:
        return frame_digest(result)

    def check(self, result) -> bool:
        return self.digest(result) == self.expected


class OohPipeline:
    """The reference pipeline on a generated compilation: XML scan ->
    18-column record projection -> long-quality filter -> report lines
    collected to the Python client, plus the records written as parquet."""

    name = "ooh_etl"

    def __init__(self, xml_path: str, out_dir: str, expected: dict) -> None:
        self.xml_path, self.out_dir = xml_path, out_dir
        self.expected = expected["digest"]
        self.occupations = expected["occupations"]

    def construct(self, spark):
        from ooh_etl_spark.sources.xml import (
            long_quality_filter,
            occupation_records,
            read_occupations,
            report_lines,
        )
        from ooh_etl_spark.tables import parallelize_rows

        records = occupation_records(parallelize_rows(read_occupations(spark, self.xml_path)))
        return records, report_lines(long_quality_filter(records))

    def frames(self, built) -> list:
        return list(built)

    def collect_frame(self, built):
        return built[1]

    def sink_frame(self, built):
        return built[0]

    def consume(self, built):
        from ooh_etl_spark.sources.sinks import write_parquet

        records, report = built
        lines = report.toPandas()
        write_parquet(records, self.out_dir)
        return lines

    def digest(self, result) -> str:
        return report_digest(zip(result["title"], result["line"]))

    def check(self, result) -> bool:
        return self.digest(result) == self.expected and written_rows(self.out_dir) == self.occupations


def written_rows(path: str) -> int:
    """Rows in a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
