"""Custom Python streaming source (Spark 4 DataSource API).

The reference's source is a whole-file XML load (index.js:186); its
natural cluster-era analog is an API-style record feed. This module
registers ``occupation_stream`` — a deterministic synthetic occupation
generator read as a micro-batched stream — through
``spark.dataSource.register``, giving the engine a third source family
(files, streams, custom Python). q231 reads it.

Determinism: record fields derive from the record id via fixed integer
arithmetic — the same rows for any batch size and on any replay.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

_TITLES = ("Data Engineer", "Nurse", "Welder", "Teacher", "Analyst")
_EDU = ("High school diploma", "Bachelor's degree", "Master's degree")


def _feed_row(i: int) -> tuple:
    """One deterministic feed record — shared by the streaming reader
    and (re-derived in SQL) the q231 oracle."""
    return (
        i,
        f"{_TITLES[i % len(_TITLES)]} {i}",
        float(30000 + (i * 7919) % 90000),  # annual wage
        _EDU[(i // 7) % len(_EDU)],
        (i * 2654435761) % 97 < 30,  # ~30% flagged
    )


class OccupationStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked streaming reader over the deterministic feed:
    each micro-batch advances the id offset by ``batchsize`` until
    ``numrecords`` is exhausted, after which empty batches signal 'no
    new data' (so ``processAllAvailable`` terminates). Exactly-once
    comes from ``readBetweenOffsets``: on recovery Spark replays the
    [start, end) id range, and the generator is a pure function of the
    id — the same contract a Kafka-offset replay provides."""

    def __init__(self, options):
        self.n = int(options.get("numrecords", 1000))
        self.batch = int(options.get("batchsize", 200))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        i0 = int(start["i"])
        i1 = min(i0 + self.batch, self.n)
        return iter([_feed_row(i) for i in range(i0, i1)]), {"i": i1}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_feed_row(i) for i in range(int(start["i"]), int(end["i"]))])


class OccupationStreamSource(DataSource):
    """spark.readStream.format("occupation_stream")
    .option("numRecords", n).option("batchSize", b).load()"""

    @classmethod
    def name(cls) -> str:
        return "occupation_stream"

    def schema(self) -> str:
        return (
            "occ_id bigint, title string, median_pay_annual double,"
            " education string, outlook_bright boolean"
        )

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return OccupationStreamReader(self.options)


def register_occupation_stream(spark) -> None:
    spark.dataSource.register(OccupationStreamSource)
