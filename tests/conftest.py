from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ooh_etl_spark.session import get_spark
from ooh_etl_spark.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("ooh_etl_spark_tests")


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def assert_matches_oracle(spark, duck, name: str, sf_dir: str = SF_DIR) -> None:
    """The driver's compare for one registered query:
    ``tools.check_oracle.compare``, the same code the full-registry
    replica runs."""
    from tools.check_oracle import compare

    msg = compare(spark, duck, name, sf_dir)
    assert msg is None, f"{name}: {msg}"


def run(spark, name: str, sf_dir: str = SF_DIR):
    """Build registered query ``name`` over the parquet tables in ``sf_dir``."""
    from ooh_etl_spark.queries import QUERIES

    return QUERIES[name].fn(spark, sf_dir)


def docs_dir(tmp_path, rows) -> str:
    """Write a minimal documents.parquet a query can load as sf_dir.
    ``rows`` are (doc_id, text, lang, source, n_chars) tuples; n_chars
    is recomputed from the text."""
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    df["n_chars"] = df["text"].str.len().astype("int64")
    df["doc_id"] = df["doc_id"].astype("int64")
    d = tmp_path / "docs"
    d.mkdir(exist_ok=True)
    df.to_parquet(d / "documents.parquet", index=False)
    return str(d)


def emb_dir(tmp_path, rows) -> str:
    """Write a minimal embeddings.parquet a query can load as sf_dir.
    ``rows`` are (vec_id, vector) pairs; vectors are stored as float32."""
    t = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [np.asarray(r[1], dtype="float32") for r in rows],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * len(rows), pa.int32()),
        }
    )
    d = tmp_path / "emb"
    d.mkdir(exist_ok=True)
    pq.write_table(t, d / "embeddings.parquet")
    return str(d)
