"""The scale-run tools: the replica builder and the sweep that times
registered queries through ``bench.time_reps``."""

from __future__ import annotations

import filecmp
import sys

import duckdb

from ooh_etl_spark.tables import TABLE_NAMES
from tests.conftest import SF_DIR, run


def test_full_replica_writes_every_table_and_the_dedup_view(tmp_path, monkeypatch):
    from tools import make_full_replica

    out = str(tmp_path / "sf0.002")
    monkeypatch.setattr(sys, "argv", ["make_full_replica.py", "2", out, SF_DIR])
    assert make_full_replica.main() == 0

    con = duckdb.connect()

    def rows(path: str) -> int:
        return con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]

    for t in TABLE_NAMES:
        copies = 1 if t in ("region", "nation") else 2  # dimensions stay verbatim
        assert rows(f"{out}/{t}.parquet") == copies * rows(f"{SF_DIR}/{t}.parquet"), t
        if t != "documents":
            assert filecmp.cmp(f"{out}/{t}.parquet", f"{out}_dedup/{t}.parquet", shallow=False), t
    kept = con.execute(f"SELECT doc_id FROM '{out}_dedup/documents.parquet' ORDER BY 1").fetchall()
    first = con.execute(
        f"SELECT min(doc_id) FROM '{out}/documents.parquet' GROUP BY text ORDER BY 1"
    ).fetchall()
    assert kept == first and len(kept) < rows(f"{out}/documents.parquet")


def test_sweep_cell_times_the_collected_result(spark):
    from tools.sweep_queries import sweep

    out = sweep(spark, {"1x": SF_DIR}, ["q01_pricing_summary"], 1)
    cell = out["timings"]["1x"]["q01_pricing_summary"]
    assert cell["rows"] == len(run(spark, "q01_pricing_summary").toPandas())
    assert cell["median_s"] > 0 and cell["spread_pct"] == 0.0
    assert {"contaminated", "foreign_share", "steal_share"} <= cell["contamination"].keys()
    assert out["ratios_vs_1x"] == {"q01_pricing_summary": {}}
    assert "stage_counts" not in out
