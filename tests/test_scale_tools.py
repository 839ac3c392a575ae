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


def test_check_oracle_result_lines_reach_a_redirected_log(spark, tmp_path, monkeypatch):
    """``check_scale_sweep.py`` reads ``check_oracle.py``'s log while it
    runs and, after a kill, books the first query with no result line
    as TIMEOUT. So each result line must be on disk as soon as it is
    printed, also when stdout is a block-buffered file."""
    from tools import check_oracle

    log = tmp_path / "check_oracle.log"
    calls = []

    def compare(*args):
        calls.append(args)
        if len(calls) > 1:
            raise RuntimeError("killed")
        return None

    with open(log, "w", buffering=1 << 16) as out:
        monkeypatch.setattr(sys, "stdout", out)
        monkeypatch.setattr(check_oracle, "compare", compare)
        monkeypatch.setattr(
            sys, "argv", ["check_oracle.py", SF_DIR, "flagship_doc_scan", "q_ooh_records"]
        )
        try:
            check_oracle.main()
        except RuntimeError:
            pass
        on_disk = log.read_text()
    assert len(calls) == 2
    assert "OK flagship_doc_scan:" in on_disk, on_disk
