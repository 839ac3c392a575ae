"""Functional tests for ``queries/similarity.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pytest

from tests.conftest import run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q437_recall_monotone_and_exhaustive_at_full_probe(spark):
    rows = {r["nprobe"]: r for r in run(spark, "q437_ivf_recall_curve").collect()}
    assert set(rows) == {1, 2, 4, 8}
    rec = [rows[p]["recall_bp"] for p in (1, 2, 4, 8)]
    vol = [rows[p]["n_candidates"] for p in (1, 2, 4, 8)]
    assert rec == sorted(rec), f"recall not monotone in nprobe: {rec}"
    assert vol == sorted(vol), f"candidates not monotone in nprobe: {vol}"
    # probing every cell IS brute force: recall must be exactly 1
    assert rec[-1] == 10000


def test_q31b_structure_and_bounded_by_exact(spark):
    # In-bucket rerank can never beat the exact top-1 cosine, and each
    # query's ranking must be contiguous and sorted.
    exact = {
        r["query_id"]: r["cos_sim"]
        for r in run(spark, "q30_knn_cosine").collect()
        if r["rank"] == 1
    }
    rows = run(spark, "q31b_ann_lsh_det").collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cs = [r["cos_e6"] for r in rs]
        assert cs == sorted(cs, reverse=True)
        # e6-quantized LSH top-1 <= e6-quantized exact top-1 (+1 ulp of
        # the two quantizations)
        assert cs[0] <= round(exact[qid] * 1e6 * 1.0001) + 100
