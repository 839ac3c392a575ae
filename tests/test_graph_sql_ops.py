"""Functional tests for ``queries/graph_sql_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def _lineitem_dir(tmp_path, pairs):
    """Write a minimal lineitem parquet of (l_orderkey, l_partkey)."""
    df = pd.DataFrame(pairs, columns=["l_orderkey", "l_partkey"])
    df["l_orderkey"] = df["l_orderkey"].astype("int64")
    df["l_partkey"] = df["l_partkey"].astype("int64")
    d = tmp_path / "li10"
    d.mkdir(exist_ok=True)
    df.to_parquet(d / "lineitem.parquet", index=False)
    return str(d)


def test_q333_hits_diverges_from_degree(spark):
    rows = run(spark, "q333_hits_authority").collect()
    assert len(rows) == 15
    assert rows[0].authority_ppm == 1_000_000  # top normalizes to 1
    raws = [r.authority_raw for r in rows]
    assert raws == sorted(raws, reverse=True)


def test_q354_label_spread_counts_conserve(spark):
    r = run(spark, "q354_label_spreading").collect()[0]
    assert r.n_label0 + r.n_label1 + r.n_label2 == r.n_newly_labeled
    assert r.avg_votes_milli >= 1000  # at least one vote each


def test_q374_modularity_identities(spark):
    rows = run(spark, "q374_copurchase_modularity").collect()
    assert len(rows) >= 2
    tot = rows[0].q_total_e6
    assert all(r.q_total_e6 == tot for r in rows)
    assert abs(tot - sum(r.q_contrib_e6 for r in rows)) <= len(rows)
    # modularity is bounded in [-1, 1]
    assert -1000000 <= tot <= 1000000
    # sum of community degrees = 2m -> sum of (d_c/2m) = 1
    two_m = sum(r.d_c for r in rows)
    assert two_m > 0 and two_m % 2 == 0


def test_q191b_equals_q191_on_capfree_graph(spark, tmp_path):
    # The q27b/q151c funnel-variant contract: when every node's degree
    # is below the cap (K=32), the capped adjacency IS the full
    # adjacency, so q191b must equal q191 row for row. 12 orders over
    # 15 parts, 3 parts per order -> max degree <= 14.
    pairs = [
        (o, p)
        for o in range(12)
        for p in ((o * 5) % 15, (o * 5 + 1) % 15, (o * 7 + 3) % 15)
    ]
    d = _lineitem_dir(tmp_path, pairs)
    base = sorted(map(tuple, run(spark, "q191_link_prediction", d).collect()))
    capped = sorted(
        map(tuple, run(spark, "q191b_link_prediction_capped", d).collect())
    )
    assert capped == base
    assert len(base) > 0


def test_q191b_cap_bites_on_hub_and_only_lowers_scores(spark, tmp_path):
    # One hub order with 40 parts (degree 39 > K=32) plus a few small
    # orders. The cap must (a) bound each center's wedge fan-out and
    # (b) never RAISE a pair's common-neighbor count or score: for any
    # pair in both outputs, capped common_n <= exact common_n and
    # capped jacc_ppm <= exact jacc_ppm (degrees stay exact).
    pairs = [(1, p) for p in range(40)]
    pairs += [(2, p) for p in (0, 1, 2)]
    pairs += [(3, p) for p in (0, 5, 6)]
    d = _lineitem_dir(tmp_path, pairs)
    exact = {
        (r["part_a"], r["part_b"]): r
        for r in run(spark, "q191_link_prediction", d).collect()
    }
    capped = {
        (r["part_a"], r["part_b"]): r
        for r in run(spark, "q191b_link_prediction_capped", d).collect()
    }
    assert capped, "capped variant returned nothing on the hub graph"
    overlap = set(exact) & set(capped)
    assert overlap, "no shared pairs to compare"
    for k in overlap:
        assert capped[k]["common_n"] <= exact[k]["common_n"]
        assert capped[k]["jacc_ppm"] <= exact[k]["jacc_ppm"]


def test_q436_per_node_ranking_structure(spark):
    rows = run(spark, "q436_link_topk_per_node").collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r["node"], []).append(r)
    for node, rs in by_node.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        keys = [(-r["jacc_ppm"], r["cand"]) for r in rs]
        assert keys == sorted(keys), f"rank order broken at node {node}"
