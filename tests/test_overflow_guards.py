"""Regression guards for the round-8 BIGINT-overflow class: pairwise
products of large integer-cent sums must not overflow int64 (q384
crashed at the 5x scaling corpus; q210/q256/q307 were hardened by the
same-class audit). These tests feed adversarially large values that
make the OLD product forms exceed 2^63, and assert the queries run and
return sane results. Constructible only for q384 (per-group sums) and
q256 (rank x cumulative-cents cross product); the q210/q307 decimal
paths need >3e9 rows per group to overflow and are pinned by oracle
equivalence at the stock SFs instead."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import run


def _write(tmp_path, table, df):
    (tmp_path / "d").mkdir(exist_ok=True)
    df.to_parquet(tmp_path / "d" / f"{table}.parquet", index=False)
    return str(tmp_path / "d")


def test_q384_kendall_no_overflow_on_huge_cent_sums(spark, tmp_path):
    # Two nations; per-nation balance/revenue cent sums ~4e11 so the
    # old (ba-bb)*(ra-rb) product is ~1e23 >> 2^63. Monotone metrics
    # (nation 1 higher on both) -> the single pair is concordant and
    # tau_b = +1 exactly.
    cust = pd.DataFrame(
        {"c_custkey": [1, 2], "c_nationkey": [10, 20],
         "c_acctbal": [4.0e9, 1.0e9]}
    )
    orders = pd.DataFrame(
        {"o_custkey": [1, 2], "o_totalprice": [5.0e9, 2.0e9]}
    )
    d = _write(tmp_path, "customer", cust)
    _write(tmp_path, "orders", orders)
    row = run(spark, "q384_kendall_tau", d).collect()[0]
    assert row["n_pairs"] == 1
    assert row["nc"] == 1 and row["nd"] == 0
    assert row["tau_b_e6"] == 1_000_000


def test_q256_elbow_no_overflow_on_huge_revenue(spark, tmp_path):
    # Three parts with ~2e16-dollar line items: cum_c reaches ~6e18
    # cents and the old (n-1)*cum_c cross product overflows int64.
    # The decimal(38,0) form must still pick a valid elbow rank.
    li = pd.DataFrame(
        {"l_partkey": [1, 2, 3],
         "l_extendedprice": [2.0e16, 2.0e16, 2.0e16],
         "l_discount": [0.0, 0.0, 0.0]}
    )
    d = _write(tmp_path, "lineitem", li)
    row = run(spark, "q256_pareto_elbow", d).collect()[0]
    assert row["n_parts"] == 3
    assert 1 <= row["elbow_rank"] <= 3
    assert 0 <= row["cum_share_bp"] <= 10000
