"""Functional tests for ``queries/bi_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from tests.conftest import SF_DIR, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q197_gini_bounded_and_matches_reference(spark):
    out = run(spark, "q197_gini_by_nation").toPandas()
    assert ((out["gini_e6"] >= 0) & (out["gini_e6"] < 1_000_000)).all()
    # Independent recomputation for every nation from raw parquet.
    raw = duckdb.sql(
        f"""
        SELECT c_nationkey, c_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        FROM read_parquet('{SF_DIR}/orders.parquet') o
        JOIN read_parquet('{SF_DIR}/customer.parquet') c
          ON o_custkey = c_custkey
        GROUP BY 1, 2
        """
    ).df()
    nations = duckdb.sql(
        f"SELECT n_nationkey, n_name FROM read_parquet('{SF_DIR}/nation.parquet')"
    ).df()
    name_of = dict(zip(nations.n_nationkey, nations.n_name))
    for nk, grp in raw.groupby("c_nationkey"):
        x = grp.sort_values(["rev", "c_custkey"]).rev.to_numpy()
        n = len(x)
        gini = (2.0 * sum((i + 1) * v for i, v in enumerate(x))) / (
            n * x.sum()
        ) - (n + 1.0) / n
        got = out.loc[out.nation == name_of[nk]].iloc[0]
        assert got["n_customers"] == n
        assert abs(got["gini_e6"] - round(1_000_000 * gini)) <= 1


def test_q200_hhi_bounds(spark):
    out = run(spark, "q200_hhi_concentration").toPandas()
    # 1/n <= HHI <= 1: equality on the left iff all shares equal.
    lo = (1_000_000 / out.n_suppliers).round() - 1
    assert (out.hhi_e6 >= lo).all()
    assert (out.hhi_e6 <= 1_000_000).all()


def test_q208_weighted_median_matches_numpy_reference(spark):
    out = run(spark, "q208_weighted_median").toPandas()
    raw = duckdb.sql(
        f"SELECT l_returnflag AS flag, "
        f"CAST(round(l_extendedprice * 100) AS BIGINT) AS p, "
        f"CAST(l_quantity AS BIGINT) AS w "
        f"FROM read_parquet('{SF_DIR}/lineitem.parquet')"
    ).df()
    for flag, grp in raw.groupby("flag"):
        g = grp.sort_values("p")
        cum = g.w.cumsum()
        tot = g.w.sum()
        wm = g.p[(2 * cum >= tot)].iloc[0] / 100.0
        got = out[out.flag == flag].iloc[0]
        assert got["weighted_median"] == round(wm, 2)
        assert got["total_qty"] == tot


def test_q216_directions_match_pandas(spark):
    out = run(spark, "q216_simpsons_paradox").toPandas()
    raw = duckdb.sql(
        f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) yr,
               CAST(l_discount >= 0.05 AS INT) hi,
               CAST(l_returnflag = 'R' AS INT) ret
        FROM read_parquet('{SF_DIR}/lineitem.parquet')
        """
    ).df()
    import numpy as np

    tn_a = int(raw.hi.sum())
    tr_a = int((raw.hi * raw.ret).sum())
    tn_b = int((1 - raw.hi).sum())
    tr_b = int(((1 - raw.hi) * raw.ret).sum())
    dp = int(np.sign(tr_a * tn_b - tr_b * tn_a))
    assert (out.dir_pooled == dp).all()
    for r in out.itertuples():
        g = raw[raw.yr == r.yr]
        na, ra = int(g.hi.sum()), int((g.hi * g.ret).sum())
        nb, rb = int((1 - g.hi).sum()), int(((1 - g.hi) * g.ret).sum())
        assert (r.n_a, r.r_a, r.n_b, r.r_b) == (na, ra, nb, rb)
        assert r.dir_stratum == int(np.sign(ra * nb - rb * na))
        assert r.flipped == int(na > 0 and nb > 0 and r.dir_stratum * dp == -1)


def test_q373_price_indices_base_month_is_unity(spark):
    rows = run(spark, "q373_price_indices").collect()
    assert len(rows) > 12
    first = rows[0]
    # in the base month all three indices are exactly 1
    assert first.laspeyres_e6 == 1000000
    assert first.paasche_e6 == 1000000
    assert first.fisher_e6 == 1000000
    for r in rows:
        lo, hi = sorted((r.laspeyres_e6, r.paasche_e6))
        # Fisher is the geometric mean — always between the two
        assert lo - 1 <= r.fisher_e6 <= hi + 1
        assert r.n_parts > 0


def test_q390_inequality_orderings(spark):
    r = run(spark, "q390_inequality_indices").collect()[0]
    # all indices nonnegative; Atkinson in [0, 1)
    assert r.theil_t_e3 >= 0
    assert r.theil_l_e3 >= 0
    assert 0 <= r.atkinson_half_e3 < 1000


def test_q391_rop_dominates_mean_demand(spark):
    rows = run(spark, "q391_reorder_points").collect()
    assert len(rows) > 0
    for r in rows[:200]:
        assert 0 < r.active_days <= r.n_days
        # ROP >= lead-time mean demand (z > 0)
        assert r.reorder_point_units * 1000 >= r.daily_mean_milli * 7
        assert r.daily_sd_milli >= 0
