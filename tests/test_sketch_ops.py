"""Functional tests for ``queries/sketch_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import duckdb
import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q204_true_pairs_match_and_error_consistent(spark):
    out = run(spark, "q204_join_size_estimate").toPandas().iloc[0]
    true_pairs = duckdb.sql(
        f"SELECT CAST(sum(c * c) AS BIGINT) FROM (SELECT count(*) AS c "
        f"FROM read_parquet('{SF_DIR}/lineitem.parquet') GROUP BY l_partkey)"
    ).fetchone()[0]
    assert out["true_pairs"] == true_pairs
    assert out["est_pairs"] % 8 == 0  # scaled by 1/p
    assert out["err_bp"] == round(
        10000.0 * (out["est_pairs"] - true_pairs) / true_pairs
    )


def test_q221_hll_estimate_accuracy_and_merge(spark):
    """The from-primitives HLL must land within the ~3*1.04/sqrt(256)
    relative-error envelope of the exact distinct counts, and the
    merged 'ALL' sketch must estimate the union, not the sum."""
    out = run(spark, "q221_hll_registers").toPandas().set_index("event_type")
    exact = dict(
        duckdb.sql(
            f"SELECT event_type, count(DISTINCT event_id) FROM "
            f"read_parquet('{SF_DIR}/events.parquet') GROUP BY 1"
        ).fetchall()
    )
    exact["ALL"] = duckdb.sql(
        f"SELECT count(DISTINCT event_id) FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    ).fetchone()[0]
    rel = 3 * 1.04 / (256 ** 0.5)  # 3 sigma for m=256
    for et, n in exact.items():
        est = out.loc[et, "hll_estimate"]
        assert abs(est - n) <= max(rel * n, 10), (et, est, n)
    # merged estimate ~ union cardinality, far below the per-type sum
    per_type_sum = sum(v for k, v in exact.items() if k != "ALL")
    assert out.loc["ALL", "hll_estimate"] < 1.2 * exact["ALL"]
    assert per_type_sum >= exact["ALL"]  # sanity on the fixture


def test_q246_bloom_guarantees(spark):
    """Bloom structural guarantees on the from-primitives filter: ZERO
    false negatives (every inserted key must hit all its bits), FP
    only among absent keys, and the measured FPR within a loose
    multiple of the (1-e^{-kn/m})^k theory (small-sample Poisson
    slack)."""
    out = run(spark, "q246_bloom_from_primitives").toPandas().iloc[0]
    assert out["n_false_neg"] == 0
    assert 0 <= out["n_false_pos"] <= out["n_probes"] - out["n_inserted"]
    # theory is in bp; allow [0, 5x theory + 300bp] measured
    assert out["fpr_bp"] <= 5 * out["theory_bp"] + 300


def test_q301_set_algebra_consistency(spark):
    rows = {
        r["set_label"]: r
        for r in QUERIES["q301_kmv_set_sketch"].fn(spark, SF_DIR).collect()
    }
    a = rows["click"]["exact_distinct"]
    b = rows["view"]["exact_distinct"]
    u = rows["union"]["exact_distinct"]
    i = rows["intersection"]["exact_distinct"]
    assert u == a + b - i  # inclusion-exclusion on the exact counts
    assert max(a, b) <= u <= a + b
    for r in rows.values():
        assert r["kmv_est"] > 0


def test_q399_capture_recapture_sane(spark):
    r = run(spark, "q399_capture_recapture").collect()[0]
    assert 0 < r.n1 <= r.true_distinct
    assert 0 < r.n2 <= r.true_distinct
    assert r.m_both <= min(r.n1, r.n2)
    # Chapman is within [max(n1,n2), everything]; for 50% samples of
    # a heavy-tailed vocab the estimate is downward-biased (singleton
    # terms are often missed by both samples) but must be in range
    assert r.chapman_estimate >= max(r.n1, r.n2) - 1
    assert r.lp_estimate >= r.chapman_estimate


# --- q429: mergeable quantile summary ----------------------------------------


def test_q429_decile_grid_and_rank_error_bound(spark, duck):
    rows = run(spark, "q429_mergeable_quantile_summary", SF_DIR).collect()
    assert [r["decile"] for r in rows] == list(range(1, 10))
    # The merge counts each summary point's covered rows at its
    # UPPER-bound value, so cumw understates the true CDF: the
    # estimate is (a) never below the exact decile and (b) the value
    # at a rank at most N/K + SHARDS above the target (each of the 32
    # shards defers < ns/K rows past the selected point). VALUE error
    # has no a-priori bound (a flat CDF stretch converts rank slack
    # into price slack), which is why the audit reports it.
    duck.execute(
        f"CREATE OR REPLACE VIEW _q429x AS SELECT CAST(round("
        f"l_extendedprice * 100) AS BIGINT) AS cents FROM "
        f"read_parquet('{SF_DIR}/lineitem.parquet')"
    )
    (n,) = duck.execute("SELECT count(*) FROM _q429x").fetchone()
    slack = n // 16 + 32
    for r in rows:
        assert r["err_cents"] == r["est_cents"] - r["exact_cents"]
        assert r["abs_err_bp"] == (
            10000 * abs(r["err_cents"])
        ) // r["exact_cents"]
        assert r["err_cents"] >= 0  # upward bias only
        hi_rank = min(n, r["target_rank"] + slack)
        (hi_val,) = duck.execute(
            "SELECT cents FROM (SELECT cents, row_number() OVER "
            "(ORDER BY cents) rk FROM _q429x) WHERE rk = ?",
            [hi_rank],
        ).fetchone()
        assert r["est_cents"] <= hi_val
    # deciles are monotone in both columns
    assert all(
        a["exact_cents"] <= b["exact_cents"] and a["est_cents"] <= b["est_cents"]
        for a, b in zip(rows, rows[1:])
    )


def test_q429_exact_matches_global_sort_quantile(spark, duck):
    # independent definition of the exact decile: value at rank
    # ceil(p*N/10) of the fully sorted cents list, computed by a plain
    # ORDER BY in DuckDB.
    got = {
        r["decile"]: r["exact_cents"]
        for r in run(spark, "q429_mergeable_quantile_summary", SF_DIR).collect()
    }
    for p in (1, 5, 9):
        (want,) = duck.execute(
            f"""
            WITH x AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
                         AS cents
                       FROM read_parquet('{SF_DIR}/lineitem.parquet')),
                 n AS (SELECT count(*) AS n FROM x)
            SELECT cents FROM (
              SELECT cents, row_number() OVER (ORDER BY cents) AS rk FROM x),
              n
            WHERE rk = (({p} * n.n + 9) // 10) LIMIT 1
            """
        ).fetchone()
        assert got[p] == want
