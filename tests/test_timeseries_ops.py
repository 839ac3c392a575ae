"""Functional tests for ``queries/timeseries_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q198_changepoint_day_inside_series(spark):
    out = run(spark, "q198_cusum_changepoint").toPandas()
    days = duckdb.sql(
        f"SELECT event_type, min(CAST(ts AS DATE)) AS lo, "
        f"max(CAST(ts AS DATE)) AS hi FROM "
        f"read_parquet('{SF_DIR}/events.parquet') GROUP BY 1"
    ).df()
    m = out.merge(days, on="event_type")
    assert len(m) == len(out)
    assert ((m.change_day >= m.lo) & (m.change_day <= m.hi)).all()
    assert (m.cusum_e2 >= 0).all()


def test_q199_mase_positive_per_type(spark):
    out = run(spark, "q199_mase_seasonal").toPandas()
    assert (out.mase_e6 > 0).all()
    assert (out.n_days >= 8).all()  # lag-7 needs at least 8 days


def test_q207_decay_never_exceeds_raw_count_scale(spark):
    out = run(spark, "q207_decayed_trending").toPandas()
    # each day's weight <= 1e6, so trend_e6 <= n_events * 1e6; and > 0
    assert (out.trend_e6 <= out.n_events * 1_000_000).all()
    assert (out.trend_e6 > 0).all()


def test_q213_mad_matches_numpy_and_bounds(spark):
    import numpy as np

    out = run(spark, "q213_mad_outliers").toPandas()
    raw = duckdb.sql(
        f"SELECT event_type, CAST(round(value*1000000) AS BIGINT) v "
        f"FROM read_parquet('{SF_DIR}/events.parquet')"
    ).df()
    for r in out.itertuples():
        v = np.sort(raw[raw.event_type == r.event_type].v.to_numpy())
        # discrete (type-1) median: smallest value with cume_dist >= .5
        med = v[int(np.ceil(len(v) * 0.5)) - 1]
        d = np.sort(np.abs(v - med))
        mad = d[int(np.ceil(len(d) * 0.5)) - 1]
        assert (r.med_u, r.mad_u, r.n) == (med, mad, len(v))
        assert r.n_outliers == int((6745 * np.abs(v - med) > 35000 * mad).sum())
        assert r.n_outliers < r.n / 2  # the robust scale can't flag a majority


def test_q315_acf_lag24_shows_daily_cycle_or_is_bounded(spark):
    rows = QUERIES["q315_acf"].fn(spark, SF_DIR).collect()
    assert len(rows) == 24
    for r in rows:
        assert -1_050_000 <= r["acf_e6"] <= 1_050_000  # |acf| <= 1 (+rounding)


def test_q316_harmonic_periods_dominate_control(spark):
    rows = {r["period_hours"]: r["power_n"] for r in QUERIES[
        "q316_spectral_power"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {24, 168, 37}
    assert all(v >= 0 for v in rows.values())


def test_q330_theil_sen_pair_count_exact(spark):
    r = run(spark, "q330_theil_sen_trend").collect()[0]
    assert r.n_pairs == r.n_days * (r.n_days - 1) // 2
    assert r.median_rev_c > 0


def test_q352_decomposition_phase_profile(spark):
    # The sf0.001 fixture's hourly series is short, so only phases
    # with COMPLETE centered windows appear (the edge-exclusion
    # guard); at sf0.01+ all 24 phases materialize.
    rows = run(spark, "q352_classical_decomposition").collect()
    assert 1 <= len(rows) <= 24
    phases = [r.phase_hour for r in rows]
    assert phases == sorted(phases)
    assert all(0 <= p < 24 for p in phases)
    assert all(r.n_phases == len(rows) for r in rows)


def test_q362_mann_kendall_invariants(spark):
    rows = run(spark, "q362_mann_kendall").collect()
    assert len(rows) == 5  # the five event types
    for r in rows:
        max_pairs = r.n_days * (r.n_days - 1) // 2
        assert -max_pairs <= r.s <= max_pairs
        assert r.var_s_milli > 0
        assert r.trend in (-1, 0, 1)
        # trend flag consistent with z at the 5% two-sided threshold
        if r.trend == 1:
            assert r.z_milli > 1959
        elif r.trend == -1:
            assert r.z_milli < -1959
        else:
            assert abs(r.z_milli) <= 1960


def test_q372_ljung_box_consistent_with_acf(spark):
    r = run(spark, "q372_ljung_box").collect()[0]
    assert r.h_lags == 24
    assert r.q_milli >= 0
    # the hourly event series has strong daily seasonality — the
    # portmanteau must reject white noise on this corpus
    assert r.reject_white_noise == 1
    # cross-check order of magnitude against q315's ACF values
    acf = {row.lag: row.acf_e6 for row in run(spark, "q315_acf").collect()}
    q_approx = r.n * (r.n + 2.0) * sum(
        (acf[k] / 1e6) ** 2 / (r.n - k) for k in range(1, 25)
    )
    assert abs(r.q_milli / 1000.0 - q_approx) / max(q_approx, 1) < 0.01


def test_q376_hurst_in_range_and_blocks_consistent(spark):
    rows = run(spark, "q376_hurst_rs").collect()
    assert [r.window_n for r in rows] == [8, 16, 32, 64, 128]
    h = {r.hurst_e6 for r in rows}
    assert len(h) == 1  # one global slope repeated per row
    hurst = h.pop() / 1e6
    assert 0.0 < hurst < 1.0
    # R/S grows with window size for any real series
    rs = [r.rs_mean_u for r in rows]
    assert rs == sorted(rs)
    # block counts halve (at least) as windows double
    for a, b in zip(rows, rows[1:]):
        assert b.n_blocks <= a.n_blocks


def test_q381_haar_energy_daily_cycle_dominates(spark):
    rows = run(spark, "q381_haar_energy").collect()
    assert [r.level for r in rows] == [1, 2, 3, 4, 5, 6]
    assert [r.block_hours for r in rows] == [2, 4, 8, 16, 32, 64]
    shares = {r.level: r.energy_share_bp for r in rows}
    assert abs(sum(shares.values()) - 10000) <= len(shares)
    for r in rows:
        assert r.energy_milli >= 0 and r.n_blocks > 0
    # dyadic blocks: counts (of complete blocks) at least halve per level
    for a, b in zip(rows, rows[1:]):
        assert b.n_blocks <= a.n_blocks // 2 + 1


def test_q397_durbin_watson_bounds(spark):
    r = run(spark, "q397_durbin_watson").collect()[0]
    assert r.n_days > 0
    # DW lives in [0, 4]; rho = 1 - DW/2 in [-1, 1]
    assert 0 <= r.dw_milli <= 4000
    assert -1000 <= r.rho_milli <= 1000
    assert r.positive_autocorr == (1 if r.dw_milli < 1500 else 0)
    # identity: rho_milli == round(1000*(1 - dw/2)) up to quantization
    assert abs(r.rho_milli - (1000 - r.dw_milli / 2)) <= 1


def test_q401_changepoint_identities(spark):
    r = run(spark, "q401_cusum_changepoint").collect()[0]
    assert 1 <= r.split_t < r.n_days
    assert r.shift_c == r.post_mean_c - r.pre_mean_c or \
        abs(r.shift_c - (r.post_mean_c - r.pre_mean_c)) <= 1
    assert r.cusum_stat_milli >= 0


def test_q405_kalman_gain_bounds(spark):
    r = run(spark, "q405_kalman_local_level").collect()[0]
    assert r.n_days > 1
    assert 0 < r.gain_milli < 1000
    assert r.forecast_c == r.level_c
    assert r.p_c2 > 0


def test_q406_cooks_top10_sorted(spark):
    rows = run(spark, "q406_cooks_distance").collect()
    assert len(rows) == 10
    cooks = [r.cook_e6 for r in rows]
    assert cooks == sorted(cooks, reverse=True)
    for r in rows:
        # leverage in (0, 1]
        assert 0 < r.lev_e6 <= 1000000
        assert r.cook_e6 >= 0


def test_q414_holt_winters_seasonal_state(spark):
    r = run(spark, "q414_holt_winters").collect()[0]
    assert r.n_days > 7
    assert r.forecast_1_c == r.level_c + r.trend_c + r.season_next_c
    assert r.level_c > 0
