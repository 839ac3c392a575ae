"""Functional tests for ``queries/event_analytics.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import duckdb
import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q212_trigrams_match_pandas_reference(spark):
    out = run(spark, "q212_event_path_trigrams").toPandas()
    raw = duckdb.sql(
        f"SELECT user_id, ts, event_id, event_type FROM "
        f"read_parquet('{SF_DIR}/events.parquet') ORDER BY user_id, ts, event_id"
    ).df()
    from collections import Counter

    cnt, users = Counter(), {}
    for _, g in raw.groupby("user_id"):
        seq = list(g.event_type)
        for a, b, c in zip(seq, seq[1:], seq[2:]):
            p = f"{a}>{b}>{c}"
            cnt[p] += 1
            users.setdefault(p, set()).add(g.user_id.iloc[0])
    for r in out.itertuples():
        assert cnt[r.path] == r.n
        assert len(users[r.path]) == r.n_users
        assert r.n_users <= r.n
    # top-25 by count: the smallest shown count must be >= any hidden one
    shown = set(out.path)
    hidden_max = max((v for k, v in cnt.items() if k not in shown), default=0)
    assert out.n.min() >= hidden_max


def test_q222_markov_attribution_invariants(spark):
    """Removal-effect sanity: base variant has zero effect by
    definition; every channel's removal can only reduce conversion
    (effect in [0, 10000] bp); probabilities stay inside the ppb
    simplex; and removing a channel that appears on converting paths
    must strictly hurt (all four synthetic channels do)."""
    out = run(spark, "q222_markov_attribution").toPandas()
    assert list(out.variant) == sorted(out.variant)
    base = out[out.variant == "base"]
    assert len(base) == 1 and base.removal_effect_bp.iloc[0] == 0
    assert (out.conv_ppb >= 0).all() and (out.conv_ppb <= 1_000_000_000).all()
    rm = out[out.variant != "base"]
    assert (rm.removal_effect_bp > 0).all()
    assert (rm.removal_effect_bp <= 10_000).all()
    assert (rm.conv_ppb < base.conv_ppb.iloc[0]).all()


def test_q292_user_partition_is_total(spark):
    # Every user lands in exactly one conversion bucket.
    from ooh_etl_spark.tables import load_table

    rows = QUERIES["q292_sequence_pattern"].fn(spark, SF_DIR).collect()
    n_users = (
        load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert sum(r["n_users"] for r in rows) == n_users
    assert all(r["conversions"] >= 0 for r in rows)


def test_q304_efficiency_axiom(spark):
    # sum(phi_i) must equal v(N) - v(empty): all conversions minus
    # conversions of users who touched no channel at all.
    from ooh_etl_spark.tables import load_table
    from pyspark.sql import functions as SF

    rows = QUERIES["q304_shapley_attribution"].fn(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    u = ev.groupBy("user_id").agg(
        SF.max(SF.when(SF.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
        SF.max(SF.when(SF.col("event_type") != "purchase", 1).otherwise(0)).alias(
            "touched"
        ),
    )
    v_full = u.agg(SF.sum("conv")).collect()[0][0]
    v_empty = (
        u.filter(SF.col("touched") == 0).agg(SF.coalesce(SF.sum("conv"), SF.lit(0)))
    ).collect()[0][0]
    total_phi = sum(r["phi_e6"] for r in rows) / 1_000_000
    assert abs(total_phi - (v_full - v_empty)) < 0.01
    assert abs(sum(r["share_bp"] for r in rows) - 10000) <= len(rows)


def test_q344_coec_weighted_mean_is_one(spark):
    rows = run(spark, "q344_coec_position_bias").collect()
    # expected clicks sum to total clicks by construction, so the
    # expectation-weighted mean COEC is exactly 1 (i.e. clicks total ==
    # expected total across segments)
    total_clicks = sum(r.clicks for r in rows)
    total_expected = sum(r.expected_milli for r in rows) / 1000.0
    assert abs(total_clicks - total_expected) < 0.01 * total_clicks + 1
    click_row = {r.event_type: r for r in rows}["click"]
    assert click_row.coec_milli > 1000  # clicks segment is all clicks


def test_q347_perplexity_bounded_by_vocab(spark):
    r = run(spark, "q347_markov_heldout_ppl").collect()[0]
    # a 5-state chain's held-out perplexity is > 1 by definition; the
    # add-one floor bounds any single transition's cost, so values
    # stay within a small multiple of |V| (smoothed probabilities of
    # SEEN-but-rare transitions can dip below 1/V, which is why |V|
    # itself is not an upper bound)
    assert 1000 < r.perplexity_milli < 3 * 5000
    assert r.n_transitions > 0
    assert r.nll_u > 0


def test_q380_negbin_identities(spark):
    r = run(spark, "q380_negbin_moments").collect()[0]
    assert r.n_users > 0
    # var and mean consistent with the alpha identity
    mu = r.mean_milli / 1000.0
    var = r.var_milli / 1000.0
    assert abs(r.alpha_e6 / 1e6 - (var - mu) / (mu * mu)) < 1e-3
    if r.overdispersed:
        assert r.r_milli > 0 and 0 < r.p_e6 < 1000000
        # NB mean identity: mu = r(1-p)/p
        rr, p = r.r_milli / 1000.0, r.p_e6 / 1e6
        assert abs(rr * (1 - p) / p - mu) / mu < 0.01


# --- q459: trigger-interval curve invariants -------------------------------


def test_q459_batch_count_monotone_and_mass_conserved(spark):
    rows = {r.trigger_s: r for r in run(spark, "q459_trigger_interval_curve").collect()}
    triggers = sorted(rows)
    # Longer trigger -> fewer (or equal) non-empty batches, bigger max batch.
    for a, b in zip(triggers, triggers[1:]):
        assert rows[a].n_batches >= rows[b].n_batches
        assert rows[a].ev_per_batch_max <= rows[b].ev_per_batch_max
    # Mean * batches ~ total events (integer milli floor).
    ev_total = rows[triggers[0]].n_batches * rows[triggers[0]].ev_per_batch_milli
    for t in triggers[1:]:
        approx = rows[t].n_batches * rows[t].ev_per_batch_milli
        # same corpus: totals agree within the milli-floor rounding of
        # one event per batch
        assert abs(approx - ev_total) <= 1000 * max(
            rows[t].n_batches, rows[triggers[0]].n_batches
        )


# --- q467: TTL curve invariants --------------------------------------------


def test_q467_ttl_monotone(spark):
    rows = sorted(run(spark, "q467_state_ttl_curve").collect(), key=lambda r: r.ttl_s)
    for a, b in zip(rows, rows[1:]):
        assert a.n_users == b.n_users  # census invariant
        assert a.live_at_end <= b.live_at_end  # longer TTL, more live
        assert a.recreations >= b.recreations  # longer TTL, less churn
        assert a.total_creations == a.n_users + a.recreations


# --- q471: join-state curve invariants -------------------------------------


def test_q471_state_monotone_in_delay(spark):
    rows = sorted(
        run(spark, "q471_join_state_peak_curve").collect(), key=lambda r: r.delay_s
    )
    for a, b in zip(rows, rows[1:]):
        assert a.minutes_observed == b.minutes_observed  # census invariant
        assert a.peak_state_rows <= b.peak_state_rows  # longer retention
        assert a.mean_state_milli <= b.mean_state_milli
    for r in rows:
        assert r.peak_state_rows >= r.mean_state_milli // 1000


def test_q471_one_minute_delay_equals_minute_census_max(spark, duck):
    # delay of 1 minute would equal the raw minute census; the smallest
    # grid entry (5 min) must dominate the busiest single minute.
    import duckdb

    mx = (
        duckdb.connect()
        .execute(
            "SELECT max(c) FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT)"
            " // 60 AS m, count(*) AS c FROM"
            f" read_parquet('{SF_DIR}/events.parquet') GROUP BY 1)"
        )
        .fetchone()[0]
    )
    rows = sorted(
        run(spark, "q471_join_state_peak_curve").collect(), key=lambda r: r.delay_s
    )
    assert rows[0].peak_state_rows >= mx


# --- q476: watermark lateness curve invariants -------------------------------


def test_q476_drop_curve_monotone_and_bounded(spark):
    rows = run(spark, "q476_watermark_lateness_curve").collect()
    assert [r.delay_s for r in rows] == [60, 300, 900, 1800]
    assert len({r.n_events for r in rows}) == 1
    drops = [r.n_dropped for r in rows]
    # a longer allowed lateness can only drop fewer events
    assert drops == sorted(drops, reverse=True), drops
    # the jitter is bounded by 1800s, so a 1800s watermark delay
    # provably drops NOTHING (the docstring's proof)
    assert drops[-1] == 0
    for r in rows:
        assert r.dropped_bp == (10000 * r.n_dropped) // r.n_events
