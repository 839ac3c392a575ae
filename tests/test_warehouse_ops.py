"""Functional tests for ``queries/warehouse_ops.py``: invariants and independent
references that the oracle compare alone cannot pin."""

from __future__ import annotations

import pytest

from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR, run

# Deep functional suite: excluded from the default gate (see pytest.ini).
pytestmark = pytest.mark.slow


def test_q312_bins_partition_all_files(spark):
    from ooh_etl_spark.tables import load_table
    from pyspark.sql import functions as SF

    rows = QUERIES["q312_compaction_planner"].fn(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    n_days = ev.select(SF.col("ts").cast("date")).distinct().count()
    n_rows = ev.count()
    assert sum(r["n_files"] for r in rows) == n_days
    assert sum(r["total_rows"] for r in rows) == n_rows
    # next-fit never overfills by more than one file's worth; every bin
    # except possibly the last is non-empty and date spans don't overlap
    spans = [(r["first_day"], r["last_day"]) for r in sorted(rows, key=lambda r: r["bin"])]
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert b < c  # day-ordered, disjoint spans


def test_q313_sortedness_of_random_layout_is_middling(spark):
    r = QUERIES["q313_clustering_factor"].fn(spark, SF_DIR).collect()[0]
    # random date layout: ~half the adjacent pairs are non-decreasing
    assert 3000 <= r["sortedness_bp"] <= 7000
    assert r["avg_run_len_milli"] >= 1000  # run length >= 1 by definition


def test_q314_sorted_bound_dominates_current_layout(spark):
    r = QUERIES["q314_zonemap_skipping"].fn(spark, SF_DIR).collect()[0]
    assert 0 < r["files_hit"] <= r["n_files"]
    assert 0 < r["files_hit_if_sorted"] <= r["files_hit"]
    import math

    assert r["files_hit_if_sorted"] <= math.ceil(r["matching"] / 1000) + 1


def test_q329_advisor_ranks_are_dense_and_bounded(spark):
    rows = run(spark, "q329_sort_key_advisor").collect()
    assert [r.advisor_rank for r in rows] == [1, 2, 3]
    assert all(abs(r.rank_corr_e6) <= 1_000_000 for r in rows)
    # ranked by |correlation|, descending
    mags = [abs(r.rank_corr_e6) for r in rows]
    assert mags == sorted(mags, reverse=True)


def test_q340_rendezvous_minimal_disruption(spark):
    r = run(spark, "q340_rendezvous_sharding").collect()[0]
    # HRW contract: keys only ever move TO the new shard...
    assert r.n_moved_wrong == 0
    # ...and roughly 1/(N+1) of them move (binomial tolerance)
    expected = r.n_keys / 9
    assert 0.5 * expected <= r.n_moved <= 1.5 * expected


def test_q358_roundtrip_fingerprints_agree_across_formats(spark):
    rows = run(spark, "q358_sink_roundtrip").collect()
    assert [r.format for r in rows] == ["csv", "json", "parquet"]
    fps = {r.fingerprint for r in rows}
    ns = {r.n_rows for r in rows}
    assert len(fps) == 1 and len(ns) == 1  # all three formats lossless


def test_q449_salting_cures_source_skew(spark):
    out = {
        r["policy"]: r
        for r in run(spark, "q449_partition_skew_audit").collect()
    }
    # 20 sources into 32 shards: by_source uses at most 20 shards and
    # carries structural skew; salting multiplies the key domain by 8
    # and must strictly reduce the max shard.
    assert out["by_source"]["shards_used"] <= 20
    assert (
        out["by_source_salt8"]["max_shard_rows"]
        < out["by_source"]["max_shard_rows"]
    )
    assert out["by_source_salt8"]["skew_bp"] < out["by_source"]["skew_bp"]
    assert out["by_doc"]["skew_bp"] < out["by_source"]["skew_bp"]


def test_q452_fk_joins_estimate_left_rows(spark):
    # For a foreign-key join the PK side has distinct == rows, so the
    # System-R estimate |L|*|R|/max(dL,dR) collapses to exactly |L| —
    # the advisor must reproduce the textbook identity on all three
    # TPC-H FK joins (and pick broadcast at fixture scale).
    for r in run(spark, "q452_join_strategy_advisor").collect():
        assert r.right_keys == r.right_rows  # PK side
        assert r.est_out_rows == r.left_rows
        assert r.strategy == "broadcast_right"
        assert r.shuffled_rows == 0
        assert r.broadcast_rows == r.right_rows


# --- q470: bucket advisor invariants ---------------------------------------


def test_q470_bucket_stats(spark):
    rows = {r.n_buckets: r for r in run(spark, "q470_bucket_sizing_advisor").collect()}
    for b, r in rows.items():
        assert r.filled_buckets <= b
        assert r.max_rows >= r.mean_rows
        assert r.skew_bp >= 10000 - b  # floor-rounding slack
    # More buckets -> smaller max bucket.
    bs = sorted(rows)
    for a, b in zip(bs, bs[1:]):
        assert rows[a].max_rows >= rows[b].max_rows
