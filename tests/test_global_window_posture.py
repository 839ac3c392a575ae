"""Registry-wide global-window scale posture (VERDICT r9 item 5).

SCALE.md's standing rule — "global (unpartitioned) windows only over
already-reduced frames" — asserted over EVERY registered query's
physical plan, not just the one family that had a hand-written pin
(tests/test_linkage_ml.py::test_q183_single_user_shuffle).

``unreduced_global_windows`` classifies each unpartitioned Window
whose input subtree shows no aggregation/limit:

- ``raw``: the subtree reaches a parquet FileScan unreduced — the
  single-partition sort would carry corpus-sized data. Only the
  enumerated, documented exceptions below may do this.
- ``checkpointed``: the input is a localCheckpoint (Scan ExistingRDD),
  so the plan cannot SHOW the reduction that produced the frame; the
  whitelist records what bounds it.

Any new query that trips either list fails this test until it is
either re-planned or added here with a justification.
"""
from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from tests.conftest import SF_DIR

from ooh_etl_spark.plans.audit import unreduced_global_windows
from ooh_etl_spark.queries import QUERIES

#: Global window DIRECTLY over an unreduced parquet scan — each entry
#: names the bound that makes the single partition safe, or the
#: registered scale-path twin that replaces the query at scale.
RAW_WHITELIST = {
    # 32 shards x 16 grid points = 512 rows enter the merge window: the
    # per-shard `rk*16 div ns` filter bounds it BY CONSTRUCTION (the
    # mergeable-summary pattern; sketch_ops.py q429 docstring). A
    # filter is not a node-name the detector can credit.
    "q429_mergeable_quantile_summary",
    # Exact equi-depth ntile(10) over orders — the EXACT baseline the
    # approx twin q139b_equi_depth_histogram_approx replaces at scale.
    "q139_equi_depth_histogram",
    # Exact ntile(4) quartiles — q72b_price_quartiles_approx is the
    # registered scale path (approx_percentile, no global sort).
    "q72_price_quartiles",
    # Exact global row_number gap scan — q149b_id_gap_detection_ranged
    # is the registered scale path (per-range windows).
    "q149_id_gap_detection",
    # Spearman-footrule disagreement of two FULL-corpus rankings: the
    # total order IS the deliverable; the docstring documents the
    # at-scale swap (range-partitioned rank, q281's histogram pattern).
    "q389_rank_footrule",
}

#: Global window over a localCheckpoint'ed frame — the checkpoint cut
#: the lineage, so the plan can't show the reduction; each entry names
#: what bounds the frame.
CHECKPOINTED_WHITELIST = {
    # (doc_id, n_toks) length table: one narrow row per doc; docstring
    # documents the histogram-rank swap for the global length rank.
    "q359_length_bucket_packing",
    # Day-grid CUSUM series: bounded by calendar days (<=40-row grid,
    # timeseries_ops day aggregate upstream of the checkpoint).
    "q401_cusum_changepoint",
    # Distinct-value (value, count) midrank tables: value-domain
    # bounded (the cents/micro quantization caps distinct values).
    "q326_kruskal_wallis",
    "q331_cramer_von_mises",
    "q386_wilcoxon_signed_rank",
    # One row per hypothesis test (p-value table).
    "q408_storey_qvalues",
    # Calibration bin table: bounded bin count.
    "q294_isotonic_calibration",
    # --- surfaced by the r11 stricter branch walk (ADVICE r10: a join
    # of reduced x checkpointed branches no longer credits the window
    # through the reduced branch alone). Each of these is a
    # (checkpointed bounded grid) crossJoin (broadcast 1-row scalar):
    # the window runs over the grid, not the corpus.
    # File-inventory day grid (one row per date partition).
    "q312_compaction_planner",
    # Hour-of-day grid: calendar-bounded at any corpus size.
    "q352_classical_decomposition",
    # 8-row WOE bin table (_WOE_BINS).
    "q355_woe_information_value",
    # Reward histogram keyed by integer cents: value-domain bounded.
    "q360_best_of_n_reward",
    # Day grid of OLS residuals (~365 rows/year).
    "q397_durbin_watson",
    # nation x year grid (b*k rows).
    "q409_page_trend",
    # r13 opt: the exact-CDF coarse bucket census (cents div 4096 —
    # value-domain/4096 bounded, ~2.5k rows at sf0.1) is checkpointed
    # because it feeds n, the decile locator AND the fine pass; the
    # ordered window runs over that census, never the corpus. (The
    # 583k-row distinct-value CDF window this REPLACED was the real
    # single-partition hazard.)
    "q429_mergeable_quantile_summary",
}


def test_global_windows_only_over_reduced_frames(spark):
    def audit(item):
        name, q = item
        try:
            return name, unreduced_global_windows(q.fn(spark, SF_DIR))
        except Exception as e:  # pragma: no cover - plan-build failure
            return name, [("error", repr(e)[:200])]

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = dict(ex.map(audit, QUERIES.items()))

    raw = {n for n, out in results.items() if any(k == "raw" for k, _ in out)}
    ckpt = {
        n for n, out in results.items() if any(k == "checkpointed" for k, _ in out)
    }
    errors = {
        n: out for n, out in results.items() if any(k == "error" for k, _ in out)
    }

    assert not errors, f"plan build failed: {errors}"
    unexpected_raw = raw - RAW_WHITELIST
    assert not unexpected_raw, (
        "unpartitioned window over an UNREDUCED corpus scan in: "
        f"{sorted(unexpected_raw)}; details: "
        f"{ {n: results[n] for n in sorted(unexpected_raw)} }"
    )
    unexpected_ckpt = ckpt - CHECKPOINTED_WHITELIST
    assert not unexpected_ckpt, (
        "unpartitioned window over a checkpointed frame not in the "
        f"whitelist: {sorted(unexpected_ckpt)}; details: "
        f"{ {n: results[n] for n in sorted(unexpected_ckpt)} }"
    )
    # The whitelists must stay EXACT: an entry whose query no longer
    # trips the detector is stale and must be removed (keeps the
    # documented-exception set honest round over round).
    assert RAW_WHITELIST - raw == set(), f"stale RAW entries: {RAW_WHITELIST - raw}"
    assert CHECKPOINTED_WHITELIST - ckpt == set(), (
        f"stale CHECKPOINTED entries: {CHECKPOINTED_WHITELIST - ckpt}"
    )
