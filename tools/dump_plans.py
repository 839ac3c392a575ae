"""Dump formatted physical plans for the bench headline queries.

Regenerates PLANS.md — the reviewable record of what Catalyst actually
plans for the queries bench.py times: where filters got pushed, what
broadcast, where the exchanges are. Run after any planning-relevant
change:  python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    from bench import HEADLINE

    from ooh_etl_spark.plans.audit import physical_plan
    from ooh_etl_spark.queries import QUERIES
    from ooh_etl_spark.session import get_spark
    from ooh_etl_spark.stages import full_lineage

    spark = get_spark("plans")
    out = [
        "# PLANS — formatted physical plans of the bench headline queries\n",
        "Generated by `python tools/dump_plans.py` at sf0.01. The",
        "structural properties asserted in `tests/test_plans.py`",
        "(pushdown, broadcasts, no cartesian products) are visible here",
        "verbatim; paths are elided for brevity.\n",
        "## Union-recompute audit (round 6)\n",
        "Spark does not share non-cached subtrees across Union branches",
        "(or across any multi-consumer DataFrame) within one plan, so",
        "`df.select(a).union(df.select(b))` executes `df` twice. Every",
        "`union`/`unionAll`/`unionByName` site and every multi-consumer",
        "crossJoin-on-aggregate site was audited by counting join nodes",
        "and per-table parquet scans in the executed plans:\n",
        "- FIXED via single `explode(array(...))` pass: q296 neighbor",
        "  census, q194 DBSCAN symmetrization, q173/q255 degree census,",
        "  q185/kcore endpoint census, q191 symmetrization, q176 SCD2",
        "  closed+opened rows, q306 uni+bigram extraction, graph.py",
        "  `symmetrize` (connected_components / k_core).",
        "- FIXED via `localCheckpoint` on a genuinely multi-consumed,",
        "  bounded intermediate: q194 neighbor set (was 41 parquet scans",
        "  for 1 logical scan), q173 edge list + oriented edges, q191",
        "  symmetric edges, q255 edge list, q306 candidate-reference",
        "  join, q221 register table, q12 early/late key sets, q304",
        "  16-row characteristic function + 4-row phi (was 4 corpus",
        "  shuffles), q312 file inventory.",
        "- FIXED (second wave — repeated-corpus-pass audit, counting",
        "  per-table parquet scans across all 329 queries): q315 ACF",
        "  (10 scans -> 1), q188 Naive Bayes (10 -> 3), q301 KMV (8 ->",
        "  1), q162 corpus funnel (8 -> 1), q163 span removal (8 -> 1),",
        "  q235 DiD (8 -> 2), q258 PSI (8 -> 3), q298 conformal (7 ->",
        "  3), q279 median CI (7 -> 2), q129 funnel (6 -> 3), q155",
        "  CCNet (6 -> 2), q211 Kaplan-Meier (6 -> 3), q241 JSD, q136",
        "  association rules, q294/q316/q318/q307/q319/q135/q300 window",
        "  members, q151/q151b SemDeDup self-join side, q166 blocking,",
        "  q158 RRF, q303 IPS, q321 spend rollup, q213 MAD, q254 RFM,",
        "  q242/q250/q273/q288/q289 event rollups, q268 containment,",
        "  q73 prefix-filter operator — each checkpoints its bounded",
        "  multi-consumed intermediate or derives dependent aggregates",
        "  from it.",
        "- OK by design (branches read DIFFERENT data): q109/q177 IVM",
        "  base+delta partials, validation_ops rule census (5 distinct",
        "  filtered scans), q12's set-op semantics post-checkpoint,",
        "  linkage pass_pairs b1/b2 (two blocking passes), sketch_ops",
        "  est_row (1-row frames), merge_upsert (batch-sized update",
        "  side).\n",
        "Plan tests pin the fixed shapes (`tests/test_plans.py`:",
        "q296 single join subtree, q304 shuffle budget, q312 no data",
        "scan in the planning window).\n",
        "### q296 runtime note (round 6, measured)\n",
        "The single-subtree fix landed (plan shows ONE variant join)",
        "but sf0.1 wall-time stayed ~3.0 s. Stage profiling shows why:",
        "the cost was never the duplicated census — AQE's ReuseExchange",
        "already deduplicated the exchange at runtime — it is the",
        "genuine data shape. TPC-H's zero-padded names give nearly",
        "every customer ~17 edit-1 neighbors, so at sf0.1 the query",
        "materializes ~1M candidate pairs, verifies 977k levenshtein",
        "calls, and distincts 262k TRUE pairs (profiled: variants",
        "1.0 s, candidate join 1.3 s, verify+distinct 1.8 s). That is",
        "real output, not plan waste; the fix still matters where",
        "exchange reuse does not trigger, and the plan is canonical.\n",
    ]
    for name in HEADLINE:
        plan = physical_plan(QUERIES[name].fn(spark, SF_DIR))
        plan = re.sub(r"file:[^\s,\]]+", "<path>", plan)
        # keep the tree + the scan/pushdown details, drop codegen noise
        out.append(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")
        if "Scan parquet" not in plan:
            # Checkpoint-rooted plan (every input is an ExistingRDD) —
            # unreadable for audit. Append the full-lineage variant
            # (stage materialisation off, the tests/test_plans.py
            # plan_of_nockpt mechanism) so pushdown/broadcast/shuffle
            # structure of the pre-checkpoint stages stays reviewable.
            with full_lineage():
                full = physical_plan(QUERIES[name].fn(spark, SF_DIR))
            full = re.sub(r"file:[^\s,\]]+", "<path>", full)
            from ooh_etl_spark.plans.audit import shuffle_count

            n_scan = full.count("Scan parquet")
            n_bx = full.count("BroadcastExchange")
            n_ex = shuffle_count(full)
            if len(full) <= 40_000:
                out.append(
                    f"\n### {name} — full lineage (checkpoints no-op'd;"
                    " the deployed plan cuts here, see the stage-cut"
                    f" pin in tests)\n\n```\n{full.strip()}\n```\n"
                )
            else:
                # The blowup IS the finding: without the stage cuts the
                # composition re-derives its lineage per consumer. A
                # megabyte plan is not reviewable — summarize it.
                out.append(
                    f"\n### {name} — full lineage summary (checkpoints"
                    f" no-op'd): {n_scan} parquet scans, {n_ex} shuffle"
                    f" exchanges, {n_bx} broadcasts across"
                    f" {len(full) // 1000} KB of plan — the measured"
                    " reason the deployed plan checkpoints its stage"
                    " boundaries (each census otherwise re-derives the"
                    " entire upstream funnel).\n"
                )
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINE)} plans")


if __name__ == "__main__":
    main()
