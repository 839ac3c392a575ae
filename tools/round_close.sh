#!/usr/bin/env bash
# Round-close verification ritual (SCALE.md "verification footprint").
# Run from /root/repo on a QUIET box (no other Spark), in this order —
# the timed steps come first so contention never pollutes them.
set -uo pipefail
cd "$(dirname "$0")/.."

echo "== 1. bench (timed — run first, quiet box) =="
# Entries timed while other processes held the host's CPUs are named on
# stderr and flagged under "contamination" in BENCH_DETAIL.json and
# BENCH_SPREADS.json; re-run bench.py when a flagged entry matters.
python bench.py || exit 1

echo "== 2. full pytest =="
python -m pytest tests/ -q -m "slow or not slow" || exit 1

echo "== 3. full-registry oracle differential, sf0.001 then sf0.01 =="
python tools/check_oracle.py /root/testdata/sf0.001 || exit 1
python tools/check_oracle.py /root/testdata/sf0.01 || exit 1

echo "== 4. strict dtype gate over all oracles =="
python tools/check_oracle.py /root/testdata/sf0.001 --strict flagship_doc_scan || exit 1

echo "== 5. full-registry 5x sweep (longest; stall-capped) =="
# The sweep target corpus does not survive /tmp wipes between rounds —
# build it if absent (r11 lesson: 49 spurious ERRORs from a missing
# /tmp/sf0.5 before this guard existed). The guard tests the _dedup
# view, so a replica written without one is rebuilt.
[ -f /tmp/sf0.5_dedup/documents.parquet ] || python tools/make_full_replica.py 5 /tmp/sf0.5 || exit 1
rm -f /tmp/check5x_full_results.txt /tmp/check5x_full.log
# check_scale_sweep.py exits 1 on any FAIL/ERROR (TIMEOUT stall-caps
# carry SCALE.md dispositions and do not gate) — ADVICE r10.
python tools/check_scale_sweep.py || exit 1

echo "== 6. dedup/ANN family curves (timed; quiet box) =="
echo "   python tools/make_full_replica.py 10 /tmp/sf1.0"
echo "   python tools/sweep_queries.py"
echo "   python tools/sweep_queries.py q191b_link_prediction_capped ...   # named queries"
echo "Record results + dispositions in SCALE.md; commit artifacts."
