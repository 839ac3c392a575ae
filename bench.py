"""Benchmark harness (driver contract: one JSON line to stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], then ``ooh_xml_10k``: the reference pipeline
on a 10,000-occupation compilation that ``perfbench.oohgen`` writes
under ``.bench_build/`` at the start of every run. Prints:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ...}

Each entry is one callable of ``sf_dir`` that returns the Arrow
``toPandas()`` result; the warm-ups, the timed reps and the retries all
run it. So each entry is timed to full materialization on the driver,
which includes scan, shuffle, and result transfer — the end-to-end
number a user sees. Arrow is the engine's interchange format;
row-at-a-time collect() would time Python row deserialization, not the
engine, on wide results.

Every ``ooh_xml_10k`` execution checks its report against the digest
``oohgen`` derives from the generated file, and a mismatch exits
nonzero. Each entry's timed reps are bracketed by
``perfbench.sysmon`` CPU snapshots: the share of the host's CPU that
other processes, or the hypervisor as steal, took meanwhile goes to
BENCH_DETAIL.json and BENCH_SPREADS.json under ``contamination``, and
contaminated entries are named on stderr.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from perfbench import oohgen, sysmon  # noqa: E402

# HEADLINE inclusion criteria (pinned round 5; VERDICT r4 item 7):
# 1. PINNED SET — the 27 entries below (plus ooh_xml_10k) are the
#    stable round-over-round comparison basis. Entries are never
#    removed or renamed; a regression shows up as a bigger number in
#    the SAME key across BENCH_r{N} files.
# 2. One representative per major operator family (reference surface,
#    TPC-H shapes, text, dedup, similarity, streaming-batch twin,
#    LLM-pipeline, event analytics, linalg, IVM), preferring the
#    scale-safe variant of a family (q151b not q151) and skipping
#    members whose cost is dominated by data-shape pathology at sf0.1
#    (q173 dense-graph triangles — pinned by its own plan tests).
# 3. ADDITIONS go at the END under a dated comment, so the common
#    prefix with every earlier BENCH_r{N} stays byte-comparable and
#    the primary reported number remains the common-subset delta.
HEADLINE = [
    "flagship_doc_scan",
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_regional_revenue",
    "q13_asof_event_order",
    "q16_top3_orders_per_customer",
    "q21_word_counts",
    "q22_tfidf_top_term",
    "q26_exact_dedup",
    "q27_jaccard_pairs",
    "q30_knn_cosine",
    "q33_tumbling_hourly",
    # representative queries from the later coverage waves: corpus
    # quality gating, decontamination, TPC-H star join, event
    # analytics, vector linear algebra
    "q79_quality_rules",
    "q81_decontamination",
    "q84_returned_items",
    "q92_token_entropy",
    "q98_retention_cohorts",
    "q102_kmeans_step",
    # round-3 LLM-pipeline addition: corpus perplexity partitioning.
    "q155_ccnet_perplexity_buckets",
    # round-4: SemDeDup at production sizing (K ≈ sqrt(n)). This is the
    # scale-safe twin of q151_semdedup, which stays out of the headline:
    # with its oracle-fixed K=8 the within-cluster pairwise pass is
    # quadratic in cluster size at sf0.1.
    "q151b_semdedup_scaled",
    # round-4 wave representatives: entity-resolution blocking and
    # incremental view maintenance. q173_triangle_count is deliberately
    # NOT here: the sf0.1 co-purchase graph is dense (~1M edges), so
    # exact triangle enumeration is real 9-second work that would
    # dominate the total without saying anything new about plan shape —
    # its cost profile is pinned by its own shuffle-budget/plan tests.
    "q166_entity_blocking",
    "q177_join_view_ivm",
    # round-4 LLM-pipeline additions: the BPE training inner loop
    # (word-count shuffle + vocabulary-side pair counting) and the
    # scale-safe epoch shuffle (sharded rank, no global sort).
    "q201_bpe_merge_pairs",
    "q203_epoch_shuffle",
    # round-4 late wave: the tall-skinny X'X vector reduction (shuffle
    # bounded by partitions x d(d+1)/2) and the Markov removal-effect
    # attribution (corpus -> bounded transition table + driver solve).
    "q209_embedding_gram",
    "q222_markov_attribution",
    # --- round-5 additions (2026-08-14) — reported separately from the
    # pinned common-27 when comparing round-over-round totals ---
    # 1-bit vector search: packed popcount(XOR) scan, broadcast queries.
    "q290_binary_quantize_hamming",
    # suffix-array substring-dedup core: prefix-bucketed suffix sort.
    "q291_suffix_lcp_profile",
    # deletion-neighborhood fuzzy self-join (linear candidates).
    "q296_symspell_edit_join",
    # Shapley attribution: user-mask rollup + 16-row lattice.
    "q304_shapley_attribution",
    # --- round-6 additions (2026-08-14) — reported separately from the
    # pinned common set when comparing round-over-round totals ---
    # normalization-layer dedup: digest-keyed shuffle, scan-fused map.
    "q327_normalized_exact_dedup",
    # perceptual image dedup: Arrow decode pass + banded Hamming join.
    "q332_image_ahash_neardup",
    # HITS: two integer mutual-reinforcement joins on the co-purchase
    # bipartite graph.
    "q333_hits_authority",
    # late round-6: Arrow pandas-UDF string-similarity path over the
    # vocab-bounded pair table (the record-linkage UDF hot path).
    "q361_jaro_winkler_vocab",
    # late round-6: price-index star — one fact shuffle to
    # (part, month), broadcast base slice, bounded index arithmetic.
    "q373_price_indices",
    # --- round-7 additions (2026-08-14) — reported separately from the
    # pinned common set when comparing round-over-round totals ---
    # winnowing fingerprints: codegen gram hashing + doc-partitioned
    # sliding min + fingerprint census (the MOSS shape).
    "q417_winnowing_fingerprints",
    # content-defined chunking: boundary-mask scan + per-doc lag window
    # + chunk-digest census (the LBFS/FastCDC sub-doc dedup shape).
    "q418_cdc_chunk_dedup",
    # --- round-8 additions (2026-08-15) ---
    # Heaps'-law exponent: scan-stage (tokens, types) + per-lang
    # regression reduce — the zero-explode corpus pass.
    "q420_heaps_law_fit",
    # bigram df novelty: one explode + count window on the bg key —
    # the inverted-index front half of the dedup funnel.
    "q422_bigram_novelty_profile",
    # C4 line dedup: one explode + line-keyed first-occurrence window —
    # the cross-doc span-dedup shuffle at line granularity.
    "q424_line_dedup",
    # --- round-9 additions (2026-08-15) ---
    # BOW fingerprint dedup: in-row token sort (no explode) + two
    # fingerprint windows — the doc-granular twin of q424.
    "q425_bow_fingerprint_dedup",
    # Mergeable two-level quantile summary: shard-local equi-depth
    # sketches + 512-row merge vs the distinct-value-CDF exact
    # baseline — the distributed-percentile pattern.
    "q429_mergeable_quantile_summary",
    # --- round-10 additions (2026-08-15) ---
    # DSIR importance weights: one corpus explode reduced to
    # (doc, hashed-bucket, cnt), 1024-row bucket models broadcast
    # back — the corpus-selection scorer shape.
    "q433_dsir_importance",
    # IVF nprobe recall curve: broadcast-centroid argmax assignment +
    # cell-equi-joined candidates at 4 probe depths — the ANN tuning
    # measurement as a query.
    "q437_ivf_recall_curve",
    # --- round-11 additions (2026-08-16) ---
    # diversity coefficient: the all-pairs-as-one-aggregate moment
    # identity — posexplode + two keyed integer sums, no self-join.
    "q440_diversity_coefficient",
    # broadcast-Bloom decontamination: md5-slice bit probes evaluated
    # against a broadcast position set in the scan stage — the
    # no-corpus-shuffle contamination filter shape.
    "q444_bloom_decontaminate",
    # DoReMi mixture step: ONE (source, term) census serving both the
    # pooled LM and the per-source scoring sum, scalars broadcast —
    # the census-reuse discipline as a headline entry.
    "q453_doremi_mixture_step",
    # --- round-12 additions (2026-08-16) ---
    # filter-agreement matrix: four per-row integer gates + ONE
    # 24-accumulator aggregate unpivoted to the 6 matrix cells — the
    # single-pass ensemble-audit shape.
    "q465_filter_agreement_matrix",
    # IVF posting balance: broadcast-panel in-row argmin in the scan
    # stage + a K-row cell census — the index-health audit shape.
    "q461_ivf_posting_balance",
    # bloom sizing advisor: corpus reduced ONCE to a distinct-gram
    # census; the (m, k)-grid bit probes ride the census against six
    # broadcast bit sets — the measured-vs-theory advisor shape.
    "q475_bloom_sizing_advisor",
    # --- round-13 addition (2026-08-16) — reported separately from the
    # pinned common set when comparing round-over-round totals ---
    # the corpus-build capstone: gates -> exact dedup -> near-dup
    # funnel -> broadcast-bloom decontamination -> DoReMi mixture ->
    # packing audit, stage-checkpointed end to end; the engine's
    # flagship composition as ONE timed entry.
    "q479_corpus_build_funnel",
]


#: Seed of the generated ``ooh_xml_10k`` compilation. One fixed seed
#: keeps the entry's input the same from run to run.
OOH_SEED = 1


def short(name: str) -> str:
    """Key of entry ``name`` on the final stdout line: its qNNN prefix,
    or its first 12 characters."""
    m = re.match(r"q\d+[a-z]?$", name.split("_", 1)[0])
    return m.group(0) if m else name[:12]


def time_reps(run, sf_dir: str, n: int) -> tuple[list[float], int, dict]:
    """``n`` timed executions of entry ``run`` (a callable of ``sf_dir``
    returning its result), the row count of the last, and how much of
    the host's CPU other processes took while they ran
    (``sysmon.contamination``). Every harness that times a registered
    query times it here."""
    runs, n_rows = [], 0
    start = sysmon.cpu_snapshot()
    for _ in range(n):
        t0 = time.perf_counter()
        n_rows = len(run(sf_dir))
        runs.append(time.perf_counter() - t0)
    return runs, n_rows, sysmon.contamination(
        start, sysmon.cpu_snapshot(), len(os.sched_getaffinity(0))
    )


def spread(runs: list[float]) -> float:
    """(max − min) / median of ``runs``, in percent."""
    return round(100 * (max(runs) - min(runs)) / statistics.median(runs), 1)


def ooh_entry(spark, xml_path: str, expected: str):
    """The ``ooh_xml_10k`` entry: a callable of ``sf_dir`` (unused; the
    compilation at ``xml_path`` is the input) that runs the reference's
    full pipeline (S1→P1→F1→K1) — XML scan → 18-column record
    projection → EXISTS-over-map-keys filter → formatted report lines —
    and returns the report's ``toPandas()``. It raises RuntimeError when
    the report's ``oohgen.report_digest`` is not ``expected``, so a wrong
    result is never recorded as a time; the check costs milliseconds
    against a pipeline of about a second."""
    from ooh_etl_spark.sources.xml import (
        long_quality_filter,
        project_records,
        read_occupations,
        report_lines,
    )
    from ooh_etl_spark.tables import parallelize_rows

    def run(sf_dir: str):
        # The single-file XML parse is one task (unsplittable); the
        # 18-column xpath/regex projection is the expensive part and
        # spreads across cores after a round-robin repartition.
        occ = parallelize_rows(read_occupations(spark, xml_path))
        pdf = report_lines(long_quality_filter(project_records(occ))).toPandas()
        got = oohgen.report_digest(zip(pdf.title, pdf.line))
        if got != expected:
            raise RuntimeError(
                f"ooh_xml_10k: wrong report: {len(pdf)} rows with digest "
                f"{got[:16]}, expected {expected[:16]}"
            )
        return pdf

    return run


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ooh_etl_spark.queries import get_queries
    from ooh_etl_spark.queries.ooh_surface import FIXTURE
    from ooh_etl_spark.session import get_spark

    # The compilation is written afresh on every run, so a file that a
    # killed run left half-written is never timed.
    build = os.path.join(ROOT, ".bench_build", "bench")
    os.makedirs(build, exist_ok=True)
    xml = os.path.join(build, "ooh_xml_10k.xml")
    ooh = oohgen.generate(FIXTURE, xml, seed=OOH_SEED, n_occupations=10_000)

    spark = get_spark("bench")
    qs = get_queries()
    # One callable of sf_dir per entry, returning the toPandas() result:
    # the warm-ups, the timed reps and the retries all run it.
    entries = {name: (lambda d, fn=qs[name]: fn(spark, d).toPandas()) for name in HEADLINE}
    entries["ooh_xml_10k"] = ooh_entry(spark, xml, ooh["digest"])

    # Warm the JVM, codegen cache, and parquet readers: run each entry
    # once at the smallest SF so the timed runs measure steady-state
    # query execution, not first-use JIT/codegen compile. The generated
    # classes stay cached only because session.py sizes Spark's codegen
    # cache to this working set (1,247 classes); under Spark's default
    # of 100, a second headline pass at sf0.001 recompiled 1,046 of
    # them. The warm-up runs the timed action itself: when it ran
    # count(), the first timed rep of each entry still compiled its
    # collect-side classes (406 across the headline set at sf0.1).
    spark.range(1).count()
    for run in entries.values():
        run("/root/testdata/sf0.001")

    # n=5 (VERDICT r5 item 4): with n=3 the sub-second queries carried
    # 45-128% spreads, making round-over-round deltas unreadable.
    n_reps = 5

    # The sf0.001 loop above compiles every plan, but the first timed
    # run of EACH query at sf_dir still paid JIT C2 promotion + cold
    # parquet listing for the large inputs: flagship_doc_scan recorded
    # a 266.8% five-run spread in r9 (VERDICT r9 item 4), and the r10
    # fix — warming only HEADLINE[0] — just RELOCATED the cost onto the
    # next query (q01 moved 0.810s -> 1.426s, VERDICT r10 item 3). One
    # untimed execution of EVERY entry at sf_dir puts all timed reps in
    # the same steady state.
    for run in entries.values():
        run(sf_dir)

    timings: dict[str, float] = {}
    spread_pct: dict[str, float] = {}
    contamination: dict[str, dict] = {}

    def record(name: str, runs: list[float], n_rows: int, cont: dict) -> None:
        # Median of n>=3 runs + per-query spread: single runs carry
        # ±10-80% machine noise (observed round 2), which would make
        # round-over-round comparisons of BENCH_r{N} meaningless. ``cont``
        # covers the same session as ``runs``, so the contamination flag
        # always belongs to the reported median.
        timings[name] = round(statistics.median(runs), 3)
        spread_pct[name] = spread(runs)
        contamination[name] = cont
        print(
            f"# {name}: median {timings[name]}s over {len(runs)} runs "
            f"(spread {spread_pct[name]}%, {n_rows} rows)",
            file=sys.stderr,
        )

    for name, run in entries.items():
        record(name, *time_reps(run, sf_dir, n_reps))

    # Spread gate (r14, VERDICT r13 item 1): this box suffers HOST-level
    # neighbor contention — 5-rep spreads of an UNCHANGED query have hit
    # 3552% inside one session, which poisons round-over-round medians.
    # ADDITIONS-ONLY retry pass: any entry whose 5-rep spread exceeds the
    # gate is re-timed (same methodology, same rep count), and the
    # LOWER-spread session's median is kept. Every retry is recorded in
    # BENCH_DETAIL.json under "retries" so the adjudicator can see which
    # sessions were rejected. Timing methodology per rep is unchanged;
    # the contract line and env knobs ($SPARK_GRAFT_SF_DIR/_CPUS) are
    # untouched. An entry still above the gate after the last retry has
    # ``above_gate: true`` on its final record.
    spread_gate = 60.0
    retry_rounds = 2
    retries: dict[str, list[dict]] = {}
    for _round in range(retry_rounds):
        noisy = [k for k, v in spread_pct.items() if v > spread_gate]
        if not noisy:
            break
        for name in noisy:
            runs, n, cont = time_reps(entries[name], sf_dir, n_reps)
            new_spread = spread(runs)
            kept = new_spread < spread_pct[name]
            retries.setdefault(name, []).append(
                {
                    "round": _round + 1,
                    "baseline_median_s": timings[name],
                    "baseline_spread_pct": spread_pct[name],
                    "retry_median_s": round(statistics.median(runs), 3),
                    "retry_spread_pct": new_spread,
                    "kept_retry": kept,
                }
            )
            if kept:
                record(name, runs, n, cont)
            else:
                print(
                    f"# {name}: retry spread {new_spread}% >= "
                    f"{spread_pct[name]}%, keeping original",
                    file=sys.stderr,
                )
    for name, records in retries.items():
        if spread_pct[name] > spread_gate:
            records[-1]["above_gate"] = True
    for name, c in contamination.items():
        if c["contaminated"]:
            print(
                f"# {name}: contaminated (foreign {c['foreign_share']:.1%}, "
                f"steal {c['steal_share']:.1%} of the host's CPU time; "
                f"own {c['own_cpu_s']}s)",
                file=sys.stderr,
            )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # The driver captures only a bounded TAIL of stdout (~1.5 KB; six
    # rounds of `"parsed": null` traced to the final line outgrowing
    # it — VERDICT r6 item 1). So the final stdout line carries ONLY
    # the contract fields, with query keys shortened to their qNNN
    # prefix (~13 bytes/entry instead of ~30); everything else — full
    # names, per-query spreads, rep count — goes to BENCH_DETAIL.json
    # next to this script and to stderr.
    compact = {short(k): v for k, v in timings.items()}
    assert len(compact) == len(timings), "short-key collision in HEADLINE"
    result = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": compact,
        "sf": sf_val,
    }
    detail = {
        **result,
        "queries": timings,
        "n": n_reps,
        "stat": "median",
        "spread_pct": spread_pct,
        "spread_gate_pct": spread_gate,
        "retries": retries,
        "key_map": {short(k): k for k in timings},
        "contamination": contamination,
    }
    detail_path = os.path.join(ROOT, "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    # BENCH_SPREADS.json (VERDICT r12 item 4b): the driver's own bench
    # run overwrites BENCH_DETAIL.json, losing the 5-run spreads that
    # adjudicate regression-vs-noise at the round boundary. This file
    # is MERGE-mode — every run (builder's or driver's) appends an
    # entry keyed by timestamp+git-sha instead of clobbering — so the
    # spread history survives the deposit. Bounded to the last 40 runs.
    spreads_path = os.path.join(ROOT, "BENCH_SPREADS.json")
    hist: dict = {}
    if os.path.exists(spreads_path):
        try:
            with open(spreads_path) as f:
                hist = json.load(f)
        except (json.JSONDecodeError, OSError):
            hist = {}
    import subprocess
    import datetime

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            cwd=ROOT,
            timeout=10,
        ).stdout.strip() or "nogit"
    except OSError:
        sha = "nogit"
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )
    hist[f"{stamp}@{sha}"] = {
        "total": result["value"],
        "sf": sf_val,
        "n": n_reps,
        "queries": timings,
        "spread_pct": spread_pct,
        "retries": retries,
        "contamination": contamination,
    }
    hist = dict(sorted(hist.items())[-40:])
    with open(spreads_path, "w") as f:
        json.dump(hist, f, indent=1)
    line = json.dumps(result, separators=(",", ":"))
    print(f"# detail -> {detail_path}; final line {len(line)} bytes", file=sys.stderr)
    # Emit the metric as the LAST stdout line, after flushing both
    # streams and forcing a fresh line, so the driver's parser latches
    # onto clean JSON (no progress-bar carriage returns in front).
    sys.stderr.flush()
    sys.stdout.flush()
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
