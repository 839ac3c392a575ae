"""1x/5x/10x scaling sweep for registered queries, timed by bench.py's
loop: for each corpus and query, one untimed ``toPandas()`` execution,
then ``bench.time_reps``. Each cell holds the median, the spread
((max − min) / median, in percent), the row count and the
``perfbench.sysmon`` contamination record of its reps. Prints one JSON
object for SCALE.md cells, with each query's ``ratios_vs_1x``.

The contamination record's ``steal_share`` is sound. Its
``foreign_share`` is overstated when PySpark workers exit inside the
reps: PySpark's worker daemon ignores SIGCHLD, so an exited worker's
CPU time reaches no ancestor's ``cutime``, drops out of this process
tree's count and is booked as foreign.

With no query names, the sweep runs the dedup and ANN families (the
per-corpus rule is ``family_for``) and adds, per corpus, the DuckDB
census of the inverted-index pipeline's stages (``stage_counts``).

The corpora are written by ``tools/make_full_replica.py``, which
replicates every table with foreign-key-consistent offsets and writes
the ``_dedup`` view next to each replica:

  python tools/make_full_replica.py 5 /tmp/sf0.5
  python tools/make_full_replica.py 10 /tmp/sf1.0

Usage: python tools/sweep_queries.py [query ...] [--reps N]
       [--dirs 1x=/root/testdata/sf0.1,5x=/tmp/sf0.5,...]
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPORA = {
    "1x": "/root/testdata/sf0.1",
    "5x": "/tmp/sf0.5",
    "10x": "/tmp/sf1.0",
    "10x_dedup": "/tmp/sf1.0_dedup",
}

#: Linear-pipeline members (postings/scan-bounded): measured on every
#: corpus, including raw replicas — their cost tracks corpus volume.
FAMILY_LINEAR = [
    "q26_exact_dedup",
    "q417_winnowing_fingerprints",
    "q418_cdc_chunk_dedup",
    "q422_bigram_novelty_profile",
    "q424_line_dedup",
    "q425_bow_fingerprint_dedup",
]

#: Pair-graph members: candidate volume is quadratic in per-key
#: replication, so raw replicated corpora are exactly the measured
#: SCALE.md pathology. q27 is kept on raw replicas as the probe that
#: MEASURES the pathology; the others run only where they are
#: specified to run at scale — behind the exact-dedup funnel.
FAMILY_PAIR_PROBE = ["q27_jaccard_pairs"]
FAMILY_PAIR_FUNNEL_ONLY = [
    "q428_rouge2_pair_overlap",
    "q423b_split_leakage_audit_funnel",
    # all three run jaccard_pairs on their input verbatim, so raw
    # replicas are the documented clique pathology and their at-scale
    # spec is the funnel corpus.
    "q426_cluster_representatives",
    "q427_minhash_calibration",
    "q431_shingle_containment",
]

#: Funnel-INTERNAL members: these run exact dedup themselves before the
#: pair stage, so raw replicas are exactly the input they are specified
#: to absorb. Not run on the ``_dedup`` views: the external funnel
#: would be a no-op twice over.
FAMILY_FUNNEL_INTERNAL = [
    "q27b_jaccard_pairs_funnel",
    "q151c_semdedup_funnel",
]

#: ANN/similarity members. Replicated embeddings are byte-identical
#: vectors under new ids: brute-force top-k (q30) grows linearly in
#: corpus, LSH/IVF candidate lists grow with per-bucket replication,
#: and exact duplicate vectors concentrate in single buckets. q334
#: (brute-force mutual-kNN, O(n^2) by design) is excluded: its
#: raw-replica cost is already dispositioned in SCALE.md. Its funnel
#: member q151c is in FAMILY_FUNNEL_INTERNAL. Not run on the ``_dedup``
#: views, whose embeddings are the raw replica's.
FAMILY_ANN = [
    "q30_knn_cosine",
    "q31_ann_lsh",
    "q53_ann_ivf",
    "q341_srp_lsh_pairs",
    "q151_semdedup",
    "q151b_semdedup_scaled",
]


def family_for(label: str) -> list:
    fam = FAMILY_LINEAR + FAMILY_PAIR_PROBE
    if label == "1x" or label.endswith("_dedup"):
        fam = fam + FAMILY_PAIR_FUNNEL_ONLY
    if not label.endswith("_dedup"):
        fam = fam + FAMILY_FUNNEL_INTERNAL + FAMILY_ANN
    return fam


_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"


def stage_counts(con: duckdb.DuckDBPyConnection, d: str) -> dict:
    """Inverted-index pipeline stage row counts (engine-neutral set
    semantics identical to operators/dedup.py::jaccard_pairs)."""
    q = f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS toks
      FROM read_parquet('{d}/documents.parquet')),
         s AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                                    i -> array_to_string(toks[i:i+2], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM d),
         sz AS (SELECT doc_id, len(sh) AS sz FROM s),
         inv AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT (SELECT count(*) FROM d) AS n_docs,
           (SELECT count(DISTINCT doc_id) FROM inv) AS n_docs_shingled,
           (SELECT count(*) FROM inv) AS n_postings,
           (SELECT count(*) FROM shared) AS n_candidate_pairs,
           (SELECT count(*)
            FROM shared JOIN sz sa ON id_a = sa.doc_id
                        JOIN sz sb ON id_b = sb.doc_id
            WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5)
             AS n_pairs_j50
    """
    cols = ["n_docs", "n_docs_shingled", "n_postings", "n_candidate_pairs", "n_pairs_j50"]
    return dict(zip(cols, con.execute(q).fetchone()))


def sweep(spark, corpora: dict[str, str], names: list[str], reps: int) -> dict:
    """Time ``names`` (default: ``family_for`` each corpus) on every
    corpus in ``corpora`` (label → sf dir)."""
    from bench import spread, time_reps
    from ooh_etl_spark.queries import QUERIES

    out: dict = {"timings": {}}
    if not names:
        con = duckdb.connect()
        out["stage_counts"] = {}
    for label, d in corpora.items():
        if not names:
            out["stage_counts"][label] = stage_counts(con, d)
            print(f"# {label} stages: {out['stage_counts'][label]}", file=sys.stderr)
        cells: dict = {}
        for name in names or family_for(label):
            def run(sf_dir: str):
                return QUERIES[name].fn(spark, sf_dir).toPandas()

            run(d)  # untimed, as bench.py's warm-up at sf_dir
            runs, n_rows, cont = time_reps(run, d, reps)
            cells[name] = {
                "median_s": round(statistics.median(runs), 3),
                "spread_pct": spread(runs),
                "rows": n_rows,
                "contamination": cont,
            }
            print(
                f"# {label} {name}: median {cells[name]['median_s']}s "
                f"(spread {cells[name]['spread_pct']}%, {n_rows} rows"
                f"{', contaminated' if cont['contaminated'] else ''})",
                file=sys.stderr,
                flush=True,
            )
        out["timings"][label] = cells
    base = out["timings"].get("1x", {})
    out["ratios_vs_1x"] = {
        name: {
            label: round(cells[name]["median_s"] / base[name]["median_s"], 2)
            for label, cells in out["timings"].items()
            if label != "1x" and name in cells
        }
        for name in base
    }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registered queries (default: the families)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--dirs",
        type=lambda spec: dict(kv.split("=", 1) for kv in spec.split(",")),
        default=CORPORA,
        help="corpus map, LABEL=DIR,...",
    )
    args = ap.parse_args()
    from ooh_etl_spark.session import get_spark

    print(json.dumps(sweep(get_spark("query_sweep"), args.dirs, args.names, args.reps)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
