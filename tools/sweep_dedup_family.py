"""Dedup/near-dup family two-point scaling sweep (VERDICT r8 item 6).

Measures, for each corpus (1x = sf0.1, 5x and 10x raw replicas, and
the 10x exact-deduped funnel input), BOTH the per-stage row counts of
the shared inverted-index pipeline (postings -> candidate pairs ->
verified pairs) and n-run median wall times for the family queries —
converting the "linear in postings" scale claims into measured curves.

Usage: python tools/sweep_dedup_family.py [reps]
Prints a JSON object; paste the tables into SCALE.md.

Corpora are built by tools/make_replica.py (run it first):
  python tools/make_replica.py 5 /tmp/sf1x5
  python tools/make_replica.py 10 /tmp/sf1x10
"""
from __future__ import annotations

import json
import statistics
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPORA = {
    "1x": "/root/testdata/sf0.1",
    "5x": "/tmp/sf1x5",
    "10x": "/tmp/sf1x10",
    "10x_dedup": "/tmp/sf1x10_dedup",
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
    # round-10 additions (VERDICT r9 item 6): the remaining r9-wave
    # pair-graph members — all three run jaccard_pairs on their input
    # verbatim, so raw replicas are the documented clique pathology
    # and their at-scale spec is the funnel corpus.
    "q426_cluster_representatives",
    "q427_minhash_calibration",
    "q431_shingle_containment",
]

#: Funnel-INTERNAL members (round-10 addition): these run exact dedup
#: themselves before the pair stage, so raw replicas are exactly the
#: input they are specified to absorb — measured on every raw corpus
#: to record the cure's own scaling curve (the 10x cells reproduce
#: SCALE.md r9's 67x/28x differentials; the 1x cells are the
#: previously-missing baselines). Not run on the *_dedup corpus: the
#: external funnel would be a no-op twice over (and the _dedup dir
#: carries no embeddings table for q151c).
FAMILY_FUNNEL_INTERNAL = [
    "q27b_jaccard_pairs_funnel",
    "q151c_semdedup_funnel",
]


def family_for(label: str) -> list:
    fam = FAMILY_LINEAR + FAMILY_PAIR_PROBE
    if label in ("1x",) or label.endswith("_dedup"):
        fam = fam + FAMILY_PAIR_FUNNEL_ONLY
    if not label.endswith("_dedup"):
        fam = fam + FAMILY_FUNNEL_INTERNAL
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


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from ooh_etl_spark.queries import QUERIES
    from ooh_etl_spark.session import get_spark

    spark = get_spark("dedup_family_sweep")
    con = duckdb.connect()
    out: dict = {"stage_counts": {}, "timings": {}}
    for label, d in CORPORA.items():
        out["stage_counts"][label] = stage_counts(con, d)
        t: dict = {}
        for name in family_for(label):
            runs = []
            r = 1 if label == "10x" and name in FAMILY_PAIR_PROBE else reps
            for _ in range(r):
                t0 = time.monotonic()
                QUERIES[name].fn(spark, d).collect()
                runs.append(round(time.monotonic() - t0, 3))
            t[name] = statistics.median(runs)
        out["timings"][label] = t
        print(label, json.dumps(out["stage_counts"][label]), json.dumps(t), flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
