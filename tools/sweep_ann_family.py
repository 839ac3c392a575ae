"""ANN/similarity family two-point scaling sweep (the companion to
tools/sweep_dedup_family.py, completing VERDICT r8 item 6's
"dedup/ANN family"): n-run median wall times for the similarity
queries on 1x / 5x / 10x replicated embeddings, plus the candidate
funnel sizes that explain them.

Replicated embeddings are BYTE-IDENTICAL vectors under new ids — the
embedding-space analog of the text-replica pathology: brute-force
top-k (q30) grows linearly in corpus (fixed query set), LSH/IVF
candidate lists grow with per-bucket replication, and exact duplicate
vectors concentrate in single buckets (max-bucket skew).

Usage: python tools/sweep_ann_family.py [reps]   (replicas from
tools/make_replica.py)
"""
from __future__ import annotations

import json
import statistics
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPORA = {
    "1x": "/root/testdata/sf0.1",
    "5x": "/tmp/sf1x5",
    "10x": "/tmp/sf1x10",
}

#: Linear / funnel members, measured everywhere. q334 (brute-force
#: mutual-kNN, O(n^2) by design) is excluded: its raw-replica cost is
#: already dispositioned in SCALE.md.
FAMILY = [
    "q30_knn_cosine",
    "q31_ann_lsh",
    "q53_ann_ivf",
    "q341_srp_lsh_pairs",
    "q151_semdedup",
    "q151b_semdedup_scaled",
    "q151c_semdedup_funnel",
]


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    only = sys.argv[2] if len(sys.argv) > 2 else None  # corpus label filter
    from ooh_etl_spark.queries import QUERIES
    from ooh_etl_spark.session import get_spark

    spark = get_spark("ann_family_sweep")
    out: dict = {}
    for label, d in CORPORA.items():
        if only and label != only:
            continue
        t: dict = {}
        for name in FAMILY:
            runs = []
            for _ in range(reps):
                t0 = time.monotonic()
                QUERIES[name].fn(spark, d).collect()
                runs.append(round(time.monotonic() - t0, 3))
            t[name] = statistics.median(runs)
        out[label] = t
        print(label, json.dumps(t), flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
