"""Ad-hoc 1x/5x/10x scaling sweep for named registered queries (the
generic companion to sweep_dedup_family.py / sweep_ann_family.py):
n-run median wall times on the make_replica.py corpora, printed as
one JSON line for SCALE.md cells.

Replica dirs carry documents/embeddings/lineitem only — only queries
whose inputs are those tables can sweep here (graph family reads
lineitem; dedup/ANN read documents/embeddings).

Usage: python tools/sweep_queries.py q191b_link_prediction_capped ... [--reps N]
       [--dirs 1x=/root/testdata/sf0.1,5x=/tmp/sf0.5,10x=/tmp/sf1.0]

--dirs overrides the corpus map — point it at the make_full_replica.py
corpora (ALL tables FK-offset-replicated) for queries that read beyond
documents/embeddings/lineitem (q452 reads five relational tables).
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


def main() -> int:
    argv = sys.argv[1:]
    args = []
    reps = 3
    corpora = dict(CORPORA)
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--reps"):
            reps = int(a.split("=")[1] if "=" in a else argv[i + 1])
            i += 1 if "=" in a else 2
        elif a.startswith("--dirs"):
            spec = a.split("=", 1)[1] if "=" in a else argv[i + 1]
            corpora = dict(kv.split("=", 1) for kv in spec.split(","))
            i += 1 if "=" in a else 2
        else:
            args.append(a)
            i += 1
    from ooh_etl_spark.queries import QUERIES
    from ooh_etl_spark.session import get_spark

    spark = get_spark("query_sweep")
    out: dict = {}
    for label, d in corpora.items():
        t: dict = {}
        for name in args:
            QUERIES[name].fn(spark, d).count()  # untimed warm pass
            runs = []
            for _ in range(reps):
                t0 = time.monotonic()
                n = QUERIES[name].fn(spark, d).count()
                runs.append(time.monotonic() - t0)
            t[name] = {"sec": round(statistics.median(runs), 2), "rows": n}
            print(f"# {label} {name}: {t[name]}", file=sys.stderr)
        out[label] = t
    ratios = {
        name: {
            lbl: round(out[lbl][name]["sec"] / out["1x"][name]["sec"], 2)
            for lbl in out
            if lbl != "1x"
        }
        for name in args
    }
    print(json.dumps({"timings": out, "ratios_vs_1x": ratios}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
