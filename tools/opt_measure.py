"""Per-query measurement harness for the optimization rounds (guide §1).

For each named query (default: the bench HEADLINE list) this times, at
$SPARK_GRAFT_SF_DIR (default sf0.1):

- ``toPandas`` reps — the bench methodology, so numbers here are
  directly comparable to bench.py medians; and
- ``noop``-sink reps (guide §1.4) — full materialization of every
  column with no driver transfer, isolating the computation; and
- ``compiles``: Janino compilations during those timed reps. At steady
  state it is 0; anything else means the query's generated classes do
  not stay in Spark's codegen cache between executions.

and (with ``--plans TAG``) writes ``plans/r14/<query>_<TAG>.txt`` with
the ``explain("formatted")`` output plus a one-line plan-shape summary
(Exchange count, join strategies, Python-eval nodes) so plan claims in
OPTIMIZATION_r14.md are checkable, and ``plans/r14/<query>_<TAG>.tree.txt``
with that summary and the operator tree alone (``plan_tree``). The
formatted details are not stable between two sessions running the same
code (expression ids, ``plan_id``s, the checkout path in file scans, the
order of ``Expand`` projections), so compare two runs with the tree
files: ``diff <(cd a && tail -n +2 ...)`` of the ``.tree.txt`` files
shows only real plan changes.

Usage:
  python tools/opt_measure.py [--reps N] [--plans before|after] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ooh_etl_spark.plans.audit import shuffle_count  # noqa: E402


def plan_summary(plan: str) -> str:
    ex = shuffle_count(plan)
    joins = sorted(
        set(
            re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)",
                plan,
            )
        )
    )
    py = sorted(
        set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas)", plan))
    )
    scans = plan.count("Scan parquet")
    return (
        f"shuffle_exchanges={ex} parquet_scans={scans} "
        f"joins={joins or '[]'} python_nodes={py or '[]'}"
    )


def plan_tree(plan: str) -> str:
    """The operator-tree lines of a formatted plan (subquery trees
    included) with node numbers, expression ids, ``plan_id``s, other
    numbers and the checkout path stripped: what stays the same between
    two sessions that build the same plan."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lines = []
    for line in plan.splitlines():
        if not re.fullmatch(r"[\s:+\-|*]*[A-Za-z][\w .]*\(\d+\)", line):
            continue
        line = line.replace(root, "<checkout>")
        line = re.sub(r"#\d+L?|plan_id=\d+|\s*\(\d+\)$", "", line)
        lines.append(re.sub(r"\d+", "N", line).rstrip())
    return "\n".join(lines) + "\n"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    reps = 5
    plans_tag = None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--plans":
            plans_tag = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    from bench import HEADLINE, spread, time_reps

    from ooh_etl_spark.plans.audit import physical_plan
    from ooh_etl_spark.queries import get_queries
    from ooh_etl_spark.session import codegen_compilations, get_spark

    if not names:
        names = list(HEADLINE)
    qs = get_queries()
    spark = get_spark("opt_measure")
    spark.range(1).count()

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r14"
    )
    if plans_tag:
        os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        if plans_tag:
            plan = physical_plan(fn(spark, sf_dir))
            path = os.path.join(plans_dir, f"{name}_{plans_tag}.txt")
            with open(path, "w") as f:
                f.write(f"# {name} @ {sf_dir} — {plan_summary(plan)}\n\n")
                f.write(plan)
            with open(path[: -len(".txt")] + ".tree.txt", "w") as f:
                f.write(f"# {plan_summary(plan)}\n{plan_tree(plan)}")
        if reps == 0:
            print(f"{name}: plan dumped", flush=True)
            continue
        def to_pandas(d: str):
            return fn(spark, d).toPandas()

        def noop(d: str):
            fn(spark, d).write.format("noop").mode("overwrite").save()
            return ()  # the noop sink returns no rows

        # warm each timed action itself: compile at the smallest sf,
        # then one untimed run at sf_dir
        for run in (to_pandas, noop):
            run("/root/testdata/sf0.001")
            run(sf_dir)
        compiled0 = codegen_compilations(spark)
        spark.sparkContext.setJobDescription(f"{name}: toPandas rep")
        tp, n_rows, _ = time_reps(to_pandas, sf_dir, reps)
        spark.sparkContext.setJobDescription(f"{name}: noop rep")
        nj, _, _ = time_reps(noop, sf_dir, reps)
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "compiles": codegen_compilations(spark) - compiled0,
            "toPandas_med": round(statistics.median(tp), 3),
            "noop_med": round(statistics.median(nj), 3),
            "toPandas_spread_pct": spread(tp),
            "rows": n_rows,
        }
        print(
            f"{name}: toPandas {out[name]['toPandas_med']}s "
            f"(spread {out[name]['toPandas_spread_pct']}%), "
            f"noop {out[name]['noop_med']}s, {n_rows} rows, "
            f"{out[name]['compiles']} compiles",
            flush=True,
        )
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
