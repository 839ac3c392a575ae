"""Per-query measurement harness, and the writer of the plan golden.

``python tools/opt_measure.py [--reps N] [query ...]`` times each named
query (default: the bench HEADLINE list) at $SPARK_GRAFT_SF_DIR (default
sf0.1):

- ``toPandas`` reps — the bench methodology, so numbers here are
  directly comparable to bench.py medians; and
- ``noop``-sink reps (guide §1.4) — full materialization of every
  column with no driver transfer, isolating the computation; and
- ``compiles``: Janino compilations during those timed reps. At steady
  state it is 0; anything else means the query's generated classes do
  not stay in Spark's codegen cache between executions.

``python tools/opt_measure.py --plans`` times nothing. It rewrites
``plans/golden.txt``: one ``plan_block`` per registered query at sf0.001,
sorted by name. ``tests/test_plans.py::test_every_plan_matches_golden``
builds the same blocks and fails on any difference, so a change that
moves a plan regenerates the file, and ``git diff plans/golden.txt``
shows what moved.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ooh_etl_spark.plans.audit import physical_plan, python_nodes, shuffle_count  # noqa: E402

GOLDEN = os.path.join(ROOT, "plans", "golden.txt")
GOLDEN_SF_DIR = "/root/testdata/sf0.001"


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
    py = python_nodes(plan)
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
    lines = []
    for line in plan.splitlines():
        if not re.fullmatch(r"[\s:+\-|*]*[A-Za-z][\w .]*\(\d+\)", line):
            continue
        line = line.replace(ROOT, "<checkout>")
        line = re.sub(r"#\d+L?|plan_id=\d+|\s*\(\d+\)$", "", line)
        lines.append(re.sub(r"\d+", "N", line).rstrip())
    return "\n".join(lines) + "\n"


def plan_block(spark, name: str) -> str:
    """The golden block of registered query ``name`` at sf0.001:

    - ``## <name>``;
    - ``deployed:`` the ``plan_summary`` of the plan the query returns,
      and ``lambda=1`` when that plan runs a ``lambdafunction``;
    - ``lineage:`` the same for the query built under
      ``stages.full_lineage()``, whose plan reaches the scans that a
      materialised stage hides from the deployed plan;
    - the deployed ``plan_tree``.
    """
    from ooh_etl_spark.queries import QUERIES
    from ooh_etl_spark.stages import full_lineage

    fn = QUERIES[name].fn
    deployed = physical_plan(fn(spark, GOLDEN_SF_DIR))
    with full_lineage():
        lineage = physical_plan(fn(spark, GOLDEN_SF_DIR))

    def line(plan: str) -> str:
        return f"{plan_summary(plan)} lambda={int('lambdafunction' in plan)}"

    return (
        f"## {name}\ndeployed: {line(deployed)}\nlineage: {line(lineage)}\n"
        f"{plan_tree(deployed)}"
    )


def write_golden() -> None:
    from ooh_etl_spark.queries import QUERIES
    from ooh_etl_spark.session import get_spark

    spark = get_spark("opt_measure")
    blocks = [plan_block(spark, name) for name in sorted(QUERIES)]
    with open(GOLDEN, "w") as f:
        f.write(
            "# Plan golden: one block per registered query at sf0.001.\n"
            "# Regenerate with `python tools/opt_measure.py --plans`.\n"
        )
        f.writelines(blocks)
    print(f"wrote {os.path.relpath(GOLDEN, ROOT)}: {len(blocks)} queries")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    if "--plans" in args:
        if args != ["--plans"]:
            sys.exit("--plans takes no other argument")
        write_golden()
        return
    reps = 5
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    from bench import HEADLINE, spread, time_reps

    from ooh_etl_spark.queries import get_queries
    from ooh_etl_spark.session import codegen_compilations, get_spark

    if not names:
        names = list(HEADLINE)
    qs = get_queries()
    spark = get_spark("opt_measure")
    spark.range(1).count()

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]

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
