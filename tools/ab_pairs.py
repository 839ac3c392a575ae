"""Interleaved A/B pairs of ``perfbench/run.py``: a revision against the working tree.

    python tools/ab_pairs.py --rev HEAD --workload checkpoint_funnel --seeds 1-10

The revision is exported with ``git archive`` into a temporary
directory (under ``$TMPDIR``), so the run leaves no worktree registered
in the repository. For each seed the tool runs
``perfbench/run.py --workload W --seed N --seconds S --trace 0`` once in
that checkout (the parent arm) and once in this checkout (the change
arm). ``S`` is ``run_seconds`` from ``BENCHMARK.json``. Odd seeds run the
parent first and even seeds the change first, so slow drift on the host
falls on both arms alike.

It prints every pair, each arm's median and quartiles, and for every
end-to-end metric in ``BENCHMARK.json`` the aim-1 verdict: a gain is
claimed only when the change wins at least 9 in 10 pairs (ties count
for neither arm) and the medians differ by more than the parent's
interquartile range over its median. A median worse than the parent's
by more than the metric's bound is flagged as a regression. The last
stdout line is the whole result as JSON.

Each arm keeps ``perfbench/run.py``'s contamination flags: the whole
run's (``run_contamination.contaminated``) and each timed pass's
(``pass_contaminated``). An arm with any flag set is flagged: its pair
line names it, and the verdict lines and the JSON count the pairs with
a flagged arm. Flagged pairs stay in every verdict; they are reported,
never dropped.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """``"1-10"`` or ``"1,4,11-13"`` → the listed seeds in order."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_arm(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} in {checkout} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    *_, report_line, result_line = proc.stdout.strip().splitlines()
    report, result = json.loads(report_line)["report"], json.loads(result_line)
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "run_contaminated": report["run_contamination"]["contaminated"],
        "pass_contaminated": report["pass_contaminated"],
        **{k: v["value"] for k, v in result["metrics"].items()},
    }


def flagged(arm: dict) -> bool:
    """True when the run or any of its timed passes was contaminated."""
    return arm["run_contaminated"] or any(arm["pass_contaminated"])


def flag_note(arm: dict) -> str:
    """`` [run, passes 2/5 contaminated]``: what was flagged in ``arm``."""
    passes = arm["pass_contaminated"]
    parts = ["run"] if arm["run_contaminated"] else []
    if any(passes):
        parts.append(f"passes {sum(passes)}/{len(passes)}")
    return f" [{', '.join(parts)} contaminated]"


def verdict(metric: dict, parent: list[float], change: list[float]) -> dict:
    """Aim-1 verdict for one end-to-end metric over paired runs."""
    higher = metric["better"] == "higher"
    wins = sum((c > p) if higher else (c < p) for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    pmed, cmed = pq[1], cq[1]
    gain = (cmed - pmed) / pmed if higher else (pmed - cmed) / pmed
    spread = (pq[2] - pq[0]) / pmed
    return {
        "parent_quartiles": pq,
        "change_quartiles": cq,
        "change_wins": wins,
        "pairs": len(parent),
        "gain": round(gain, 4),
        "parent_iqr_over_median": round(spread, 4),
        "gain_claimed": wins >= math.ceil(0.9 * len(parent)) and gain > spread,
        "regression": -gain > metric["bound"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", required=True, help="revision for the parent arm, e.g. HEAD")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help='e.g. "1-10" or "1,3,11-13"')
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    seconds = bench["run_seconds"]

    pairs = []
    with tempfile.TemporaryDirectory(prefix="ab_pairs_") as parent_dir:
        archive = subprocess.run(
            ["git", "archive", args.rev], cwd=ROOT, capture_output=True, check=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", parent_dir], input=archive, check=True)
        for seed in parse_seeds(args.seeds):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            arms = {}
            for arm in order:
                arms[arm] = run_arm(parent_dir if arm == "parent" else ROOT, args.workload, seed, seconds)
            pairs.append({"seed": seed, "first": order[0], **arms})
            print(
                f"# seed {seed} ({order[0]} first): "
                + "  ".join(
                    f"{m['name']} {arms['parent'][m['name']]:.4g} -> {arms['change'][m['name']]:.4g}"
                    for m in metrics
                )
                + f"  failed {arms['parent']['failed']}/{arms['change']['failed']}"
                + "".join(f"  {arm}{flag_note(arms[arm])}" for arm in order if flagged(arms[arm])),
                flush=True,
            )

    verdicts = {
        m["name"]: verdict(
            m, [p["parent"][m["name"]] for p in pairs], [p["change"][m["name"]] for p in pairs]
        )
        for m in metrics
    }
    contaminated_pairs = sum(flagged(p["parent"]) or flagged(p["change"]) for p in pairs)
    for name, v in verdicts.items():
        (p1, pmed, p3), (c1, cmed, c3) = v["parent_quartiles"], v["change_quartiles"]
        print(
            f"# {name}: parent {pmed:.4g} [{p1:.4g}, {p3:.4g}] change {cmed:.4g} [{c1:.4g}, {c3:.4g}]"
            f" gain {v['gain']:+.1%} vs parent IQR/median {v['parent_iqr_over_median']:.2f},"
            f" change won {v['change_wins']}/{v['pairs']}"
            f" ({contaminated_pairs} pairs with a contaminated run)"
            + (" -> GAIN" if v["gain_claimed"] else "")
            + (" -> REGRESSION" if v["regression"] else ""),
            flush=True,
        )
    failed = {arm: sum(p[arm]["failed"] for p in pairs) for arm in ("parent", "change")}
    incorrect = {arm: sum(not p[arm]["correct"] for p in pairs) for arm in ("parent", "change")}
    print(f"# failed executions {failed}, runs not correct {incorrect}", flush=True)
    print(json.dumps({"rev": args.rev, "workload": args.workload, "failed": failed,
                      "incorrect_runs": incorrect, "contaminated_pairs": contaminated_pairs,
                      "pairs": pairs, "verdicts": verdicts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
