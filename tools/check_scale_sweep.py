"""Full-registry 5x sweep with stall detection: runs check_oracle on
/tmp/sf0.5 for every registered query, restarting past any query that
stalls >7 min (recorded as TIMEOUT).

The two true-pair-audit queries (q451/q457) run against the DEDUPED
replica view (/tmp/sf0.5_dedup, written by make_full_replica.py)
instead of the raw replica (VERDICT r11 item 4): on the
byte-identical-replica corpus their TRUE-pair side is quadratic in
clique size BY SEMANTICS (every doc gains N exact copies), so the
raw-replica cell measures the clique artifact, not the operator. The deduped view keeps the corpus at 5x
relational scale while collapsing the artificial cliques — the same
substitution their docstrings document for production.
"""
import os, re, subprocess, sys, time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as m  # noqa: E402

ALL = list(m.queries())
SKIP = {
    # documented quadratic boundary (SCALE.md r8)
    "q379_sparse_cosine_pairs",
    # documented Σdeg² wall, measured twice (647s at 5x, r9+r10);
    # q191b_link_prediction_capped is the registered scale path and
    # IS in the sweep (SCALE.md r10)
    "q191_link_prediction",
    # documented O(n^2) exact-kNN baseline (587.7s quiet-box at 5x,
    # r10 — always past the 420s cap); q334b_mutual_nn_funnel is the
    # registered machine-checked scale path and IS in the sweep,
    # green at 5x (SCALE.md r11)
    "q334_mutual_nn_pairs",
    # DuckDB-ORACLE-side walls (r10/r11 TIMEOUT dispositions; the
    # Spark plans are fine): q423's all-pairs density probe spills
    # DuckDB temp until the disk fills (r12: transient ENOSPC at 5x),
    # q194's recursive-CTE reachability stalls past the cap. The
    # registered funnel twin q423b IS in the sweep and green; q194's
    # Spark side is pinned by its own fixture tests.
    "q423_split_leakage_audit",
    "q194_dbscan",
}
#: True-pair-audit queries: swept against the deduped replica view.
DEDUP_QUERIES = {"q451_lsh_scurve_recall", "q457_stop_shingle_ablation"}
BASE_DIR = "/tmp/sf0.5"
DEDUP_DIR = "/tmp/sf0.5_dedup"
LOG = "/tmp/check5x_full.log"
RES = "/tmp/check5x_full_results.txt"
STALL = 420

done = set()
if os.path.exists(RES):
    for line in open(RES):
        parts = line.split()
        if len(parts) == 2:
            done.add(parts[1])


def run_pass(sf_dir: str, wanted: list) -> None:
    """Stall-guarded check_oracle pass over ``wanted`` at ``sf_dir``,
    appending per-query status lines to RES until all are accounted."""
    while True:
        todo = [q for q in wanted if q not in done]
        if not todo:
            return
        lf = open(LOG, "w")
        p = subprocess.Popen(
            ["python", "tools/check_oracle.py", sf_dir] + todo,
            stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT,
        )
        last_size, last_t, stuck = 0, time.time(), False
        while p.poll() is None:
            time.sleep(10)
            size = os.path.getsize(LOG)
            if size != last_size:
                last_size, last_t = size, time.time()
            elif time.time() - last_t > STALL:
                p.kill()
                p.wait()
                stuck = True
                break
        lf.close()
        txt = open(LOG).read()
        comp = re.findall(r"(OK|FAIL|ROWS-ONLY)\s+(\S+):", txt)
        with open(RES, "a") as rf:
            for st, name in comp:
                if name not in done:
                    done.add(name)
                    rf.write(f"{st} {name}\n")
            missing = [q for q in todo if q not in done]
            if stuck:
                if missing:
                    done.add(missing[0])
                    rf.write(f"TIMEOUT {missing[0]}\n")
            elif missing:
                # Non-stuck exit with unreported queries: check_oracle
                # crashed mid-list. Record the query it died on as ERROR,
                # then re-enter the loop to retry the rest — otherwise the
                # SUMMARY silently under-counts (ADVICE r8).
                done.add(missing[0])
                rf.write(f"ERROR {missing[0]}\n")
        if not stuck and not missing:
            return


run_pass(BASE_DIR, [q for q in ALL if q not in SKIP and q not in DEDUP_QUERIES])
run_pass(DEDUP_DIR, [q for q in ALL if q in DEDUP_QUERIES])

n = {"OK": 0, "FAIL": 0, "ROWS-ONLY": 0, "TIMEOUT": 0, "ERROR": 0}
for line in open(RES):
    st = line.split()[0]
    n[st] = n.get(st, 0) + 1
print("SUMMARY", n)
# Gate (ADVICE r10): FAIL/ERROR must fail the round-close ritual like
# every other step. TIMEOUT (stall-cap) entries do NOT gate — each
# carries a measured disposition in SCALE.md (q334/q194/q423 class);
# a FAIL is a correctness drift and an ERROR is a crashed compare.
if n["FAIL"] or n["ERROR"]:
    sys.exit(1)
