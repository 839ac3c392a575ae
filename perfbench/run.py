"""Closed-loop benchmark of the ooh_etl_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One Python client drives
``get_spark()`` on ``local[<cpus>]`` and runs one execution at a time:
whole passes over the workload's items, each pass in an order drawn
from ``--seed``, until ``--seconds`` have passed and at least two
passes ran. Every execution's
result is compared with a digest fixed at set-up (the DuckDB oracle
for parquet queries, the generator's expected report for ``ooh_etl``).

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
(job groups, status tracker, storage info, event log) with
``--trace 1``. The line before it is a report with the pinned
environment, sample counts, ``failed_frac`` and the contamination
flag. Inputs, outputs, Spark scratch space and the event log live
under ``$CARGO_TARGET_DIR/perfbench`` (default ``.bench_build``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
DATA_DIR = os.path.join(HERE, "data")
FIXTURE = os.path.join(ROOT, "tests", "fixtures", "ooh_mini.xml")

for _need in ("ooh_etl_spark/session.py", "tools/check_oracle.py", FIXTURE):
    if not os.path.isfile(os.path.join(ROOT, _need)):
        sys.exit(f"perfbench: {_need} not found under {ROOT}; run from a source checkout")

import oohgen  # noqa: E402
import sparktrace as trace  # noqa: E402
from digest import oracle_digests, plan_counts  # noqa: E402
from sysmon import RssSampler, contamination, cpu_snapshot  # noqa: E402
from workloads import (  # noqa: E402
    OOH_OCCUPATIONS,
    OOH_PROBE_OCCUPATIONS,
    PASS_REPEATS,
    WARMUP_PASSES,
    WORKLOADS,
    OohPipeline,
    ParquetQuery,
    dir_bytes,
)

#: Stop starting new passes after this long, so a slow box still ends
#: the run well inside its time limit.
HARD_CAP_S = 100.0
#: Below physical memory (the engine's default is 16g). Every workload
#: fills a 1g heap during warm-up, so the window's peak RSS is the heap
#: plus native and Python memory. A larger heap grows by how long GC
#: pauses take, which moves the peak by a third from run to run on a
#: shared host. ``queries.heap_after_gc_mb`` shows the live heap.
DRIVER_MEM = "1g"
#: The window runs whole passes until it reaches ``--seconds`` and holds
#: at least this many, since the tail is a median over passes.
MIN_PASSES = 2
#: Repetitions of the noop and toPandas actions on a persisted frame
#: whose medians give ``transfer.collect_s``.
TRANSFER_REPS = 5


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def pin_env(build: str, traced: bool) -> dict:
    """Launch settings, from the engine's existing knobs, all pointing
    inside the build directory."""
    dirs = {k: os.path.join(build, k) for k in ("spark-local", "tmp", "eventlog", "out")}
    for k in ("eventlog", "out", "tmp"):
        shutil.rmtree(dirs[k], ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts]
    if traced:
        submit += trace.eventlog_conf(dirs["eventlog"])
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": dirs["tmp"],
        "SPARK_LAUNCHER_OPTS": java_opts,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    os.environ.update(pins)
    return {**pins, "eventlog": dirs["eventlog"], "out": dirs["out"]}


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, pins: dict) -> None:
        self.args, self.pins = args, pins
        self.workload = args.workload
        self.traced = bool(args.trace)
        self.report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # -- inputs and set-up ---------------------------------------------
    def make_items(self, spark, queries) -> list:
        if self.workload == "ooh_etl":
            return [OohPipeline(self.xml, os.path.join(self.pins["out"], "ooh_records"), self.ooh)]
        return [ParquetQuery(n, queries[n], DATA_DIR) for n in WORKLOADS[self.workload]]

    def generate(self, name: str, n: int) -> tuple[str, dict]:
        path = os.path.join(self.pins["out"], f"{name}.xml")
        t = time.perf_counter()
        exp = oohgen.generate(FIXTURE, path, self.args.seed, n)
        self.report[f"{name}_gen_s"] = round(time.perf_counter() - t, 3)
        return path, exp

    def setup(self):
        """Session, registry import and the untimed warm-up passes, the
        first of which is checked; returns (spark, items)."""
        t0 = time.perf_counter()
        from ooh_etl_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.range(1).count()
        self.session_s = time.perf_counter() - t0
        from ooh_etl_spark.queries import get_oracles, get_queries

        items = self.make_items(spark, get_queries())
        warm = {}
        for it in items:
            try:
                warm[it.name] = it.consume(it.construct(spark))
            except Exception as e:  # noqa: BLE001
                log(f"set-up {it.name} raised: {e!r}"[:2000])
                warm[it.name] = None
        live = [it for it in items if warm[it.name] is not None]
        for _ in range(WARMUP_PASSES * PASS_REPEATS[self.workload] - 1):
            for it in live:
                it.consume(it.construct(spark))
        self.setup_s = time.perf_counter() - t0

        if self.workload != "ooh_etl":
            t = time.perf_counter()
            oracles = get_oracles()
            expected = oracle_digests(
                DATA_DIR,
                {it.name: oracles[it.name] for it in items},
                os.path.join(os.path.dirname(self.pins["out"]), "oracle"),
            )
            for it in items:
                it.expected = expected[it.name]
            self.report["oracle_s"] = round(time.perf_counter() - t, 3)
        self.setup_ok = {
            it.name: warm[it.name] is not None and it.check(warm[it.name]) for it in items
        }
        for name, ok in self.setup_ok.items():
            if not ok:
                log(f"set-up result of {name} does not match its oracle")
        return spark, items

    # -- the closed loop -------------------------------------------------
    def execute(self, spark, it, phase: str) -> tuple[bool, float]:
        gid = trace.group_id(self.workload, it.name, phase)
        label = trace.job_group(spark.sparkContext, gid) if self.traced else nullcontext()
        t = time.perf_counter()
        try:
            with label:
                res = it.consume(it.construct(spark))
            dt = time.perf_counter() - t
            return it.check(res), dt
        except Exception as e:  # noqa: BLE001
            log(f"{it.name} raised: {e!r}"[:2000])
            return False, time.perf_counter() - t

    def closed_loop(self, spark, items, run0: float) -> dict:
        sc = spark.sparkContext
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rng = random.Random(self.args.seed)
        # Per pass: wall time, execution times, and whether another
        # process or the hypervisor held the CPUs meanwhile.
        pass_s: list[float] = []
        pass_samples: list[list[float]] = []
        pass_dirty: list[bool] = []
        per_item: dict[str, list[float]] = {it.name: [] for it in items}
        attempted = failed = 0
        ncpu = len(os.sched_getaffinity(0))
        # Traced runs: persisted RDDs (count, bytes) and the JVM heap
        # left after a full GC, at the start and after each pass; taken
        # between passes, outside the timed window.
        self.storage: list[tuple[int, int]] = []
        self.heap: list[int] = []

        def snapshot_memory():
            if self.traced:
                self.storage.append(trace.storage(sc))
                self.heap.append(trace.heap_after_gc(spark))

        snap0 = cpu_snapshot()
        with RssSampler([os.getpid(), jvm_pid]) as rss:
            snapshot_memory()
            snap = snap0
            pass_items = items * PASS_REPEATS[self.workload]
            while True:
                p0 = time.perf_counter()
                pass_samples.append([])
                for it in rng.sample(pass_items, len(pass_items)):
                    ok, dt = self.execute(spark, it, f"timed{len(pass_s)}")
                    attempted += 1
                    failed += not ok
                    pass_samples[-1].append(dt)
                    per_item[it.name].append(dt)
                pass_s.append(time.perf_counter() - p0)
                prev, snap = snap, cpu_snapshot()
                pass_dirty.append(contamination(prev, snap, ncpu)["contaminated"])
                snapshot_memory()
                if time.perf_counter() - run0 > HARD_CAP_S or (
                    len(pass_s) >= MIN_PASSES and sum(pass_s) >= self.args.seconds
                ):
                    break
        window_s = sum(pass_s)
        samples = [dt for p in pass_samples for dt in p]
        self.attempted, self.failed = attempted, failed
        self.report.update(
            {
                "pass_s": [round(p, 3) for p in pass_s],
                "pass_contaminated": pass_dirty,
                "window_s": round(window_s, 3),
                "samples": len(samples),
                "failed_frac": failed / attempted,
                "per_item_median_s": {
                    k: round(statistics.median(v), 4) for k, v in per_item.items()
                },
                "contamination": contamination(snap0, snap, ncpu),
            }
        )
        # A pass's slowest execution is its tail sample; a run has too
        # few executions for a high percentile of the pooled samples.
        return {
            "throughput_qps": (attempted - failed) / window_s,
            "query_p50_s": statistics.median(samples),
            "query_tail_s": statistics.median(max(p) for p in pass_samples),
            "driver_rss_peak_mb": rss.peak / 2**20,
            "setup_s": self.setup_s,
        }

    # -- traced layer decomposition --------------------------------------
    def decompose(self, spark, items) -> list[dict]:
        """Per item: construct, noop action, toPandas and parquet sink,
        each on a freshly constructed frame under its own job group."""
        from ooh_etl_spark.plans.audit import physical_plan
        from ooh_etl_spark.sources.sinks import write_parquet

        sc = spark.sparkContext
        rows = []
        for it in items:
            g = lambda phase: trace.group_id(self.workload, it.name, phase)  # noqa: E731
            rec: dict = {"name": it.name}
            cons = []

            def timed(phase, fn):
                t = time.perf_counter()
                with trace.job_group(sc, g(phase)):
                    out = fn()
                return out, time.perf_counter() - t

            built, dt = timed("construct", lambda: it.construct(spark))
            cons.append(dt)
            rec["construct_jobs"] = trace.jobs_in_group(sc, g("construct"))
            counts = [plan_counts(physical_plan(f)) for f in it.frames(built)]
            rec.update({k: sum(c[k] for c in counts) for k in counts[0]})
            _, rec["noop_s"] = timed(
                "noop", lambda: it.collect_frame(built).write.format("noop").mode("overwrite").save()
            )
            rec["noop_jobs"] = trace.jobs_in_group(sc, g("noop"))

            # The transfer alone: noop and toPandas over the same
            # persisted result, so the query runs once, not per action.
            built, dt = timed("construct2", lambda: it.construct(spark))
            cons.append(dt)
            frame = it.collect_frame(built).persist()
            frame.write.format("noop").mode("overwrite").save()
            noop, collect = [], []
            for rep in range(TRANSFER_REPS):
                _, dt = timed(f"cached_noop{rep}", lambda: frame.write.format("noop").mode("overwrite").save())
                noop.append(dt)
                pdf, dt = timed(f"collect{rep}", frame.toPandas)
                collect.append(dt)
            frame.unpersist(blocking=True)
            rec["collect_s"] = statistics.median(collect) - statistics.median(noop)
            rec["rows"] = len(pdf)
            rec["bytes"] = int(pdf.memory_usage(deep=True).sum())

            built, dt = timed("construct3", lambda: it.construct(spark))
            cons.append(dt)
            out = os.path.join(self.pins["out"], "sink", it.name)
            _, rec["write_s"] = timed("write", lambda: write_parquet(it.sink_frame(built), out))
            rec["bytes_written"] = dir_bytes(out)
            rec["construct_s"] = statistics.median(cons)
            rows.append(rec)
        return rows

    def xml_layers(self, spark, xml: str, occupations: int, reps: int) -> dict:
        """noop over the XML scan, noop over the record projection, and
        the share of occupations the report keeps; the last of ``reps``."""
        from ooh_etl_spark.sources.xml import (
            long_quality_filter,
            occupation_records,
            read_occupations,
            report_lines,
        )
        from ooh_etl_spark.tables import parallelize_rows

        sc = spark.sparkContext
        for rep in range(reps):
            gs = trace.group_id(self.workload, "sources.xml", f"scan{rep}")
            t = time.perf_counter()
            with trace.job_group(sc, gs):
                read_occupations(spark, xml).write.format("noop").mode("overwrite").save()
            scan_s = time.perf_counter() - t
            records = occupation_records(parallelize_rows(read_occupations(spark, xml)))
            t = time.perf_counter()
            with trace.job_group(sc, trace.group_id(self.workload, "functions.html", f"project{rep}")):
                records.write.format("noop").mode("overwrite").save()
            project_s = time.perf_counter() - t
        kept = report_lines(long_quality_filter(records)).count()
        return {"scan_s": scan_s, "project_s": project_s, "kept": kept / occupations, "group": gs}

    def layer_metrics(self, rows: list[dict], xml: dict, ev: trace.EventLog) -> dict:
        def total(key):
            return sum(r[key] for r in rows)

        noop_groups = [trace.group_id(self.workload, r["name"], "noop") for r in rows]
        eng = ev.summary(noop_groups)
        outside = sum(
            max(r["noop_s"] - ev.stage_busy_s(g), 0.0) for r, g in zip(rows, noop_groups)
        )
        return {
            "session.start_s": self.session_s,
            "queries.construct_s": total("construct_s"),
            "queries.construct_jobs": total("construct_jobs"),
            # Peak over pass ends: the JVM garbage collector releases
            # checkpoints at unpredictable points, so a per-pass delta
            # can go negative.
            "queries.ckpt_rdds_retained": max(c for c, _ in self.storage) - self.storage[0][0],
            "queries.ckpt_bytes_retained": max(b for _, b in self.storage) - self.storage[0][1],
            "queries.heap_after_gc_mb": max(self.heap) / 2**20,
            "engine.execute_s": total("noop_s"),
            "engine.jobs": total("noop_jobs"),
            "engine.stages": eng["stages"],
            "engine.tasks": eng["tasks"],
            "engine.stage_busy_s": eng["stage_busy_s"],
            "engine.outside_stage_s": outside,
            "engine.executor_run_s": eng["executor_run_s"],
            "engine.executor_cpu_s": eng["executor_cpu_s"],
            "engine.gc_s": eng["gc_s"],
            "engine.shuffle_write_bytes": eng["shuffle_write_bytes"],
            "engine.shuffle_read_bytes": eng["shuffle_read_bytes"],
            "engine.spill_bytes": eng["spill_bytes"],
            "engine.task_skew": eng["task_skew"],
            "engine.failed_tasks": eng["failed_tasks"],
            "transfer.collect_s": total("collect_s"),
            "transfer.rows": total("rows"),
            "transfer.bytes": total("bytes"),
            "sources.xml.scan_s": xml["scan_s"],
            "sources.xml.scan_tasks": ev.summary([xml["group"]])["tasks"],
            "sources.xml.filter_kept_ratio": xml["kept"],
            "functions.html.project_s": xml["project_s"] - xml["scan_s"],
            "sources.sinks.write_s": total("write_s"),
            "sources.sinks.bytes_written": total("bytes_written"),
            "plans.shuffle_exchanges": total("plans.shuffle_exchanges"),
            "plans.parquet_scans": total("plans.parquet_scans"),
            "plans.python_nodes": total("plans.python_nodes"),
        }

    # -- the run ---------------------------------------------------------
    def run(self) -> dict:
        run0 = time.perf_counter()
        run_snap0 = cpu_snapshot()
        if self.workload == "ooh_etl":
            self.xml, self.ooh = self.generate("ooh", OOH_OCCUPATIONS)
        spark, items = self.setup()
        try:
            e2e = self.closed_loop(spark, items, run0)
            if self.traced:
                rows = self.decompose(spark, items)
                if self.workload == "ooh_etl":
                    xml = self.xml_layers(spark, self.xml, OOH_OCCUPATIONS, 1)
                else:
                    path, _ = self.generate("ooh_probe", OOH_PROBE_OCCUPATIONS)
                    xml = self.xml_layers(spark, path, OOH_PROBE_OCCUPATIONS, 2)
        finally:
            stop_session(spark)
        self.report["run_contamination"] = contamination(
            run_snap0, cpu_snapshot(), len(os.sched_getaffinity(0))
        )
        self.report["setup_ok"] = self.setup_ok
        if self.traced:
            metrics = self.layer_metrics(rows, xml, trace.EventLog(self.pins["eventlog"]))
            metrics["tracing.throughput_qps"] = e2e["throughput_qps"]
            metrics["tracing.query_p50_s"] = e2e["query_p50_s"]
            self.report["traced_end_to_end"] = e2e
            self.report["per_item_layers"] = rows
            self.report["storage_by_pass"] = self.storage
            self.report["heap_after_gc_mb_by_pass"] = [round(h / 2**20, 1) for h in self.heap]
        else:
            metrics = e2e
        self.report["run_s"] = round(time.perf_counter() - run0, 3)
        return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    runner = Runner(args, pin_env(build, bool(args.trace)))
    runner.report["env"] = {
        k: v for k, v in runner.pins.items() if k.startswith("SPARK") or k == "PYSPARK_SUBMIT_ARGS"
    }
    metrics = runner.run()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(metrics)}")
    print(json.dumps({"report": runner.report}, default=str))
    result = {
        "correct": runner.failed == 0 and all(runner.setup_ok.values()),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
