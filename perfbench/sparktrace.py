"""Traced-run plumbing, all from outside the engine package.

- Every call is labelled with ``sc.setJobGroup("workload|query|phase")``.
- Job counts come from the status tracker, retained checkpoint blocks
  from ``getRDDStorageInfo``, live heap from the JVM's memory bean.
- Stage and task metrics come from Spark's own event log, enabled at
  launch (uncompressed) and parsed as JSON lines after the session
  stops, keyed by the job group each stage was submitted under.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from contextlib import contextmanager

SEP = "|"


def eventlog_conf(log_dir: str) -> list[str]:
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
    ]


def group_id(workload: str, query: str, phase: str) -> str:
    return SEP.join((workload, query, phase))


@contextmanager
def job_group(sc, gid: str):
    sc.setJobGroup(gid, gid)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_in_group(sc, gid: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def storage(sc) -> tuple[int, int]:
    """(persisted RDDs, bytes held in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def heap_after_gc(spark) -> int:
    """Bytes of JVM heap in use after a full garbage collection."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return int(jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed())


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class EventLog:
    """Per-job-group stage and task records parsed from the event log."""

    def __init__(self, log_dir: str) -> None:
        # Spark 4 writes a rolling log: a directory of events_<n>_<app> files.
        paths = sorted(
            glob.glob(os.path.join(log_dir, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if not paths:
            raise FileNotFoundError(f"no event log in {log_dir}")
        self.stage_group: dict[int, str] = {}
        self.stages: dict[str, list[dict]] = {}
        self.tasks: dict[int, list[dict]] = {}
        for path in paths:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid:
                self.stage_group[ev["Stage Info"]["Stage ID"]] = gid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            gid = self.stage_group.get(info["Stage ID"])
            if gid and "Completion Time" in info:
                self.stages.setdefault(gid, []).append(info)
        elif kind == "SparkListenerTaskEnd":
            self.tasks.setdefault(ev["Stage ID"], []).append(ev)

    def summary(self, gids: list[str]) -> dict:
        """Stage and task totals over the given job groups."""
        out = {
            "stages": 0, "tasks": 0, "failed_tasks": 0,
            "stage_busy_s": 0.0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "task_skew": 1.0,
        }
        for gid in gids:
            stages = self.stages.get(gid, [])
            out["stages"] += len(stages)
            out["stage_busy_s"] += self.stage_busy_s(gid)
            for s in stages:
                durations = []
                for t in self.tasks.get(s["Stage ID"], []):
                    if t.get("Stage Attempt ID", 0) != s.get("Stage Attempt ID", 0):
                        continue
                    info, m = t["Task Info"], t.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["failed_tasks"] += bool(info.get("Failed"))
                    durations.append(info["Finish Time"] - info["Launch Time"])
                    out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw, sr = m.get("Shuffle Write Metrics") or {}, m.get("Shuffle Read Metrics") or {}
                    out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                if len(durations) > 1:
                    med = statistics.median(durations)
                    out["task_skew"] = max(out["task_skew"], max(durations) / max(med, 1))
        return out

    def stage_busy_s(self, gid: str) -> float:
        return _union_s(
            [(s["Submission Time"], s["Completion Time"]) for s in self.stages.get(gid, [])]
        )
