"""Process and host accounting read from ``/proc``.

- ``RssSampler`` samples the resident set of a fixed set of processes
  (the Spark JVM and this Python client) on a background thread.
- ``cpu_snapshot`` reads host jiffies (busy, steal) and the CPU time of
  this process tree; the difference of two snapshots says how much of
  the CPUs another process held in between.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of the summed RSS of ``pids`` while running."""

    def __init__(self, pids: list[int], interval_s: float = 0.05) -> None:
        self.pids = pids
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(rss_bytes(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _proc_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime + stime + cutime + cstime) of ``pid`` in jiffies."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_jiffies(root: int) -> int:
    """CPU time used by ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def cpu_snapshot() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user.
    idle = cpu[3] + cpu[4]
    total = sum(cpu[:8])
    return {
        "total": total,
        "busy": total - idle - cpu[7],
        "steal": cpu[7],
        "own": tree_cpu_jiffies(os.getpid()),
        "loadavg_1m": load1,
    }


def contamination(start: dict, end: dict, ncpu: int) -> dict:
    """How much CPU other processes took between two snapshots.

    ``foreign_share`` is busy time outside this process tree as a share
    of all CPU time; a run is contaminated when that exceeds 10% or
    steal exceeds 5% (another guest held the physical CPUs).
    """
    total = max(end["total"] - start["total"], 1)
    foreign = max(end["busy"] - start["busy"] - (end["own"] - start["own"]), 0)
    steal = end["steal"] - start["steal"]
    out = {
        "foreign_share": round(foreign / total, 4),
        "steal_share": round(steal / total, 4),
        "own_cpu_s": round((end["own"] - start["own"]) / _HZ, 2),
        "loadavg_start": start["loadavg_1m"],
        "loadavg_end": end["loadavg_1m"],
        "ncpu": ncpu,
    }
    out["contaminated"] = out["foreign_share"] > 0.10 or out["steal_share"] > 0.05
    return out
