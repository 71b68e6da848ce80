"""/proc helpers: process trees, CPU pinning, worker memory, host steal.

Linux only; psutil is not a dependency of the repository.
"""

from __future__ import annotations

import os
import time


def _ppids() -> dict:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list:
    "``root`` and every live process below it."
    children: dict = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pin_tree(root: int, cpus: set) -> None:
    """Pin every thread of ``root``'s process tree to ``cpus``; threads
    and processes started later inherit the mask of their creator."""
    for pid in descendants(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread ended meanwhile
                pass


def tree_cpu_s(root: int) -> float:
    "User plus system CPU seconds of the live processes under ``root``."
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def python_worker_peak_mb(root: int) -> float:
    "Largest VmHWM (peak RSS) among the PySpark Python workers under ``root``."
    peak = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def cpu_times() -> tuple:
    "(steal, total) jiffies summed over all CPUs, from /proc/stat."
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest columns are inside user)
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def steal_share(before: tuple, after: tuple) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def spin_rate(cpu: int, seconds: float = 0.25) -> float:
    """Host control in the style of bench.hardware_throughput: loop
    iterations per second of one process pinned to ``cpu``."""
    old = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {cpu})
    try:
        n, x = 0, 0
        t0 = time.perf_counter()
        while True:
            for i in range(20_000):
                x += i % 7
            n += 20_000
            dt = time.perf_counter() - t0
            if dt >= seconds:
                return n / dt
    finally:
        os.sched_setaffinity(0, old)


def group_alive(pgid: int) -> list:
    "Processes still in process group ``pgid``."
    alive = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(name))
    return alive
