"""Host facts recorded with every run: cores, pinned parallelism, steal,
load, versions, peak resident memory and the CPU time of the process
tree."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def cpu_sample() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``/proc/stat`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def retained_heap_mb(spark) -> float:
    """Driver heap still in use after full collections: what the session
    keeps alive (caches, pinned blocks, status and codegen stores).

    Spark's ContextCleaner releases shuffles and broadcasts only after a
    collection has cleared their weak references, on its own thread, so
    one collection can still count them; the least of a few rounds does
    not."""
    import time

    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(4):
        jvm.java.lang.System.gc()
        used.append((rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0))
        time.sleep(0.25)
    return min(used)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and all its live
    descendants — the driver JVM with every thread, Spark's Python workers
    — plus those of descendants that have exited and been reaped. Time the
    hypervisor steals is not charged to a process, so this moves with the
    work done and far less with the host's load than wall time does."""
    ppid, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ppid[int(name)] = int(fields[1])
        # utime, stime, cutime, cstime
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    kids: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        kids.setdefault(parent, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(kids.get(pid, ()))
    return total / _CLK_TCK
