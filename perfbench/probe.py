"""Host-probe checks and memory peaks.

The host probe is the fixed-work bracket ``bench.py`` records: a
1-thread CPU loop, the same loop in one process per core, and a 64 MiB
memory-bandwidth copy. ``run.py`` takes it before the run with
``bench._host_probe``; :func:`membw_gbps` repeats the copy after the
run. The 4-core reference host has been seen to slow by up to 4x
under neighbours' load, so every run carries its probe and a
``degraded`` flag rather than being dropped.

:func:`reset_peak_rss` and :func:`peak_rss_mb` bracket the timed region
with the kernel's own peak resident set size (``VmHWM``) of every
process of the benchmark's tree: the driver Python process, the driver
JVM it launched and the Python workers the JVM forks. The kernel keeps
the peak, so nothing polls ``/proc`` while the program runs (walking a
multi-GB JVM's page tables for its proportional size took ~30 ms a
sample). The sum of per-process peaks counts pages a forked worker
shares with its parent once per sharer, and reads high where the
processes peak at different times. :func:`jvm_heap_peak_mb` reads the
driver JVM's peak used heap beside it.
"""

from __future__ import annotations

import os
import time

import numpy as np

# quiet-window references on the reference host (bench.py): the
# 1-thread loop takes 0.7-1.2 s, the per-core loop stays within 1.5x
# of it, and the copy moves ~15 GB/s
QUIET_1T_S = 1.2
QUIET_MT_RATIO = 1.5
QUIET_MEMBW_GBPS = 2.0


def membw_gbps() -> float:
    """The bracket's 64 MiB copy alone, taken again after the run."""
    buf = np.zeros(2**23)  # 64 MiB of float64
    t0 = time.perf_counter()
    for _ in range(2):
        buf = buf.copy()
    return 2 * 2 * buf.nbytes / (time.perf_counter() - t0) / 1e9


def degraded(probe: dict[str, float]) -> bool:
    """True when any part of the bracket reads outside the quiet window."""
    return (
        probe["probe_1t_sec"] > QUIET_1T_S
        or probe["probe_mt_sec"] > QUIET_MT_RATIO * max(probe["probe_1t_sec"], QUIET_1T_S)
        or min(probe["probe_membw_gbps"], probe.get("probe_membw_gbps_post", np.inf))
        < QUIET_MEMBW_GBPS
    )


def jvm_heap_peak_mb(spark, reset: bool = False) -> float:
    """Summed peak use of the driver JVM's heap pools since the last
    reset (``reset=True`` starts a new window and returns 0). Unlike
    the process's RSS, this follows what the program keeps live, not
    how far the heap has grown."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) != "Heap memory":
            continue
        if reset:
            pool.resetPeakUsage()
        else:
            total += pool.getPeakUsage().getUsed()
    return total / 1e6


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    """Every process below ``root``, zombies included."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def reset_peak_rss(root: int) -> None:
    """Start a new peak window for every process of ``root``'s tree
    (writing 5 to ``clear_refs`` resets the kernel's ``VmHWM``)."""
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(root: int) -> float:
    """Summed peak resident memory of ``root``'s tree since
    :func:`reset_peak_rss` (a process started since, since its start)."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1e3
