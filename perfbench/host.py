"""Host observations for a benchmark run: hygiene record and memory sampling.

Nothing here touches Spark. The hygiene record is the same evidence
``bench.py``'s ``_host_busy_check`` keeps (load average, concurrent JVMs,
fixed numpy calibration workloads on one core and on all cores), so a
drifting or shared host shows in every record instead of passing as an
engine regression.
"""

from __future__ import annotations

import multiprocessing
import os
import time

import numpy as np

_CALIB_ELEMS = 2_000_000
_CALIB_REPS = 20


def _calib_work(_: int = 0) -> float:
    a = np.random.default_rng(0).random(_CALIB_ELEMS)
    t0 = time.perf_counter()
    for _ in range(_CALIB_REPS):
        (a * a + 1.0).sum()
    return time.perf_counter() - t0


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _proc_ids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def count_jvms() -> int:
    return sum(
        1 for pid in _proc_ids() if (_read(f"/proc/{pid}/comm") or "").strip() == "java"
    )


def hygiene() -> dict[str, float]:
    """Load, concurrent JVMs and the single-core / all-core calibration
    seconds (the all-core figure is the slowest of one job per core)."""
    ncpu = os.cpu_count() or 1
    single = _calib_work()
    with multiprocessing.get_context("fork").Pool(ncpu) as pool:
        allcore = max(pool.map(_calib_work, range(ncpu)))
    return {
        "loadavg1": _loadavg1(),
        "jvms": count_jvms(),
        "calib_1core_s": single,
        "calib_allcore_s": allcore,
    }


def group_pids(pgid: int) -> list[int]:
    """Live processes of process group ``pgid`` (the worker, its JVM and the
    JVM's Python workers all inherit it)."""
    out = []
    for pid in _proc_ids():
        stat = _read(f"/proc/{pid}/stat")
        if stat is None:
            continue
        # Fields after the parenthesised command: state ppid pgrp ...
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(pid)
    return out


def group_rss_bytes(pgid: int) -> int:
    total = 0
    for pid in group_pids(pgid):
        status = _read(f"/proc/{pid}/status") or ""
        for line in status.splitlines():
            if line.startswith("VmRSS:"):
                total += int(line.split()[1]) * 1024
                break
    return total
