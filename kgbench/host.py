"""Host readings recorded next to each result: a single-core memory
bandwidth probe (the shape of ``scripts/host_canary.py``, one process)
and the peak resident memory of the Spark JVM and its Python workers,
read from ``/proc`` (psutil is not available)."""

from __future__ import annotations

import os
import time

import numpy as np

_MB = 128


def bandwidth_gbps(reps: int = 3) -> float:
    """Best of ``reps`` read+reduce passes over a fresh 128 MB buffer,
    in GB/s.  A low value marks a run that fell in a slow host window."""
    x = np.ones(_MB * 1024 * 1024 // 8)
    best = 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        s = float(x.sum())
        dt = time.perf_counter() - t0
        if s != x.size:
            raise RuntimeError("bandwidth probe summed wrong")
        best = max(best, _MB / 1024 / dt)
    return best


def children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and every live descendant (the
    JVM, the pyspark daemon and its forked workers), in MB."""
    total, todo, seen = 0, [root_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo.extend(children(pid))
    return total / 1024
