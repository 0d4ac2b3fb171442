"""Per-layer attribution for the traced run.

Two sources, both read from outside the program:

* Spark's own event log.  Every layer call in a traced pass runs under
  its own ``setJobGroup`` id; :func:`group_metrics` folds the log's
  job-start and task-end events into per-group jobs, tasks, executor
  run time, scheduler delay, shuffle write, spill, GC and task skew.
* :class:`KernelTracer`, which wraps named kernel functions in the
  driver process and keeps spans in memory.  A span's self time is its
  duration minus the part its child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_FIELDS = ("jobs", "tasks", "executor_run_s", "scheduler_delay_s",
                "shuffle_write_bytes", "spill_bytes", "gc_s", "task_skew")


def read_events(log_dir: str) -> list[dict]:
    """Every JSON event under ``log_dir``, in file order.  Handles both
    a single event-log file and rolling ``eventlog_v2_*/events_<n>_*``
    directories (files sorted by their sequence number)."""
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith(".") or f.endswith(".crc") or \
                    f.startswith("appstatus"):
                continue
            paths.append(os.path.join(root, f))

    def order(p):
        parts = os.path.basename(p).split("_")
        seq = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0
        return (os.path.dirname(p), seq, p)

    events = []
    for p in sorted(paths, key=order):
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _skew(run_ms: list[int]) -> float:
    """max / median task run time of one stage (median floored at 1 ms,
    the log's resolution)."""
    return max(run_ms) / max(statistics.median(run_ms), 1)


def group_metrics(events: list[dict]) -> dict[str, dict[str, float]]:
    """Fold event-log events into metrics per job group.

    A stage belongs to the group of the first job that lists it.
    Scheduler delay follows the Spark UI: task duration minus executor
    run, deserialize, result-serialize and getting-result time.
    ``spill_bytes`` is memory plus disk bytes spilled.  ``task_skew`` is
    the largest per-stage max/median task run time over the group's
    stages with at least two tasks (1.0 when none has)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    stage_runs: dict[int, list[int]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            g = out[group]
            run = m.get("Executor Run Time", 0)
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            overhead = (m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0))
            getting = info.get("Getting Result Time", 0)
            getting = info.get("Finish Time", 0) - getting if getting else 0
            g["tasks"] += 1
            g["executor_run_s"] += run / 1000
            g["scheduler_delay_s"] += max(
                0, duration - run - overhead - getting) / 1000
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                         or {}).get("Shuffle Bytes Written",
                                                    0)
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000
            stage_runs[ev["Stage ID"]].append(run)
    for sid, runs in stage_runs.items():
        g = out[stage_group[sid]]
        g["task_skew"] = max(g["task_skew"],
                             _skew(runs) if len(runs) > 1 else 1.0)
    return dict(out)


class KernelTracer:
    """In-memory spans around wrapped functions.

    ``wrap(owner, attr, name)`` replaces ``owner.attr`` with a timing
    wrapper for the life of the :meth:`installed` block.  ``name`` may be
    a callable of the current span-name stack, so one function can be
    attributed to its caller (the same pooling kernel called from two
    places).  Spans nest: each records its parent, and
    :meth:`self_times` subtracts children from parents."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            label = name(tracer.stack_names()) if callable(name) else name
            with tracer.span(label):
                return orig(*args, **kwargs)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def stack_names(self) -> list[str]:
        return [self.spans[i][0] for i in self._stack]

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, self.clock(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p = self.spans[idx]
            self.spans[idx] = (n, start, self.clock(), p)

    @contextmanager
    def installed(self):
        try:
            yield self
        finally:
            while self._patches:
                owner, attr, orig = self._patches.pop()
                setattr(owner, attr, orig)

    def self_times(self) -> dict[str, dict[str, float]]:
        """name -> {"self_s", "calls"}: each span's duration minus the
        durations of its direct children, summed per name."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, dict[str, float]] = {}
        for i, (name, start, end, _p) in enumerate(self.spans):
            s = out.setdefault(name, {"self_s": 0.0, "calls": 0})
            s["self_s"] += (end - start) - child[i]
            s["calls"] += 1
        return out
