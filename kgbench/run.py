"""Benchmark command for the KG-construction engine.

    python3 kgbench/run.py --workload {bulk_crawl,dedup_family} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Generates the workload's inputs from the
seed, computes reference results (untimed), builds the program's own
session (``session.build_session``) on ``local[nproc]``, runs one
untimed warm-up pass over the same inputs (``setup_s`` runs from the
session build to its end), then runs passes until ``--seconds`` seconds
of pass time have elapsed, and checks every pass's output.  A cold
set-up costs about 40 s on a 4-core host and a pass about 15 s, so a
run takes about a minute.  Prints a readable summary, a record line
(seed, input fingerprint, host probe, failed_ratio) and, as the last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``:

* ``--trace 0``: the end-to-end metrics (tracing off);
* ``--trace 1``: the per-layer metrics, from a run with Spark's event
  log on, one job group per layer call, a persist+count cut after each
  call, and a single-process kernel replay (bulk_crawl).

Everything the run writes lives under ``.kgbench_run/`` in the working
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

END_TO_END = {"items_per_s": "items/s", "wall_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB"}
SPARK_LAYERS = ("corpus", "pipeline", "extract", "canonicalize", "graph",
                "sources")
SPARK_LAYER_METRICS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                       "executor_run_s": "s", "scheduler_delay_s": "s",
                       "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                       "gc_s": "s", "task_skew": "ratio",
                       "rows_out": "count"}
OPERATOR_METRICS = {"wall_s": "s", "jobs": "count",
                    "shuffle_write_bytes": "bytes",
                    "scheduler_delay_s": "s"}
KERNEL_FNS = ("tokenize_document", "encode", "token_maxpool",
              "span_maxpool_windows.spans", "span_maxpool_windows.relctx",
              "mention_logits", "edit_distance", "coref_logits",
              "complete_linkage", "entity_type_logits", "relations")
RATIOS = {"extract.spans": "count", "extract.mentions": "count",
          "extract.mentions_per_span": "ratio",
          "extract.truncated_docs": "count",
          "canonicalize.match_exact": "count",
          "canonicalize.match_lsh": "count",
          "canonicalize.match_self": "count",
          "canonicalize.resolved_ratio": "ratio",
          "operators.dedup.candidates": "count",
          "operators.dedup.verified": "count",
          "operators.dedup.verified_per_candidate": "ratio",
          "traced.wall_s": "s", "untraced.wall_s": "s",
          "traced.layer_share": "ratio", "tracing_overhead_s": "s"}
HEAP = "3g"
TRACE_SUMMARY = ("traced.wall_s", "untraced.wall_s", "tracing_overhead_s",
                 "traced.layer_share")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    from kgbench.workloads import DEDUP_QUERIES
    units = {}
    for layer in SPARK_LAYERS:
        for m, u in SPARK_LAYER_METRICS.items():
            units[f"{layer}.{m}"] = u
    for q in DEDUP_QUERIES:
        for m, u in OPERATOR_METRICS.items():
            units[f"operators.{q}.{m}"] = u
    for fn in KERNEL_FNS:
        units[f"kernel.{fn}.self_s"] = "s"
        units[f"kernel.{fn}.calls"] = "count"
    units.update(RATIOS)
    return units


class TracedStep:
    """The traced run's ``step``: each layer call runs under job group
    ``<tag>:<layer>``, and its DataFrame outputs are persisted and
    counted inside the call's timing, so the layer's jobs and wall
    time are its own.  ``counter(layer, output)`` then reads the
    workload's ratio counts off the cut output, under job group
    ``<tag>:counts`` and outside every timing (``count_s``)."""

    def __init__(self, spark, tag: str, counter):
        self.sc = spark.sparkContext
        self.tag = tag
        self.counter = counter
        self.wall: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.counts: dict[str, float] = {}
        self.count_s = 0.0
        self._cut: list = []

    def __call__(self, layer: str, fn, *args):
        from pyspark.sql import DataFrame
        self.sc.setJobGroup(f"{self.tag}:{layer}", layer)
        t0 = time.perf_counter()
        out = fn(*args)
        frames = list(out.values()) if isinstance(out, dict) else [out]
        rows = 0
        for df in frames:
            if isinstance(df, DataFrame):
                self._cut.append(df.persist())
                rows += df.count()
            elif isinstance(df, list):
                rows += len(df)
        t1 = time.perf_counter()
        self.wall[layer] = self.wall.get(layer, 0.0) + t1 - t0
        self.rows[layer] = self.rows.get(layer, 0) + rows
        self.sc.setJobGroup(f"{self.tag}:counts", "counts")
        self.counts.update(self.counter(layer, out))
        self.count_s += time.perf_counter() - t1
        return out

    def release(self) -> None:
        while self._cut:
            self._cut.pop().unpersist()
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def _session(work: str, trace: bool):
    """The program's session, with scratch paths inside ``work`` and a
    heap fixed at HEAP (initial = max): left to grow, the JVM's
    resident size wanders by a third between identical runs."""
    from jerex_spark.session import build_session
    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": f"{work}/warehouse",
             "spark.driver.memory": HEAP,
             "spark.driver.extraJavaOptions":
                 f"-Xms{HEAP} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"}
    if trace:
        os.makedirs(f"{work}/events")
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{work}/events",
                      "spark.eventLog.compress": "false"})
    spark = build_session(app="kgbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Tally:
    """Operations attempted and failed, with the first few errors."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, n_ops: int, errors: list[str]) -> None:
        self.attempted += n_ops
        self.failed += min(n_ops, len(errors))
        self.errors.extend(e[-600:] for e in errors[:1])


def _checked_pass(wl, spark, out_dir, tally, step=None):
    """Run and check one pass; a pass that raises fails all of its
    operations.  Returns the pass wall time, or None if it raised."""
    from kgbench.workloads import plain_step
    try:
        t0 = time.perf_counter()
        wl.run_pass(spark, out_dir, step or plain_step)
        dt = time.perf_counter() - t0
        errors = wl.check_output(out_dir)
    except Exception:
        dt, errors = None, [traceback.format_exc()] * wl.ops_per_pass
    tally.record(wl.ops_per_pass, errors)
    shutil.rmtree(out_dir, ignore_errors=True)
    return dt


def kernel_replay(docs: list[tuple[str, str]], batch: int = 256) -> dict:
    """Run ``extract._extract_batch`` in this process over ``docs`` in
    ``batch``-doc batches with the kernel functions wrapped; returns
    name -> {self_s, calls}.  ``span_maxpool_windows`` is split by
    caller: the relation stage's context pooling is ``.relctx``."""
    import pandas as pd

    from jerex_spark import extract, scoring
    from jerex_spark.config import DEFAULT
    from kgbench.tracing import KernelTracer

    tr = KernelTracer()
    with tr.installed():
        for fn in ("encode", "token_maxpool", "mention_logits",
                   "edit_distance", "coref_logits", "entity_type_logits"):
            tr.wrap(scoring, fn, fn)
        for fn in ("tokenize_document", "complete_linkage"):
            tr.wrap(extract, fn, fn)
        for fn in ("pair_block", "mention_pair_repr", "relation_logits"):
            tr.wrap(scoring, fn, "relations")
        tr.wrap(scoring, "span_maxpool_windows",
                lambda stack: "span_maxpool_windows." + (
                    "relctx" if "relation_stage" in stack else "spans"))
        tr.wrap(extract, "_relations_multi_instance", "relation_stage")
        for i in range(0, len(docs), batch):
            keys, txt = zip(*docs[i:i + batch])
            extract._extract_batch(
                pd.DataFrame({"doc_key": keys, "text": txt}), DEFAULT)
    return tr.self_times()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run_untraced(wl, work, seconds, tally) -> dict:
    from kgbench.host import tree_peak_rss_mb
    t0 = time.perf_counter()
    spark = _session(work, trace=False)
    setup = time.perf_counter() - t0
    setup += _checked_pass(wl, spark, f"{work}/out", tally) or 0.0
    tally.record(*wl.check_once(spark))
    walls, spent = [], 0.0
    while spent < seconds:
        dt = _checked_pass(wl, spark, f"{work}/out", tally)
        if dt is None:
            break
        walls.append(dt)
        spent += dt
    rss = tree_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    spark.stop()
    wall = _median(walls)
    return {"metrics": {"items_per_s": wl.items / wall if wall else 0.0,
                        "wall_s": wall, "setup_s": setup,
                        "peak_rss_mb": rss},
            "samples": len(walls)}


def run_traced(wl, work, seconds, tally) -> dict:
    """Untraced (U) and traced (T) passes alternate U T U T ... U in one
    event-logged session, until ``seconds`` of pass time have elapsed.
    Each T is compared with the mean of the two U around it, which
    cancels the JVM's steady warm-up across passes; per-layer numbers
    are medians over the T passes."""
    from kgbench.tracing import SPARK_FIELDS, group_metrics, read_events
    from kgbench.workloads import DEDUP_QUERIES
    spark = _session(work, trace=True)
    _checked_pass(wl, spark, f"{work}/out", tally)
    tally.record(*wl.check_once(spark))
    before = _checked_pass(wl, spark, f"{work}/out", tally)
    steps, spent = [], before or 0.0
    while before is not None and (spent < seconds or not steps):
        step = TracedStep(spark, f"p{len(steps)}", wl.count_layer)
        traced = _checked_pass(wl, spark, f"{work}/out", tally, step)
        step.release()
        after = _checked_pass(wl, spark, f"{work}/out", tally)
        if traced is None or after is None:
            break
        step.traced_wall = traced - step.count_s
        step.untraced_wall = (before + after) / 2
        steps.append(step)
        spent += traced + after
        before = after
    spark.stop()
    groups = group_metrics(read_events(f"{work}/events"))

    m = dict.fromkeys(per_layer_units(), 0.0)

    def med(layer, field):
        if field in ("wall_s", "rows_out"):
            src = [s.wall if field == "wall_s" else s.rows for s in steps]
            vals = [d.get(layer, 0.0) for d in src]
        else:
            vals = [groups.get(f"{s.tag}:{layer}", {}).get(field, 0.0)
                    for s in steps]
        m[f"{layer}.{field}"] = _median(vals)

    for layer in SPARK_LAYERS:
        for field in ("wall_s", "rows_out", *SPARK_FIELDS):
            med(layer, field)
    for q in DEDUP_QUERIES:
        for field in OPERATOR_METRICS:
            med(f"operators.{q}", field)
    if steps:
        c = steps[-1].counts
        m.update(c)
        m["extract.mentions_per_span"] = (
            c.get("extract.mentions", 0) / max(c.get("extract.spans", 0), 1))
        m["canonicalize.resolved_ratio"] = (
            (c.get("canonicalize.match_exact", 0)
             + c.get("canonicalize.match_lsh", 0))
            / max(steps[-1].rows.get("canonicalize", 0), 1))
        m["operators.dedup.verified_per_candidate"] = (
            c.get("operators.dedup.verified", 0)
            / max(c.get("operators.dedup.candidates", 0), 1))
        m["traced.wall_s"] = _median([s.traced_wall for s in steps])
        m["untraced.wall_s"] = _median([s.untraced_wall for s in steps])
        m["tracing_overhead_s"] = _median(
            [s.traced_wall - s.untraced_wall for s in steps])
        m["traced.layer_share"] = _median(
            [sum(s.wall.values()) / s.traced_wall for s in steps])
    for fn, st in kernel_replay(wl.kernel_docs()).items():
        if fn in KERNEL_FNS:
            m[f"kernel.{fn}.self_s"] = st["self_s"]
            m[f"kernel.{fn}.calls"] = st["calls"]
    return {"metrics": m, "samples": len(steps)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the benchmark's own smoke tests")
    args = ap.parse_args(argv)
    try:
        import jerex_spark  # noqa: F401  the program under test
        from kgbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"kgbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.size)
    print(result.pop("summary"))
    print(json.dumps(result))
    return 0


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full") -> dict:
    """One benchmark run; returns the result object plus a ``summary``
    text.  Sets the process environment the session and its workers
    inherit, so call it once per process."""
    from kgbench.host import bandwidth_gbps
    from kgbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".kgbench_run",
                        f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    # scratch space inside the working directory; Python workers must
    # import the repository, and the session runs on local[nproc]
    env = {"TMPDIR": f"{work}/tmp", "SPARK_LOCAL_DIRS": f"{work}/local",
           "SPARK_GRAFT_CPUS": str(nproc),
           "PYTHONPATH": os.pathsep.join(
               p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)}
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        gbps_before = bandwidth_gbps()
        wl = WORKLOADS[workload](seed, size, work)
        wl.compute_reference(nproc)
        tally = Tally()
        res = (run_traced if trace else run_untraced)(wl, work, seconds,
                                                      tally)
        gbps_after = bandwidth_gbps()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass    # another run still uses it

    units = per_layer_units() if trace else END_TO_END
    record = {"workload": workload, "seed": seed, "size": size,
              "fingerprint": wl.fingerprint, "items": wl.items,
              "trace": int(trace), "samples": res["samples"],
              "nproc": nproc, "host_gbps_before": round(gbps_before, 2),
              "host_gbps_after": round(gbps_after, 2),
              "failed_ratio": tally.failed / max(tally.attempted, 1),
              "errors": tally.errors[:5]}
    shown = TRACE_SUMMARY if trace else END_TO_END
    lines = [f"{k} {res['metrics'][k]:.6g} {units[k]}" for k in shown]
    lines.append(f"failed_ratio {record['failed_ratio']:.6g} ratio "
                 f"({tally.failed} failed of {tally.attempted} attempted; "
                 f"timings are medians of {res['samples']} passes)")
    lines.append("record " + json.dumps(record))
    return {"summary": "\n".join(lines),
            "correct": tally.failed == 0 and tally.attempted > 0,
            "attempted": max(tally.attempted, 1), "failed": tally.failed,
            "metrics": {k: {"value": res["metrics"][k], "unit": u}
                        for k, u in units.items()}}


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _adopt_orphans() -> None:
    """Make this process a child subreaper, so that a process whose
    parent ends first (a Python worker of the JVM's pyspark daemon) is
    handed to this process rather than to init, and ``_reap_children``
    can wait for it."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)      # PR_SET_CHILD_SUBREAPER


def _reap_children(grace: float = 10.0) -> None:
    """Stop the multiprocessing resource tracker (started by the
    reference pool; it ignores SIGTERM), then wait until this process
    has no child left: live children get SIGTERM at once and SIGKILL
    after ``grace`` seconds."""
    from kgbench.host import children
    if "multiprocessing.resource_tracker" in sys.modules:
        from multiprocessing import resource_tracker
        resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    sent = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return          # no child left
        if pid:
            continue
        sig = signal.SIGKILL if time.monotonic() > deadline \
            else signal.SIGTERM
        if sig != sent:
            for kid in children(os.getpid()):
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


if __name__ == "__main__":
    _adopt_orphans()
    try:
        sys.exit(main())
    finally:
        try:
            if "pyspark" in sys.modules:
                _stop_jvm()
        finally:
            _reap_children()
