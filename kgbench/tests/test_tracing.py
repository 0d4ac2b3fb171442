"""Event-log parsing and self-time arithmetic."""

from __future__ import annotations

import os

import pytest

from kgbench.tracing import KernelTracer, group_metrics, read_events

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _task(stage, launch, finish, run, deser=0, ser=0, getting=0,
          shuffle=0, mem_spill=0, disk_spill=0, gc=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": getting},
            "Task Metrics": {"Executor Run Time": run,
                             "Executor Deserialize Time": deser,
                             "Result Serialization Time": ser,
                             "JVM GC Time": gc,
                             "Memory Bytes Spilled": mem_spill,
                             "Disk Bytes Spilled": disk_spill,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": shuffle}}}


def _job(stages, group):
    props = {} if group is None else {"spark.jobGroup.id": group}
    return {"Event": "SparkListenerJobStart", "Stage IDs": stages,
            "Properties": props}


def test_group_metrics_arithmetic():
    events = [
        _job([0, 1], "p0:extract"),
        # duration 100 - run 60 - deser 10 - ser 5 = 25 ms delay
        _task(0, 1000, 1100, 60, deser=10, ser=5, shuffle=300, gc=7),
        # getting-result window 1190..1200 is not delay: 200-150-10 = 40
        _task(0, 1000, 1200, 150, getting=1190, mem_spill=11,
              disk_spill=4),
        _task(1, 2000, 2010, 10),
        _job([1, 2], "p0:graph"),       # stage 1 stays with p0:extract
        _task(2, 3000, 3030, 30),
        _job([3], None),                # no group: ignored
        _task(3, 4000, 4500, 500),
    ]
    g = group_metrics(events)
    assert set(g) == {"p0:extract", "p0:graph"}
    e = g["p0:extract"]
    assert e["jobs"] == 1 and e["tasks"] == 3
    assert e["executor_run_s"] == pytest.approx(0.220)
    assert e["scheduler_delay_s"] == pytest.approx(0.065)
    assert e["shuffle_write_bytes"] == 300
    assert e["spill_bytes"] == 15
    assert e["gc_s"] == pytest.approx(0.007)
    # stage 0: max 150 / median 105; stage 1 has one task
    assert e["task_skew"] == pytest.approx(150 / 105)
    assert g["p0:graph"]["jobs"] == 1 and g["p0:graph"]["tasks"] == 1
    assert g["p0:graph"]["task_skew"] == 1.0


def test_recorded_event_log():
    """A log recorded from a local[2] session (event fields trimmed to
    the ones read): a persist+count of a 4-split range under
    p0:sources, a groupBy+count of it under p0:graph, then two jobs
    with the group cleared."""
    g = group_metrics(read_events(FIXTURES))
    assert set(g) == {"p0:sources", "p0:graph"}
    src, grp = g["p0:sources"], g["p0:graph"]
    assert (src["jobs"], src["tasks"]) == (3, 9)
    assert (grp["jobs"], grp["tasks"]) == (4, 69)
    assert src["executor_run_s"] == pytest.approx(0.643)
    assert grp["executor_run_s"] == pytest.approx(1.088)
    assert src["scheduler_delay_s"] == pytest.approx(0.229)
    assert grp["scheduler_delay_s"] == pytest.approx(0.585)
    assert (src["shuffle_write_bytes"], grp["shuffle_write_bytes"]) == \
        (236, 3350)
    assert src["spill_bytes"] == grp["spill_bytes"] == 0
    # largest per-stage max/median: stage 0 (116 / 66) and stage 6, the
    # 32 post-shuffle tasks (44 / 10)
    assert src["task_skew"] == pytest.approx(116 / 66)
    assert grp["task_skew"] == pytest.approx(4.4)


def test_read_events_orders_rolling_files(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_2_app").write_text('{"Event": "b"}\n')
    (d / "events_10_app").write_text('{"Event": "c"}\n')
    (d / "events_1_app").write_text('{"Event": "a"}\n')
    (d / "appstatus_app").write_text("")
    assert [e["Event"] for e in read_events(str(tmp_path))] == \
        ["a", "b", "c"]


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children():
    clock = FakeClock()
    tr = KernelTracer(clock)
    with tr.span("relation_stage"):
        clock.t += 1.0
        with tr.span("relations"):
            clock.t += 2.0
        with tr.span("span_maxpool_windows.relctx"):
            clock.t += 0.5
            with tr.span("relations"):
                clock.t += 0.25
        clock.t += 1.0
    with tr.span("relations"):
        clock.t += 4.0
    st = tr.self_times()
    assert st["relation_stage"] == {"self_s": 2.0, "calls": 1}
    assert st["span_maxpool_windows.relctx"] == {"self_s": 0.5, "calls": 1}
    assert st["relations"] == {"self_s": 6.25, "calls": 3}


def test_wrap_names_by_caller_and_restores():
    class Mod:
        @staticmethod
        def pool(x):
            return x + 1

        @staticmethod
        def stage(x):
            return Mod.pool(x) * 2

    orig_pool, orig_stage = Mod.pool, Mod.stage
    tr = KernelTracer()
    with tr.installed():
        tr.wrap(Mod, "pool", lambda stack: "pool." + (
            "ctx" if "stage" in stack else "spans"))
        tr.wrap(Mod, "stage", "stage")
        assert Mod.pool(1) == 2
        assert Mod.stage(1) == 4
    assert Mod.pool is orig_pool and Mod.stage is orig_stage
    assert [s[0] for s in tr.spans] == ["pool.spans", "stage", "pool.ctx"]
    assert tr.self_times()["pool.ctx"]["calls"] == 1
