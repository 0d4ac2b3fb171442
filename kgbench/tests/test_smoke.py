"""Tiny-size runs of each workload through the command, the printed
metric names against BENCHMARK.json, and the correctness checks
catching a wrong output.

    python3 -m pytest kgbench/tests -q        (about five minutes)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
WORKLOADS = ("bulk_crawl", "dedup_family")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module", params=[(w, t) for w in WORKLOADS
                                        for t in (0, 1)],
                ids=lambda p: f"{p[0]}-trace{p[1]}")
def tiny_run(request):
    workload, trace = request.param
    proc = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return workload, trace, lines, json.loads(lines[-1])


def test_tiny_run_is_correct(tiny_run):
    _w, _t, _lines, res = tiny_run
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1


def test_metric_names_match_benchmark_json(tiny_run):
    _w, trace, _lines, res = tiny_run
    spec = _bench()["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(res["metrics"][m["name"]]["value"], (int, float))


def test_record_line_carries_seed_and_fingerprint(tiny_run):
    workload, trace, lines, _res = tiny_run
    rec = json.loads(next(x for x in lines if x.startswith("record "))[7:])
    assert rec["workload"] == workload and rec["seed"] == 7
    assert len(rec["fingerprint"]) == 16 and rec["host_gbps_before"] > 0
    assert rec["failed_ratio"] == 0


def test_traced_run_attributes_its_layers(tiny_run):
    workload, trace, _lines, res = tiny_run
    if not trace:
        pytest.skip("per-layer metrics come from the traced run")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["traced.wall_s"] > 0 and m["untraced.wall_s"] > 0
    if workload == "bulk_crawl":
        for layer in ("sources", "corpus", "pipeline", "extract",
                      "canonicalize", "graph"):
            assert m[f"{layer}.jobs"] >= 1 and m[f"{layer}.wall_s"] > 0
        assert m["kernel.encode.calls"] >= 1
        assert m["kernel.relations.calls"] >= 1
        assert m["extract.rows_out"] > 0
        assert m["canonicalize.match_exact"] > 0
    else:
        assert all(m[f"operators.{q}.jobs"] >= 1 for q in (
            "dedup_exact", "ngram_jaccard", "canon_gazetteer"))
        assert m["operators.dedup.candidates"] > 0
    assert 0.5 < m["traced.layer_share"] <= 1.0


def test_generators_are_seeded():
    sys.path.insert(0, ROOT)
    from kgbench import gen
    a = gen.fingerprint({"p": gen.make_pages(3, 30)})
    assert a == gen.fingerprint({"p": gen.make_pages(3, 30)})
    assert a != gen.fingerprint({"p": gen.make_pages(4, 30)})
    d = gen.make_documents(3, 300)
    assert d.text.duplicated().any()
    assert gen.make_alias(3, 100).alias.is_unique


def test_checks_catch_wrong_output(tmp_path, monkeypatch):
    """Each workload's check passes on the program's output and fails
    once the expected result is perturbed."""
    sys.path.insert(0, ROOT)
    monkeypatch.setenv("PYTHONPATH", ROOT)
    from jerex_spark.session import build_session
    from kgbench.workloads import BulkCrawl, DedupFamily
    spark = build_session(app="kgbench-test", master="local[2]", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path / "wh")})
    try:
        bulk = BulkCrawl(5, "tiny", str(tmp_path))
        bulk.compute_reference(2)
        assert bulk.check_once(spark) == (1, [])
        bulk.run_pass(spark, str(tmp_path / "out"))
        assert bulk.check_output(str(tmp_path / "out")) == []
        bulk.ref_counts = bulk.ref_counts + Counter({"works_at": 1})
        assert len(bulk.check_output(str(tmp_path / "out"))) == 1

        dd = DedupFamily(5, "tiny", str(tmp_path / "dd"))
        dd.compute_reference(1)
        dd.run_pass(spark, "")
        assert dd.check_output("") == []
        cols, rows = dd.expected["dedup_exact"]
        dd.expected["dedup_exact"] = (cols, rows[1:])
        dd.run_pass(spark, "")
        assert len(dd.check_output("")) == 1
    finally:
        spark.stop()
