"""The benchmark's own tests: pure helpers, then a tiny-size smoke run.

    python3 -m pytest perfbench/tests -q

The smoke run starts one Spark session per workload (a few minutes in
all); the helper tests need no session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.tracing import (EventLog, Tracer, merge_intervals,  # noqa: E402
                               outermost, self_times)
from perfbench.workloads import quantile  # noqa: E402

RUN = os.path.join(ROOT, "perfbench", "run.py")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args, cwd=ROOT, script=RUN):
    return subprocess.run([sys.executable, script, *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


# -- helpers ----------------------------------------------------------------
def test_quantile_interpolates():
    assert quantile([4.0], 0.9) == 4.0
    assert quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == 3.0
    assert quantile(list(range(11)), 0.9) == pytest.approx(9.0)


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "a", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(6.0)  # children cover [1, 5]
    assert st[1] == pytest.approx(2.0)
    assert [r["id"] for r in outermost(spans, "a")] == [0]
    assert merge_intervals([(3, 5), (1, 4), (7, 8)]) == [(1, 5), (7, 8)]


def test_tracer_wraps_and_restores():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer()
    orig = Box.f
    t.wrap(Box, "f", "box.f")
    t.op = "op1"
    assert Box.f(1) == 2
    t.unwrap_all()
    assert Box.f is orig
    (span,) = t.spans
    assert (span["name"], span["op"], t.calls["box.f"]) == ("box.f", "op1", 1)


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Finish Time": 2500},
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor CPU Time": 5e8, "JVM GC Time": 100,
                          "Output Metrics": {"Bytes Written": 42}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    att = EventLog(str(tmp_path)).attribute([(0.5, 4.0)])
    assert (att["jobs"], att["tasks"], att["output_bytes"]) == (1, 1, 42)
    assert att["cpu_s"] == pytest.approx(0.5)
    assert att["driver_gap_s"] == pytest.approx(1.5)  # 3.5 s window, 2 s job


def test_benchmark_json_matches_the_code():
    from perfbench.report import E2E, PER_LAYER
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == list(E2E)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in b["end_to_end"])


def test_query_mix_is_seeded():
    from tests.golden import GoldenIndex
    from tantivy4java_spark.corpus import generate_pandas
    from perfbench.querymix import (CLASS_WEIGHTS, QUERIES_PER_CLASS, QueryMix,
                                    draw_candidates)
    pdf = generate_pandas(0, 300, seed=5)
    pdf["doc_id"] = range(len(pdf))
    g = GoldenIndex(pdf, "doc_id", {"content": "default"},
                    ["repo", "path", "lang", "commit"])
    cands = draw_candidates(g, pdf["path"].tolist(), 5)
    a, b = QueryMix(cands, 7), QueryMix(cands, 7)
    assert [q.text for q in a.schedule(2)] == [q.text for q in b.schedule(2)]
    assert len(a.distinct) == QUERIES_PER_CLASS * len(CLASS_WEIGHTS)
    assert len({q.text for q in a.distinct}) == len(a.distinct)
    sched = a.schedule(4)
    zero = sum(q.cls == "zero_hit" for q in sched)
    assert zero / len(sched) == CLASS_WEIGHTS["zero_hit"] / sum(CLASS_WEIGHTS.values())
    for q in a.distinct:
        assert (q.cls == "zero_hit") == (not q.agg and q.golden["n"] == 0)


# -- tiny end-to-end runs -----------------------------------------------------
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_all_workloads(trace):
    p = _run("--workload", "all", "--size", "tiny", "--seconds", "1",
             "--seed", "3", "--trace", str(trace))
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0, p.stdout[-3000:]
    b = _bench()
    names = [m["name"] for m in b["per_layer" if trace else "end_to_end"]]
    for wl in ("ingest", "query_local", "query_remote"):
        for n in names:
            assert f"{wl}.{n}" in out["metrics"], (wl, n)
    if trace:
        m = out["metrics"]
        assert m["query_local.searcher.local_path_frac"]["value"] == 1.0
        assert m["query_remote.searcher.local_path_frac"]["value"] == 0.0
        assert m["ingest.build.spark_jobs"]["value"] > 0
    else:
        for n in names:
            assert out["metrics"][f"query_local.{n}"]["value"] > 0, n


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".cache", ".traces",
                                                  "__pycache__"))
    p = _run("--workload", "ingest", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path),
             script=str(tmp_path / "perfbench" / "run.py"))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
