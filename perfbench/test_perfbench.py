"""Tests of the benchmark harness: span arithmetic, counter folding, the
metric names against BENCHMARK.json, and a smoke run of both modes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import layers  # noqa: E402
import run  # noqa: E402


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: [1, 5] is covered once
        _span(3, 0, 7.0, 8.0),
        _span(4, 3, 7.0, 7.5),
        _span(5, 0, 9.5, 12.0),  # runs past its parent: clipped at 10
    ]
    st = layers.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(0.5)


def test_self_times_sum_to_root_duration():
    tracer = layers.Tracer()
    with tracer.span("run"):
        with tracer.span("pass"):
            with tracer.span("query"):
                with tracer.span("build"):
                    pass
                with tracer.span("execute"):
                    pass
    spans = tracer.spans
    assert [s["parent"] for s in spans] == [None, 0, 1, 2, 2]
    report = layers.span_report(spans)
    assert sum(s["self_s"] for s in report) == pytest.approx(report[0]["dur_s"])


def test_read_schema_columns_keeps_top_level_names():
    body = "a:bigint,b:array<struct<x:int,y:string>>,c:decimal(10,2),d:map<string,int>"
    assert layers.read_schema_columns(body) == ["a", "b", "c", "d"]


def test_metric_bytes_parses_spark_size_metrics():
    assert layers._metric_bytes("1.5 KiB") == 1536
    assert layers._metric_bytes("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)") == 2 << 20
    assert layers._metric_bytes("12") == 0


def test_group_counters_folds_only_the_groups_jobs():
    snap = {
        "jobs": [
            {"jobId": 1, "jobGroup": "p0:q:build", "stageIds": [1]},
            {"jobId": 2, "jobGroup": "p0:q:execute", "stageIds": [1, 2]},
            {"jobId": 3, "jobGroup": "p2:q:execute", "stageIds": [3]},
        ],
        "stages": [
            {"stageId": 1, "status": "COMPLETE", "numCompleteTasks": 4, "numFailedTasks": 0,
             "executorRunTime": 400, "executorCpuTime": 2e8, "shuffleWriteBytes": 100,
             "taskMetricsDistributions": {"executorRunTime": [100.0, 130.0]}},
            {"stageId": 1, "status": "SKIPPED", "numCompleteTasks": 0, "numFailedTasks": 0},
            {"stageId": 2, "status": "COMPLETE", "numCompleteTasks": 1, "numFailedTasks": 1,
             "executorRunTime": 600, "executorCpuTime": 3e8, "inputBytes": 50},
            {"stageId": 3, "status": "COMPLETE", "numCompleteTasks": 9, "numFailedTasks": 0},
        ],
        "sql": [
            {"successJobIds": [2], "nodes": [{"metrics": [
                {"name": "data sent to Python workers", "value": "1.0 KiB"},
                {"name": "data returned from Python workers", "value": "2.0 KiB"},
            ]}]},
            {"successJobIds": [3], "nodes": [{"metrics": [
                {"name": "data sent to Python workers", "value": "9.0 KiB"},
            ]}]},
        ],
    }
    c = layers.group_counters(snap, {"p0:q:build", "p0:q:execute"})
    assert c["plans.build_jobs"] == 1
    assert c["sched.jobs"] == 2
    assert c["sched.stages"] == 2
    assert c["sched.tasks"] == 5
    assert c["sched.tasks_failed"] == 1
    assert c["shuffle.write_bytes"] == 100
    assert c["sources.scan_bytes"] == 50
    assert c["exec.run_s"] == pytest.approx(1.0)
    assert c["exec.cpu_frac"] == pytest.approx(0.5)
    assert c["exec.task_skew"] == pytest.approx(1.3)
    assert c["pyworker.bytes_sent"] == 1024
    assert c["pyworker.bytes_received"] == 2048


def test_seed_fixes_the_query_order_of_every_pass():
    wl = run.WORKLOADS["headline"]
    a = run.Run(wl, "unused", seed=5, traced=False)
    b = run.Run(wl, "unused", seed=5, traced=False)
    orders = [a.order() for _ in range(3)]
    assert orders == [b.order() for _ in range(3)]
    assert all(sorted(o) == sorted(wl.queries) for o in orders)
    assert run.Run(wl, "unused", seed=6, traced=False).order() != orders[0]


def test_check_counts_each_failing_query_once(monkeypatch):
    """A query that raised in several executions and one whose result
    differs each count once."""
    import pandas as pd
    import oracle

    class Spec:
        oracle = "select 1"

    wl = run.Workload(("ok", "raises", "differs"), tier="sf0.001", mult=1, min_passes=1)
    r = run.Run(wl, "unused", seed=0, traced=False)
    r.specs = {q: Spec() for q in wl.queries}
    for _ in range(3):
        r._failed("raises", RuntimeError("boom"))
    answer = pd.DataFrame({"x": [1]})
    monkeypatch.setattr(oracle, "OracleCache", lambda *a: type("C", (), {"answer": lambda s, q: answer})())
    results = {"ok": answer, "raises": None, "differs": pd.DataFrame({"x": [2]})}
    assert run.check(r, results) == 2


def _benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_and_workload_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_the_modes_metrics(tmp_path, monkeypatch, capsys, trace):
    """Both modes end to end on the sf0.001 test data, replicated twice,
    with checked results."""
    monkeypatch.setattr(run, "DATA_DIR", str(tmp_path / "data"))
    monkeypatch.setattr(run, "OUT_DIR", str(tmp_path / "out"))
    monkeypatch.setenv("TMPDIR", str(tmp_path))  # main() repoints both
    monkeypatch.delenv("JAVA_TOOL_OPTIONS", raising=False)
    smoke = run.Workload(("q6_forecast_revenue", "wordcount_topk"), tier="sf0.001", mult=2, min_passes=1)
    monkeypatch.setitem(run.WORKLOADS, "smoke", smoke)
    assert run.main(["--workload", "smoke", "--seed", "3", "--seconds", "1", "--trace", str(trace)]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] == 2
    spec = _benchmark_json()
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    if trace:
        assert (tmp_path / "out" / "trace-smoke.json").exists()
        assert result["metrics"]["sched.jobs"]["value"] > 0
