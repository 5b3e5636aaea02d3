"""Tiny-scale runs of every workload through the command's own entry
point: each prints one JSON result with every metric it promises."""

import json
import os

import pytest

from perfbench import run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _result(capsys) -> dict:
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-1])


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "CORPUS_PAGES", 300)
    monkeypatch.setattr(workloads, "TABLE_ROWS",
                        {"documents": 200, "lineitem": 2_000})
    monkeypatch.setattr(workloads, "MIN_ROUNDS",
                        {"corpus_store": 1, "query_suite": 1})
    monkeypatch.setattr(workloads, "WARMUP_PASSES", 1)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_end_to_end_run(tiny, capsys, workload):
    code = run.main(["--workload", workload, "--seed", "7", "--seconds", "0"])
    assert code == 0
    res = _result(capsys)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == set(run.END_TO_END)
    for name, m in res["metrics"].items():
        assert m["unit"] == run.END_TO_END[name]
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload,layers", [
    ("corpus_store", ("agg.partial_count", "sql_build.rows", "rollup.files")),
    ("query_suite", ("plans.suite_s", "jobs.spark_jobs", "jobs.wall_sec")),
])
def test_traced_run_reports_every_layer_metric(tiny, capsys, workload, layers):
    code = run.main(["--workload", workload, "--seed", "7",
                     "--seconds", "0", "--trace", "1"])
    assert code == 0
    res = _result(capsys)
    assert set(res["metrics"]) == set(run._per_layer_names())
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs"] > 0
    for name in layers:
        assert m[name] > 0, name
    out = os.path.join(ROOT, ".perfbench_out", f"{workload}-s7-t1", "trace.json")
    with open(out) as f:
        spans = json.load(f)["spans"]
    assert any(s["spark"] for s in spans)
    assert all("self_s" in s for s in spans)


def test_refuses_to_run_without_the_program(monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", os.path.join(ROOT, "perfbench"))
    assert run.main(["--workload", "query_suite", "--seed", "1",
                     "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""
