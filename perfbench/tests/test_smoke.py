"""Smoke-size runs of the whole command (starts Spark; a few minutes).

Every workload must print a well-formed, correct result line; a faulty sink
wrapper must make the command fail; and the benchmark must refuse to run
without the engine next to it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import report  # noqa: E402


def _run(*extra: str, cwd: str = ROOT, workload: str = "bulk-drain") -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", f"--workload={workload}", "--seed=5", "--seconds=1", *extra],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=200,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    for m in result["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], float)
    return result


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_every_workload_reports_every_end_to_end_metric(workload):
    rc, lines = _run("--trace=0", workload=workload)
    result = _result(lines)
    assert rc == 0 and result["correct"] and result["failed"] == 0
    assert {k: m["unit"] for k, m in result["metrics"].items()} == report.END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_reports_every_per_layer_metric_and_spans():
    rc, lines = _run("--trace=1", workload="trickle")
    result = _result(lines)
    assert rc == 0 and result["correct"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == report.PER_LAYER
    detail = json.loads(lines[-2])["detail"]
    with open(os.path.join(ROOT, detail["spans_file"])) as fh:
        spans = json.load(fh)["spans"]
    names = {s["name"] for s in spans}
    assert {"runner.process_batch", "topology.route", "sink.output.write", "source.trigger"} <= names
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["trace"] == s["trace"] and parent["start"] <= s["start"] + 1e-3


@pytest.mark.parametrize("fault", ["drop-channel", "strip-header"])
def test_faulty_sink_fails_the_command(fault):
    rc, lines = _run("--trace=0", f"--fault={fault}", workload="error-storm")
    result = _result(lines)
    assert rc == 1 and not result["correct"] and result["failed"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    rc, lines = _run("--trace=0", cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)
