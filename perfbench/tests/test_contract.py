"""BENCHMARK.json lists exactly the workloads and metrics the benchmark runs
and prints."""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workloads_exist():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(gen.WORKLOADS)
    assert all(set(w) == {"name", "why"} and "\n" not in w["why"] for w in spec["workloads"])


def test_metrics_match_what_is_printed():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m


def test_bounds():
    e2e = {m["name"]: m for m in _spec()["end_to_end"]}
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_command_stays_inside_paths():
    spec = _spec()
    assert spec["command"][0] == "python3"
    assert spec["command"][1].startswith(spec["paths"][0] + "/")
