"""BENCHMARK.json and the metrics the benchmark prints stay in step."""

from __future__ import annotations

import json
import os

from perfbench.metrics import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_the_printed_metrics():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER


def test_benchmark_json_workloads_are_runnable():
    from perfbench.run import parse_args

    for w in _bench()["workloads"]:
        assert parse_args(["--workload", w["name"], "--seed", "1", "--seconds", "1"]).workload == w["name"]


def test_setup_bound_is_the_largest():
    b = _bench()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
