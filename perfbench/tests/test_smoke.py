"""Minimal-length runs of every workload at sf0.001, through the command
line exactly as the benchmark is driven: ``--seconds 0`` times each
workload's own minimum window (report 100 requests, curate 2 passes,
ingest 8 batches), so every check, the op_p90_s tail rule included, runs.
Each starts its own JVM (one to two minutes apiece)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.metrics import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
COUNTS = ["spark.jobs_per_op", "spark.construct_jobs_per_op", "versioned.folds", "dedup.candidate_yield"]


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["report", "curate", "ingest"])
def test_smoke(workload):
    res = run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_counts_repeat():
    """Two same-seed traced runs give identical count metrics. The traced
    curate run also measures the ingest legs, one fold included."""
    a, b = (run("curate", 1) for _ in range(2))
    assert a["correct"] and a["failed"] == 0
    assert {k: v["unit"] for k, v in a["metrics"].items()} == PER_LAYER
    for k in ("spark.jobs_per_op", "dedup.candidate_yield", "versioned.folds", "dedup.persist_s",
              "dedup.screen_s", "dedup.probe_s", "dedup.accept_s", "versioned.compact_s", "ingest.jobs_per_batch"):
        assert a["metrics"][k]["value"] > 0, k
    for k in COUNTS:
        assert a["metrics"][k]["value"] == b["metrics"][k]["value"], k


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "report", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
