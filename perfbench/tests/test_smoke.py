"""Smoke check of the benchmark harness at tiny sizes (60 base
conversations, 200 vectors, one warm pass). It checks that every metric
``BENCHMARK.json`` names is printed with its unit, and that the traced
runs write a span for every layer. Takes a few minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
SPAN_KEYS = {"name", "start", "end", "parent", "workload", "run_id"}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    """(run record, result) of one tiny run."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def units(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


@pytest.fixture(scope="module")
def traced() -> dict:
    return {w: run(w, 1) for w in WORKLOADS}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    info, result = run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert units(result) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert info["stamp"]["master"].startswith("local[")


def test_per_layer_metrics_printed_with_units(traced):
    expected = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    for info, result in traced.values():
        assert result["correct"], info["passes"]
        assert units(result) == expected


def test_traced_runs_span_every_layer(traced):
    layers = {m["name"].split(".")[0] for m in BENCH["per_layer"]} - {"trace"}
    seen = set()
    for info, result in traced.values():
        with open(os.path.join(ROOT, info["spans"])) as f:
            spans = json.load(f)
        for span in spans:
            assert SPAN_KEYS <= span.keys() and span["end"] >= span["start"]
        seen |= {span["name"] for span in spans}
        assert result["metrics"]["trace.overhead_ratio"]["value"] > 0
    assert layers <= seen, layers - seen
