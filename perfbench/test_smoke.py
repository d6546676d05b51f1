"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

For every workload in ``BENCHMARK.json``: a traced run passes its checks
and prints every per-layer metric with its unit, and a run with one
output deliberately corrupted prints every end-to-end metric with its
unit and reports a failure, so the checks fail closed. Each run starts
its own Spark session (about a minute per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, *flags: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--smoke", *flags],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, spec: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["metrics"] == {
        m["name"]: {"value": result["metrics"][m["name"]]["value"], "unit": m["unit"]}
        for m in spec
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_passes_and_prints_every_layer_metric(workload):
    result = _run(workload, "--trace", "1")
    _assert_metrics(result, SPEC["per_layer"])
    assert result["correct"] and result["failed"] == 0


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_output_fails_closed(workload):
    result = _run(workload, "--trace", "0", "--corrupt")
    _assert_metrics(result, SPEC["end_to_end"])
    assert not result["correct"] and result["failed"] > 0
