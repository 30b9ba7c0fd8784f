"""Smoke test of the benchmark at its small input size.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced (one Spark session each, about a
minute per case on 4 cores) and checks that every output check passes and
that the metric names printed equal those in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_metrics_and_checks(workload: str, trace: int) -> None:
    result, lines = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert not [line for line in lines if line.startswith("check ") and not line.endswith(" ok")]
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    printed = {line.split()[1] for line in lines if line.startswith("metric ")}
    assert {m["name"] for m in SPEC["end_to_end"]} <= printed
    if trace:
        assert os.path.exists(os.path.join(HERE, "out", f"spans-{workload}-seed7.jsonl"))
