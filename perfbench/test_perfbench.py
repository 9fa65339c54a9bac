"""The benchmark's own checks: a tiny run prints every metric that
BENCHMARK.json names, with its unit, and a corrupted output fails the run.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case launches ``perfbench/run.py`` in a subprocess (one Spark JVM
per case, about a minute each on a 4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(*extra: str) -> tuple[dict, str]:
    cmd = [
        sys.executable,
        os.path.join(ROOT, *SPEC["command"][1:]),
        "--workload",
        SPEC["workloads"][0]["name"],
        "--seed",
        "7",
        "--seconds",
        "1",
        "--scale",
        "0.05",
        *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def _assert_metrics(result: dict, spec: list[dict]):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
        assert v["value"] == v["value"], f"{name} is NaN"


@pytest.mark.parametrize("trace, key", [(0, "end_to_end"), (1, "per_layer")])
def test_tiny_run_prints_every_metric(trace, key):
    result, log = run_bench("--trace", str(trace))
    assert result["correct"] is True, log[-3000:]
    assert result["failed"] == 0
    assert result["attempted"] >= 1
    _assert_metrics(result, SPEC[key])
    if trace:
        assert result["metrics"]["spark.python_nodes"]["value"] == 0


def test_corrupted_output_fails_the_run():
    result, log = run_bench("--trace", "0", "--corrupt")
    assert result["correct"] is False
    assert result["failed"] > 0
    assert '"errors": ["flagship: ' in log
