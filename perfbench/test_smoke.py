"""Smoke self-test of the benchmark: a few hundred vectors and one round of
ops per workload, untraced and traced.

    python -m pytest perfbench/test_smoke.py -q

Each run must print every metric BENCHMARK.json names, with its unit, pass
every output check, and record the environment it ran in.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke(workload: str, trace: int) -> None:
    report, result = _run(workload, trace)
    wanted = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert report["failed_ops_ratio"] == 0
    assert set(report["end_to_end"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert report["tail_percentile"] > 0 and report["ops"] >= 1
    # every op type's output was checked against its oracle
    ran = {k for k in report["per_key_ops"] if k != "write"}
    assert ran == {c["key"] for c in report["checks"]}
    env = report["env"]
    for k in ("nproc", "SPARK_GRAFT_CPUS", "driver_memory", "spark", "duckdb", "numpy", "git_commit"):
        assert env[k], k
    assert report["seed"] == 3 and report["dataset"]["seed"] == 3
    assert report["dataset"]["poisoned"] > 0
