"""Toy-scale smoke test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload must complete untraced and traced and print every metric
``BENCHMARK.json`` names with its unit; a deliberately corrupted output
must fail the run; without the program beside it the benchmark must fail
without printing a result. Takes a few minutes (one Spark JVM per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--seed", "7", "--seconds", "1", "--scale", "toy", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload, trace):
    rc, res = bench("--workload", workload, "--trace", str(trace))
    assert rc == 0 and res is not None
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_the_check(workload):
    rc, res = bench("--workload", workload, "--trace", "0", "--corrupt-output")
    assert rc != 0
    assert res is not None and res["correct"] is False and res["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, res = bench("--workload", WORKLOADS[0], "--trace", "0",
                    cwd=str(tmp_path))
    assert rc != 0 and res is None
