"""Smoke test of the benchmark at a small input size: every workload runs
once untraced and once traced, prints every metric BENCHMARK.json names
with its unit, and passes every output check. Takes a few minutes:

    python -m pytest perfbench/test_smoke.py -q
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


def run(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.2"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_reports_every_metric(workload, trace):
    report, result = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, report
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [d["name"] for d in declared]
    for d in declared:
        got = result["metrics"][d["name"]]
        assert got["unit"] == d["unit"]
        assert isinstance(got["value"], (int, float))
        assert any(line.startswith(f"{d['name']} ") and line.endswith(f" {d['unit']}")
                   for line in report), d["name"]
    if not trace:
        assert any(line.startswith("fail_ratio 0.0000 ") for line in report)


def test_refuses_to_run_without_the_package(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (tmp_path / "perfbench" / name).write_text(
                open(os.path.join(ROOT, "perfbench", name)).read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fused_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout == ""
