"""Every script the repo keeps must import cleanly. bench.py's host probe
swallows any exception from ``tools.bench_scaling_calibrated`` and
reports -1.0, so a broken import there would otherwise go unnoticed."""

import glob
import importlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_and_tools_import():
    sys.path.insert(0, REPO)
    importlib.import_module("bench")
    names = sorted(
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(REPO, "tools", "*.py"))
    )
    for name in names:
        importlib.import_module(f"tools.{name}")
    cal = importlib.import_module("tools.bench_scaling_calibrated")
    assert callable(cal.probe_capacity)
