"""A resumed tools/run_pipeline.py run keeps every earlier source's
output: the first run sees only some sources, the second run sees all of
them and processes only the rest. Tiers, fits and segments must then
cover every source, and the manifest must hold each source once."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.sources.gen import generate_sequences

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(base, input_path):
    args = [
        sys.executable, os.path.join(REPO, "tools", "run_pipeline.py"),
        "--input", str(input_path),
        "--output", str(base / "tiers"),
        "--fits", str(base / "fits"),
        "--segments", str(base / "segments"),
        "--manifest", str(base / "manifest"),
    ]
    res = subprocess.run(
        args, cwd=REPO, capture_output=True, text=True, timeout=900
    )
    assert res.returncode == 0, res.stderr[-4000:]
    return res.stdout


def _sources(spark, path):
    return {r["source"] for r in
            spark.read.parquet(str(path)).select("source").distinct().collect()}


def test_resumed_run_keeps_earlier_sources(spark, tmp_path):
    seq = generate_sequences(spark, 120, partitions=2)
    all_sources = sorted(
        r["source"] for r in seq.select("source").distinct().collect()
    )
    first = all_sources[: len(all_sources) // 2]
    seq.write.parquet(str(tmp_path / "all"))
    seq.filter(F.col("source").isin(first)).write.parquet(
        str(tmp_path / "some")
    )

    out1 = _run(tmp_path, tmp_path / "some")
    assert f"sources todo={len(first)}/{len(first)}" in out1, out1
    out2 = _run(tmp_path, tmp_path / "all")
    n_rest = len(all_sources) - len(first)
    assert f"sources todo={n_rest}/{len(all_sources)}" in out2, out2

    for table in ("tiers", "fits", "segments"):
        assert _sources(spark, tmp_path / table) == set(all_sources), table
    keys = [r["partition_key"] for r in
            spark.read.parquet(str(tmp_path / "manifest")).collect()]
    assert sorted(keys) == all_sources
