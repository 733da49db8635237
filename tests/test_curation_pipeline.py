"""The composed curation pipeline: tools/run_curation.py must (a) be
resumable — a second run drains the stage todo set to zero — and (b)
commit per-stage counts/checksums that EXACTLY match the rows of the
oracle-verified curation_pipeline_counts catalog query, so the
resumable job is hash-pinned to the contract stage by stage."""

import json
import os
import subprocess
import sys

from sentinel2_crop_trait_timeseries_spark.catalog import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _run(tmp_path):
    env = dict(os.environ)
    args = [
        sys.executable, os.path.join(REPO, "tools", "run_curation.py"),
        "--sf-dir", SF,
        "--output", str(tmp_path / "stages"),
        "--manifest", str(tmp_path / "manifest"),
    ]
    return subprocess.run(
        args, cwd=REPO, env=env, capture_output=True, text=True, timeout=900
    )


def test_curation_pipeline_resumes_and_matches_contract(spark, tmp_path):
    first = _run(tmp_path)
    assert first.returncode == 0, first.stderr[-4000:]
    assert "stages todo=5/5" in first.stdout, first.stdout
    for stage in ("quality", "dedup_canonical", "decontaminated",
                  "packed", "sharded"):
        assert f"committed stage={stage}" in first.stdout, first.stdout

    second = _run(tmp_path)
    assert second.returncode == 0, second.stderr[-4000:]
    assert "stages todo=0/5" in second.stdout, second.stdout
    assert "nothing to do" in second.stdout, second.stdout

    # per-stage counts + checksums == the oracle-verified contract rows
    contract = {
        r["stage"]: (r["n_out"], r["checksum"])
        for r in QUERIES["curation_pipeline_counts"]["fn"](spark, SF).collect()
    }
    manifest = spark.read.parquet(str(tmp_path / "manifest"))
    committed = {}
    for r in manifest.collect():
        lineage = json.loads(r["lineage"])
        committed[r["partition_key"]] = (
            r["rows_rolled"], lineage["params"]["checksum"]
        )
    for stage in ("quality", "dedup_canonical", "decontaminated",
                  "packed", "sharded"):
        assert committed[stage] == contract[stage], (
            stage, committed[stage], contract[stage]
        )
