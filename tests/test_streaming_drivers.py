"""Every streaming driver stops the queries it starts and leaves only the
directories its returned frame reads: each directory that appears under
the temp directory during a call is gone afterwards, or is the process's
scratch root holding parents of ``inputFiles()``. The catalog queries
also equal their DuckDB oracles (streaming_dedup_probe sits inside the
``__spark_entry__`` contract window, which test_tail_contract skips),
and the checkpoint-resumed CUSUM run equals the one-shot run's oracle."""

import os
import sys
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlparse

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sentinel2_crop_trait_timeseries_spark import streaming  # noqa: E402
from sentinel2_crop_trait_timeseries_spark.catalog import QUERIES  # noqa: E402
from sentinel2_crop_trait_timeseries_spark.streaming import (  # noqa: E402
    cusum_stream,
    rollup_stream,
)
from tools.check_contract import compare  # noqa: E402

SF = "/root/testdata/sf0.001"
CATALOG = [q for q in QUERIES if q.startswith("streaming_")]


def _stateful(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.coalesce(1).write.parquet(str(tmp_path / "in"))
    return rollup_stream.run_stateful_stream_once(
        spark, str(tmp_path / "in"), ev.schema
    )


DRIVERS = {q: lambda s, _, q=q: QUERIES[q]["fn"](s, SF) for q in CATALOG}
DRIVERS["run_cusum_stream_resumable"] = (
    lambda s, _: cusum_stream.run_cusum_stream_resumable(s, SF)
)
DRIVERS["run_stateful_stream_once"] = _stateful
ORACLE = {q: QUERIES[q]["sql"] for q in CATALOG}
ORACLE["run_cusum_stream_resumable"] = QUERIES["streaming_cusum_state"]["sql"]


def _entries():
    """Entries of the temp directory and of the scratch root."""
    tmp, root = tempfile.gettempdir(), getattr(streaming, "_ROOT", None)
    found = {os.path.join(tmp, n) for n in os.listdir(tmp)}
    if root and os.path.isdir(root):
        found |= {os.path.join(root, n) for n in os.listdir(root)}
    return found


@pytest.mark.parametrize("name", DRIVERS)
def test_driver_stops_queries_and_keeps_only_its_sink(spark, tmp_path, name):
    before = _entries()
    df = DRIVERS[name](spark, tmp_path)
    assert not spark.streams.active
    root = getattr(streaming, "_ROOT", None)
    read = [urlparse(f).path for f in df.inputFiles()]
    for p in _entries() - before - {root}:
        assert os.path.dirname(p) == root, f"{p} is outside the scratch root"
        assert any(f.startswith(p + os.sep) for f in read), (
            f"{p} is not read by the returned frame"
        )
    if name in ORACLE:
        con = duckdb.connect()
        for t in ("events", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
            )
        err = compare(df.toPandas(), con.execute(ORACLE[name]).df())
        assert err is None, f"{name}: {err}"


def test_scratch_root_is_made_once_under_threads(monkeypatch, tmp_path):
    monkeypatch.setattr(streaming, "_ROOT", None)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    start = threading.Barrier(16)

    def call(_):
        start.wait(timeout=10)
        return streaming.scratch_dir("t_")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            made = list(pool.map(call, range(16), timeout=30))
    finally:
        sys.setswitchinterval(interval)
    root = streaming._ROOT
    assert os.listdir(tmp_path) == [os.path.basename(root)]
    assert len(set(made)) == 16
    assert all(os.path.dirname(d) == root for d in made)
