"""Streaming twins of the continuous aggregates, and the three pieces
every driver shares: the file source (``file_stream``), the availableNow
run (``run_available``) and the scratch directories (``scratch_dir``).

Directories: drivers create every directory with ``scratch_dir``, under
one scratch root per process that is removed, with all it holds, when
the process exits. A driver removes a directory that only one call uses
before it returns; a sink that the returned frame reads lazily stays
until exit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

_ROOT: str | None = None
# catalog queries may run on several driver threads at once
_LOCK = threading.Lock()


def scratch_dir(prefix: str) -> str:
    """A new empty directory under this process's scratch root. The root
    is made on first use, in the temp directory current at that time
    (a caller may set TMPDIR after import), and removed at exit."""
    global _ROOT
    with _LOCK:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="s2tt_scratch_")
            atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
        return tempfile.mkdtemp(prefix=prefix, dir=_ROOT)


def file_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Stream the parquet file ``name`` of ``sf_dir``, with the schema of
    the batch file."""
    schema = spark.read.parquet(f"{sf_dir}/{name}").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", name)
        .parquet(sf_dir)
    )


def run_available(writer) -> None:
    """Start an availableNow query and wait until it has processed every
    file; the query is stopped on the way out even if the wait fails."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
