#!/usr/bin/env python
"""Dump the formatted physical plan of every catalog query to one text
artifact, so plan audits (pushdown, broadcast, Exchange counts, absence
of CartesianProduct/BNLJ) can be done by reading a committed file
instead of re-running the engine.

Streaming queries are skipped: invoking them RUNS their stream and the
returned frame is the sink read-back, whose plan says nothing about the
streaming execution (their semantics are covered by the oracle gate and
streaming/*.py docstrings). Queries that train iterative chains
(k-means/PQ/BPE) execute their localCheckpoint rounds during plan
construction — at sf0.001 that costs seconds and the dumped plan shows
the checkpointed scan, which is exactly what production would run.

Usage: python tools/dump_plans.py [sf_dir] [out_path]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sentinel2_crop_trait_timeseries_spark.session import get_spark  # noqa: E402

_SKIP_PREFIX = ("streaming_",)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else "bench_results/plans_r5_sf0.001.txt"
    )
    import __spark_entry__ as entry  # noqa: E402

    spark = get_spark("plan_dump", master="local[8]")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    qs = entry.queries()
    names = entry._ordered()
    n_done = n_skip = 0
    with open(out_path, "w") as f:
        f.write(
            f"# Formatted physical plans for {len(names)} catalog queries"
            f" at {sf_dir}\n# (streaming_* skipped: invoking them runs"
            " the stream; see streaming/*.py)\n"
            "# NOTE on BroadcastNestedLoopJoin occurrences: every one is"
            " a broadcast crossJoin\n# attaching a 1-ROW SCALAR (counts,"
            " thresholds, min/max spines) to a stream —\n# the accepted"
            " constant-attach pattern. No data-x-data cartesian exists;"
            "\n# tests/test_plans.py and tests/test_sketch.py assert"
            " that per hot query.\n"
        )
        for name in names:
            if name.startswith(_SKIP_PREFIX):
                f.write(f"\n{'=' * 72}\n## {name}: SKIPPED (streaming)\n")
                n_skip += 1
                continue
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
            # strip the per-run ids (expression ids, exchange plan ids,
            # the session-wide lambda variable counter, temp paths) so
            # two dumps of the same code diff cleanly
            plan = re.sub(r"#\d+L?", "#x", plan)
            plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
            plan = re.sub(r"(lambda \w+?)_\d+#x", r"\1#x", plan)
            plan = re.sub(r"/tmp/\S+", "/tmp/...", plan)
            f.write(f"\n{'=' * 72}\n## {name}\n{plan}\n")
            print(f"{name}: built in {time.perf_counter() - t0:.1f}s")
            n_done += 1
    print(f"wrote {out_path}: {n_done} plans, {n_skip} streaming skipped")


if __name__ == "__main__":
    main()
