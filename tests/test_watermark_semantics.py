"""Watermark late-data semantics, pinned deterministically.

The survey's streaming row #80 ("late/bad-data quality filter") is
implemented by watermarks on every streaming aggregate; this test
proves the watermark actually bounds state by dropping too-late rows,
and pins the EXACT drop set for a fixed out-of-order delivery.

Measured Spark behavior worth pinning (probed on this engine, 4-batch
fixture): the late-DATA filter in batch N uses the watermark computed
through batch N-2 — one batch LATER than the watermark the progress
log reports for batch N. Practical consequence at 100 TB: a late row
can still be accepted in the first batch after the watermark passes
its window; by the following batch it is reliably dropped. Tests (and
operational expectations) must allow that one-batch grace.

Delivery order (mtime-pinned, one file per trigger):
  batch 0: hours 10-11 data         -> wm after: 10:59
  batch 1: hour 14 data             -> wm after: 13:30
  batch 2 (late): 10:15 and 13:45   -> filter still at 10:59: BOTH kept
  batch 3 (late): 10:45 and 12:15   -> filter now 13:30: BOTH dropped
"""

import datetime
import os

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.streaming import run_available
from sentinel2_crop_trait_timeseries_spark.streaming.rollup_stream import (
    streaming_hourly_rollup,
)


def _ev(eid, hh, mm, v=1.0):
    return Row(
        event_id=eid,
        ts=datetime.datetime(2024, 1, 1, hh, mm),
        user_id=1,
        event_type="view",
        value=v,
        props="{}",
    )


_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_watermark_drops_exactly_the_too_late_rows(spark, tmp_path):
    chunks = [
        [_ev(1, 10, 0), _ev(2, 10, 30), _ev(3, 11, 59)],
        [_ev(4, 14, 0), _ev(5, 14, 30)],
        [_ev(6, 10, 15), _ev(7, 13, 45)],
        [_ev(8, 10, 45), _ev(9, 12, 15)],
    ]
    in_dir = str(tmp_path)
    for i, rows in enumerate(chunks, 1):
        p = os.path.join(in_dir, f"chunk_{i:02d}")
        spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(p)
        t = 1_700_000_000 + i
        for root, _d, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(p, (t, t))

    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(in_dir)
    )
    updates = []
    run_available(
        streaming_hourly_rollup(stream, watermark="1 hour")
        .writeStream.foreachBatch(
            lambda b, i: updates.extend(
                (i, r["h"], r["n"])
                for r in b.select(
                    F.hour("win.start").alias("h"), "n"
                ).collect()
            )
        )
        .outputMode("update")
    )

    final = {}
    for _i, h, n in updates:
        final[h] = max(final.get(h, 0), n)
    # batch-2 late rows both accepted (filter one batch behind the
    # reported watermark): hour 10 reaches 3, hour 13 appears late
    assert final == {10: 3, 11: 1, 13: 1, 14: 2}
    # batch-3 late rows both DROPPED once the 13:30 watermark is in
    # effect: no batch-3 updates at all, and hour 12 never exists
    assert not [u for u in updates if u[0] == 3]
    assert 12 not in final
    # the engine never un-counts: every update per hour is monotone
    for h in final:
        seq = [n for _i, hh, n in updates if hh == h]
        assert seq == sorted(seq)
