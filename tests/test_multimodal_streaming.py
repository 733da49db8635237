"""Multimodal binary plumbing + streaming rollup == batch rollup."""

import pytest
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.operators.multimodal import (
    attach_payload,
    decode_meta,
    decode_pixels,
)
from sentinel2_crop_trait_timeseries_spark.streaming.rollup_stream import (
    run_file_stream_once,
    run_stateful_stream_once,
)

SF = "/root/testdata/sf0.001"


def test_multimodal_meta_byte_exact(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, "hello world")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in decode_meta(attach_payload(df)).collect()}
    assert rows[1]["byte_len"] == 3 and rows[1]["first_byte"] == ord("a")
    assert rows[1]["checksum"] == sum(b"abc")
    assert rows[2]["byte_len"] == 0 and rows[2]["first_byte"] == -1
    assert rows[3]["checksum"] == sum(b"hello world")


def test_decode_pixels_is_stubbed(spark):
    df = attach_payload(
        spark.createDataFrame([(1, "x")], "doc_id long, text string")
    )
    with pytest.raises(NotImplementedError):
        decode_pixels(df)


def test_streaming_equals_batch(spark):
    res = run_file_stream_once(spark, SF, query_name="t_stream")
    got = {
        (r["event_type"], r["win"]["start"]): (r["n"], round(r["sum_value"], 6))
        for r in res.collect()
    }
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(F.count("value").alias("n"), F.sum("value").alias("s"))
    )
    want = {
        (r["event_type"], r["win"]["start"]): (r["n"], round(r["s"], 6))
        for r in batch.collect()
    }
    assert got == want


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet").select("user_id", "ts", "value")
    d = str(tmp_path / "stream_in")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    ev.filter("user_id % 2 = 0").coalesce(1).write.parquet(d)
    ev.filter("user_id % 2 = 1").coalesce(1).write.mode("append").parquet(d)
    updates = run_stateful_stream_once(spark, d, schema=ev.schema,
                                       query_name="t_running")
    # last update per user == full batch aggregate (state carried over)
    up = updates.toPandas()
    final = up.loc[up.groupby("user_id")["n"].idxmax()]
    got = {
        int(r.user_id): (int(r.n), round(r.sum_value, 6))
        for r in final.itertuples()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_sample_frames_boundaries(spark):
    """Frame sampling over payloads pinning the boundary cases: empty
    payload (no frames), shorter-than-one-frame, exact frame multiple,
    and a partial last frame that IS sampled (idx divisible by stride)."""
    import pandas as pd
    from sentinel2_crop_trait_timeseries_spark.operators.multimodal import (
        attach_payload, sample_frames,
    )

    rows = [
        (0, ""),                       # empty -> 0 rows
        (1, "abc"),                    # 3 bytes -> frame 0, len 3
        (2, "x" * 32),                 # exactly 2 frames -> frame 0 only
        (3, "y" * (16 * 4 + 5)),       # frames 0..4; sampled 0 and 4 (len 5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        sample_frames(attach_payload(df))
        .toPandas()
        .sort_values(["doc_id", "frame_idx"])
        .reset_index(drop=True)
    )
    want = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 3],
            "frame_idx": [0, 0, 0, 4],
            "frame_len": [3, 16, 16, 5],
            "frame_sum": [
                sum(b"abc"),
                16 * ord("x"),
                16 * ord("y"),
                5 * ord("y"),
            ],
        }
    )
    pd.testing.assert_frame_equal(
        got.astype({"frame_idx": "int32", "frame_len": "int32"}),
        want.astype({"frame_idx": "int32", "frame_len": "int32"}),
    )


def test_decode_pixels_fake_tiling_and_pooling(spark):
    """Hand-checked fake decode: constant payload -> every pooled pixel
    equals the byte value; 2-byte payload tiles alternately so each
    4x4 block holds 8 of each byte; empty payload -> px 0.0."""
    from sentinel2_crop_trait_timeseries_spark.operators.multimodal import (
        decode_pixels_fake,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"A" * 5)), (2, bytearray(b"AB")), (3, bytearray(b""))],
        "doc_id long, payload binary",
    )
    rows = decode_pixels_fake(df).collect()
    assert len(rows) == 3 * 16  # 4x4 output pixels per doc
    px = {(r["doc_id"], r["br"], r["bc"]): r["px"] for r in rows}
    assert all(px[(1, r, c)] == 65.0 for r in range(4) for c in range(4))
    # doc 2: row-major tiling of "ABAB..." over 16 cols -> each 4x4
    # block has 8 A's + 8 B's -> mean (8*65 + 8*66)/16 = 65.5 exactly
    assert all(px[(2, r, c)] == 65.5 for r in range(4) for c in range(4))
    assert all(px[(3, r, c)] == 0.0 for r in range(4) for c in range(4))
