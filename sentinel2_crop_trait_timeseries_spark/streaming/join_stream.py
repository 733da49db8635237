"""Watermarked STREAM-STREAM interval join — the canonical Structured
Streaming operator the rest of the streaming family deliberately
avoids (asof/dedup probes join a stream against a STATIC checkpointed
index; this joins two live streams against each other).

Shape: views and clicks arrive as two file streams; each side carries
a 1-hour watermark and the join condition bounds click time to the
6 hours at-or-before each view (`cts BETWEEN vts - 6h AND vts`). Spark
executes this as StreamingSymmetricHashJoin: both sides buffer rows in
keyed state, and the watermark + time bound let it EVICT state older
than the horizon — without the time bound the state grows forever,
which is the 100 TB failure mode this operator exists to avoid. With
trigger(availableNow) the run drains the source and the append-mode
output equals the batch interval join of the same slices — which is
exactly what the DuckDB oracle computes (catalog_ts.streaming
_interval_join). Output goes to an append-mode memory sink, so a run
leaves no directory behind.

Reference analog: entry point A joins scene observations against the
meteo spine per campaign (src/04_reconstruct_s2_traits.py:216); run
continuously, both sides are streams and the 6-hour bound is the meteo
staleness horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.operators.rollup import _CENTS
from sentinel2_crop_trait_timeseries_spark.streaming import (
    file_stream,
    run_available,
)


def run_interval_join_stream_once(
    spark: SparkSession, sf_dir: str, mod: int = 5
) -> DataFrame:
    """Stream-stream join views (event_id % mod == 0, non-click)
    against clicks within the backward 6-hour horizon per user into the
    memory table ``s2tt_stream_join``; returns exactly the batch
    interval-join rows for the same slices.
    """
    views = (
        file_stream(spark, sf_dir, "events.parquet")
        .filter((F.col("event_type") != "click") & (F.col("event_id") % mod == 0))
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("vts"),
        )
        .withWatermark("vts", "1 hour")
    )
    clicks = (
        file_stream(spark, sf_dir, "events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("cuser"),
            F.col("ts").cast("timestamp").alias("cts"),
            F.expr(_CENTS).alias("click_cents"),
        )
        .withWatermark("cts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = cuser AND "
            "cts >= vts - interval 6 hours AND cts <= vts"
        ),
        "inner",
    ).select(
        "view_id",
        "user_id",
        F.expr("cast(unix_micros(vts) as bigint)").alias("view_ts_us"),
        "click_id",
        F.expr("cast(unix_micros(cts) as bigint)").alias("click_ts_us"),
        "click_cents",
        F.expr(
            "cast(unix_micros(vts) as bigint) - cast(unix_micros(cts) as bigint)"
        ).alias("lag_us"),
    )

    name = "s2tt_stream_join"
    run_available(
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    return spark.table(name)
