"""Structured Streaming rollup: the hourly tier as a watermarked
windowed aggregation.

The reference is pure batch, but its temporal semantics map 1:1 onto
Structured Streaming (SURVEY.md §2.9): hourly bucketing of irregular
observations == a tumbling event-time window; late scenes == late data
bounded by a watermark. This module exposes the finest rollup tier as a
streaming query so the engine can materialize continuous aggregates
incrementally as new sequence files land, instead of re-running batch
rollups.

At scale: the streaming agg keeps per-(key, window) state; the
watermark bounds state size (windows older than max_event_time -
delay are finalized and evicted). Output goes to the tier's parquet/
Iceberg path in append mode; here tests/oracle use availableNow + a
memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.operators.rollup import _bucket_sec
from sentinel2_crop_trait_timeseries_spark.streaming import (
    file_stream,
    run_available,
    scratch_dir,
)


def streaming_hourly_rollup(
    stream: DataFrame,
    keys: list[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window hourly aggregate over a stream."""
    v = F.col(value_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.window(ts_col, "1 hour").alias("win"))
        .agg(
            F.count(v).alias("n"),
            F.sum(v).alias("sum_value"),
            F.avg(v).alias("mean_value"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
        )
    )


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # event time must be TIMESTAMP (not NTZ); session tz is UTC
    return file_stream(spark, sf_dir, "events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _memory_rollup(spark: SparkSession, sf_dir: str, rollup,
                   name: str) -> DataFrame:
    """Stream the events file through ``rollup`` to completion
    (availableNow) into the memory table ``name``; return that table.

    Complete output mode so every window is emitted regardless of the
    final watermark position (matches the batch/oracle result exactly).
    """
    run_available(
        rollup(_event_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name)


def run_file_stream_once(
    spark: SparkSession, sf_dir: str, query_name: str = "s2tt_stream_hourly"
) -> DataFrame:
    """The hourly tier per event_type as a streaming aggregate
    (``streaming_hourly_rollup``), returned as a batch frame."""
    return _memory_rollup(spark, sf_dir, streaming_hourly_rollup, query_name)


def streaming_session_rollup(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time SESSION windows over a stream: per-key activity
    bursts separated by >= gap of silence, via ``F.session_window``
    (dynamic-length windows that merge as events arrive — the
    streaming twin of the batch ``sessionize`` gaps-and-islands
    query). State per open session is one running aggregate; the
    watermark closes and evicts sessions whose end fell behind
    max_event_time - delay."""
    v = F.col(value_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key, F.session_window(F.col(ts_col), gap).alias("sw"))
        .agg(F.count(v).alias("n"), F.sum(v).alias("sum_value"))
    )


def run_session_stream_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (``streaming_session_rollup``) as a
    streaming aggregate, returned as a batch frame."""
    return _memory_rollup(
        spark, sf_dir, streaming_session_rollup, "s2tt_stream_sessions"
    )


def run_cascade_stream_once(
    spark: SparkSession, sf_dir: str, tier: str = "daily"
) -> DataFrame:
    """Streaming CASCADE tiers: the daily AND weekly rollups fed FROM
    the hourly streaming aggregate — the streaming twin of the batch
    cascade (operators/rollup.py): raw rows are touched only by the
    hourly streaming state; coarser tiers re-aggregate the (small)
    finer partials inside ``foreachBatch`` with algebraic merges
    (sum-of-sums, min-of-mins, mean = sum/n at the end), the
    hierarchical re-aggregation of SURVEY §2.4 now with a full
    streaming twin (hourly state -> daily -> weekly, each tier built
    from the one below, exactly like the batch cascade). Weekly
    buckets use the batch convention (Monday-anchored epoch
    arithmetic, rollup._bucket_sec), not F.window's Thursday-anchored
    7-day windows. foreachBatch sees the complete-mode hourly
    aggregate each trigger and overwrites both tier paths; the last
    availableNow trigger leaves the final answer. At scale the same
    shape appends finalized (watermark-expired) hourly windows and
    MERGEs the tiers instead of overwriting. Both tier sinks are plain
    parquet paths (no metastore) in one fresh scratch directory per
    call; the returned frame reads its tier lazily, so the directory
    stays until the process exits. Returns the requested ``tier``
    ("daily"/"weekly")."""
    out = scratch_dir("s2tt_stream_cascade_")
    paths = {t: f"{out}/{t}" for t in ("daily", "weekly")}
    hourly = streaming_hourly_rollup(_event_stream(spark, sf_dir))
    merged = (
        F.sum("n").alias("n"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )

    def reagg(batch_df: DataFrame, batch_id: int) -> None:
        daily = (
            batch_df.groupBy(
                "event_type",
                F.window(F.col("win.start"), "1 day").alias("day"),
            )
            .agg(*merged)
            .select(
                "event_type",
                F.col("day.start").cast("long").alias("bucket_ts"),
                "n", "sum_value", "min_value", "max_value",
            )
        )
        daily.write.mode("overwrite").parquet(paths["daily"])
        d = spark.read.parquet(paths["daily"])  # weekly re-aggs the tier below
        week_ts = _bucket_sec(F.col("bucket_ts"), "week")
        d.groupBy("event_type", week_ts.alias("bucket_ts")).agg(
            *merged
        ).write.mode("overwrite").parquet(paths["weekly"])

    run_available(
        hourly.writeStream.foreachBatch(reagg).outputMode("complete")
    )
    return spark.read.parquet(paths[tier])


# ---------------------------------------------------------------------
# Custom stateful operator: running per-key accumulation across
# micro-batches (applyInPandasWithState)
# ---------------------------------------------------------------------

import pandas as pd  # noqa: E402
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout  # noqa: E402

RUNNING_SCHEMA = "user_id long, n long, sum_value double"
RUNNING_STATE = "n long, sum_value double"


def running_totals(stream: DataFrame, key: str = "user_id",
                   value_col: str = "value") -> DataFrame:
    """Stateful streaming accumulator: per-key running (count, sum)
    carried across micro-batches in GroupState — the engine's analog of
    the reference's obs-to-obs sequential state (EnKF analysis carried
    to the next segment, SURVEY.md §2.9). Arrow-batched per group; the
    state is a 2-number tuple, so state size is O(keys), bounded.
    """

    def update(key_tuple, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key_tuple[0]], "n": [n], "sum_value": [s]})

    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=RUNNING_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_stream_once(spark: SparkSession, input_dir: str,
                             schema, query_name: str = "s2tt_running"
                             ) -> DataFrame:
    """Drive running_totals over a file stream one file per micro-batch
    (so state genuinely carries across batches); return all updates."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_available(
        running_totals(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
    )
    return spark.table(query_name)
