"""Streaming ASOF enrichment: arriving events probe a STATIC keyed
reference index for the latest reading at-or-before their timestamp —
the continuous-ingestion twin of catalog_ts.asof_join_clicks (every
arriving scene row picks up the most recent meteo reading; the meteo
index itself refreshes offline at a slower cadence — reference analog:
src/04_reconstruct_s2_traits.py:216 ``merge_with_meteo`` run
incrementally instead of per-campaign).

Spark shape: the reference index (user_id, ts_us, click_cents) is
deduped, computed once and localCheckpoint-ed; arrivals stream via a
file source and ``foreachBatch`` BROADCASTS each (small) microbatch
against the index with an equi-join on user plus the backward-time
predicate, keeping the max-ts match per arrival. The index — the big
side — never moves; per-arrival work is bounded by that user's own
reference history (same skew contract as the batch union-tag plan).
Results append to a parquet sink, so repeated triggers accumulate
exactly the batch ASOF rows for the same arrival set. The sink is a
scratch directory that the returned frame reads lazily, so it stays
until the process exits (see streaming/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.operators.rollup import _CENTS, _US
from sentinel2_crop_trait_timeseries_spark.streaming import (
    file_stream,
    run_available,
    scratch_dir,
)


def run_asof_stream_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the arrival slice (non-click events with event_id % 10
    == 0) against the static click index; returns the batch-ASOF
    columns (event_id, user_id, event_type, ts_us, click_cents,
    staleness_us) for exactly the arrival rows."""
    index = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.expr(_US).alias("ref_us"),
            F.expr(_CENTS).alias("cents"),
        )
        .groupBy("user_id", "ref_us")
        .agg(F.max("cents").alias("bc"))
        .localCheckpoint(eager=True)
    )

    out_path = scratch_dir("s2tt_stream_asof_")
    stream = file_stream(spark, sf_dir, "events.parquet").filter(
        (F.col("event_type") != "click") & (F.col("event_id") % 10 == 0)
    )

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        arr = batch_df.select(
            "event_id",
            "user_id",
            "event_type",
            F.expr(_US).alias("ts_us"),
        )
        matched = (
            index.alias("b")
            .join(
                F.broadcast(arr.alias("a")),
                (F.col("b.user_id") == F.col("a.user_id"))
                & (F.col("b.ref_us") <= F.col("a.ts_us")),
            )
            .groupBy("a.event_id")
            .agg(
                F.max_by(
                    F.struct("b.ref_us", "b.bc"), F.col("b.ref_us")
                ).alias("m")
            )
            .select(
                "event_id",
                F.col("m.bc").alias("click_cents"),
                F.col("m.ref_us").alias("click_ts_us"),
            )
        )
        out = arr.join(matched, "event_id", "left").select(
            "event_id",
            "user_id",
            "event_type",
            "ts_us",
            "click_cents",
            (F.col("ts_us") - F.col("click_ts_us")).alias("staleness_us"),
        )
        out.write.mode("append").parquet(out_path)

    run_available(stream.writeStream.foreachBatch(probe))
    return spark.read.parquet(out_path)
