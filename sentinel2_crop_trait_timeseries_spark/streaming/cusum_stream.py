"""Streaming CUSUM: the per-user changepoint recursion of
catalog_ts.cusum_changepoint_user carried ACROSS micro-batches in
GroupState — ordered sequential state, not just mergeable totals
(running_totals in rollup_stream.py carries count/sum, which is
order-insensitive; CUSUM's max(0, ...) recursion is not, so this
operator demonstrates genuine event-order stateful streaming).

Contract: the source must deliver each key's rows in event-time order
across micro-batches (Kafka per-key ordering at scale). The test
harness materializes that contract by chunking the fixture into
time-range files streamed one per trigger (maxFilesPerTrigger=1, file
mtimes pinned so the listing order IS the time order). The per-user
alarm target (doubled exact median, see the batch query) is an
OFFLINE artifact — trained on history, broadcast onto arrivals —
matching how a production monitor deploys a detector.

The oracle is the batch recursive-CTE SQL: a hash match proves the
cross-batch state path reproduces the batch recursion exactly (all
state is BIGINT 2x-cents, so there is no accumulation drift to hide
behind).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sentinel2_crop_trait_timeseries_spark.operators.rollup import _CENTS, _US

OUT_SCHEMA = (
    "user_id long, n_events long, n_over long, first_over_ts_us long, "
    "max_s_x2 long"
)
STATE_SCHEMA = "s long, n_over long, first_ts long, max_s long, n_seen long"


def cusum_stateful(stream: DataFrame, k: int, h: int) -> DataFrame:
    """groupBy(user).applyInPandasWithState CUSUM: state is the exact
    integer 5-tuple (s, n_over, first_ts [-1 = none], max_s, n_seen);
    each batch's rows are sorted by (ts_us, event_id) before the fold,
    and the cross-batch order is the source's per-key delivery order
    (the operator's documented contract)."""

    def update(key_tuple, pdfs, state: GroupState):
        import numpy as np

        s, n_over, first_ts, max_s, n_seen = (
            state.get if state.exists else (0, 0, -1, 0, 0)
        )
        # r6: avoid per-key pandas copies — this function runs once per
        # (key, batch), ~60k times per bench run, so constant overhead
        # dominates. Single-chunk keys skip the concat; the
        # (ts, event_id) sort is one numpy lexsort; the fold walks
        # plain int64 arrays. Same fold, same state, same output.
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        ts = pdf["ts_us"].to_numpy(np.int64)
        eid = pdf["event_id"].to_numpy(np.int64)
        cents = pdf["cents"].to_numpy(np.int64)
        order = np.lexsort((eid, ts))
        ts = ts[order]
        cents = cents[order]
        target = int(pdf["target_x2"].iloc[0])
        for i in range(len(ts)):
            s = max(0, s + (2 * int(cents[i]) - target) - k)
            if s > h:
                n_over += 1
                if first_ts < 0:
                    first_ts = int(ts[i])
            max_s = max(max_s, s)
        n_seen += len(ts)
        state.update((s, n_over, first_ts, max_s, n_seen))
        yield pd.DataFrame(
            {
                "user_id": [key_tuple[0]],
                "n_events": [n_seen],
                "n_over": [n_over],
                "first_over_ts_us": [None if first_ts < 0 else first_ts],
                "max_s_x2": [max_s],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_cusum_stream_once(
    spark: SparkSession,
    sf_dir: str,
    file_name: str = "events.parquet",
    n_chunks: int = 4,
) -> DataFrame:
    """Drive the streaming CUSUM over the events fixture split into
    n_chunks time-range files (one micro-batch each, so state
    genuinely carries across batches); return the FINAL state row per
    user (the last update, selected by max n_seen)."""
    from sentinel2_crop_trait_timeseries_spark.catalog_ts import (
        _CUSUM_H,
        _CUSUM_K,
    )

    e = spark.read.parquet(f"{sf_dir}/{file_name}").select(
        "user_id",
        "event_id",
        F.expr(_US).alias("ts_us"),
        F.expr(_CENTS).alias("cents"),
    )
    # offline detector target: the user's doubled exact median
    lc = e.groupBy("user_id").agg(
        F.sort_array(F.collect_list("cents")).alias("lc")
    )
    n = F.size("lc").cast("long")
    targets = lc.select(
        "user_id",
        (
            F.element_at("lc", ((n + 1) / 2).cast("int"))
            + F.element_at("lc", (n / 2 + 1).cast("int"))
        ).alias("target_x2"),
    ).localCheckpoint(eager=True)

    # time-range chunking: the harness's stand-in for a per-key-ordered
    # source; files written (and mtime-pinned) in time order. r6: ONE
    # partitioned write — the old loop re-executed the global-ntile
    # plan twice per chunk (a filter+write and a dead count), i.e. 8
    # full sorts of the fixture; now the sort runs once and a single
    # task lays out every chunk directory (26 s -> ~13 s at sf1.0).
    in_dir = tempfile.mkdtemp(prefix="s2tt_stream_cusum_")
    ranked = e.withColumn(
        "chunk",
        F.ntile(n_chunks).over(Window.orderBy("ts_us", "event_id")),
    )
    ranked.coalesce(1).write.mode("overwrite").partitionBy("chunk").parquet(
        in_dir
    )
    for c in range(1, n_chunks + 1):
        path = os.path.join(in_dir, f"chunk={c}")
        t = 1_700_000_000 + c
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(path, (t, t))

    # leaf-dir read: recursiveFileLookup on the stream disables
    # partition discovery, so `chunk` stays a directory name, not a
    # column — the per-file schema is unchanged from the old layout
    schema = spark.read.parquet(os.path.join(in_dir, "chunk=1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(in_dir)
        .join(F.broadcast(targets), "user_id")
    )
    name = "s2tt_stream_cusum"
    q = (
        cusum_stateful(stream, _CUSUM_K, _CUSUM_H)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    upd = spark.table(name)
    wfin = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        upd.withColumn("rn", F.row_number().over(wfin))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def run_cusum_stream_resumable(
    spark: SparkSession,
    sf_dir: str,
    file_name: str = "events.parquet",
    n_chunks: int = 4,
    split_at: int = 2,
) -> DataFrame:
    """Checkpoint-recovery twin of run_cusum_stream_once: process the
    first `split_at` chunks, STOP the query, then start a NEW query on
    the same checkpoint + sink after the remaining chunks appear. The
    file source's commit log replays nothing (each chunk is processed
    exactly once) and the state store restores the per-user CUSUM
    5-tuple, so the final per-user state must be identical to the
    one-shot run — the crash/redeploy durability contract of a
    production monitor. Returns the final state row per user."""
    import shutil

    from sentinel2_crop_trait_timeseries_spark.catalog_ts import (
        _CUSUM_H,
        _CUSUM_K,
    )

    e = spark.read.parquet(f"{sf_dir}/{file_name}").select(
        "user_id",
        "event_id",
        F.expr(_US).alias("ts_us"),
        F.expr(_CENTS).alias("cents"),
    )
    lc = e.groupBy("user_id").agg(
        F.sort_array(F.collect_list("cents")).alias("lc")
    )
    n = F.size("lc").cast("long")
    targets = lc.select(
        "user_id",
        (
            F.element_at("lc", ((n + 1) / 2).cast("int"))
            + F.element_at("lc", (n / 2 + 1).cast("int"))
        ).alias("target_x2"),
    ).localCheckpoint(eager=True)

    stage = tempfile.mkdtemp(prefix="s2tt_cusum_stage_")
    live = tempfile.mkdtemp(prefix="s2tt_cusum_live_")
    ckpt = tempfile.mkdtemp(prefix="s2tt_cusum_ckpt_")
    sink = tempfile.mkdtemp(prefix="s2tt_cusum_sink_")
    ranked = e.withColumn(
        "chunk",
        F.ntile(n_chunks).over(Window.orderBy("ts_us", "event_id")),
    )
    # one partitioned write (see run_cusum_stream_once): the global
    # ntile sort executes once for all chunks
    ranked.coalesce(1).write.mode("overwrite").partitionBy("chunk").parquet(
        stage
    )
    for c in range(1, n_chunks + 1):
        path = os.path.join(stage, f"chunk={c}")
        t = 1_700_000_000 + c
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(path, (t, t))

    schema = spark.read.parquet(os.path.join(stage, "chunk=1")).schema

    def _phase() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(live)
            .join(F.broadcast(targets), "user_id")
        )
        # batchId-keyed OVERWRITE is the canonical exactly-once
        # foreachBatch sink: a retried micro-batch rewrites its own
        # directory instead of appending a duplicate (batch ids are
        # monotonic across checkpoint recoveries, so phases never
        # collide)
        q = (
            cusum_stateful(stream, _CUSUM_K, _CUSUM_H)
            .writeStream.foreachBatch(
                lambda b, i: b.write.mode("overwrite").parquet(
                    os.path.join(sink, f"batch={i}")
                )
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for c in range(1, split_at + 1):
        shutil.move(os.path.join(stage, f"chunk={c}"), live)
    _phase()  # phase A, then the query object is gone ("crash")
    for c in range(split_at + 1, n_chunks + 1):
        shutil.move(os.path.join(stage, f"chunk={c}"), live)
    _phase()  # phase B: NEW query, same checkpoint -> state restored

    upd = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(sink)
    )
    wfin = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        upd.withColumn("rn", F.row_number().over(wfin))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
