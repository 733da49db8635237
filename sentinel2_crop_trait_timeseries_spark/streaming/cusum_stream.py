"""Streaming CUSUM: the per-user changepoint recursion of
catalog_ts.cusum_changepoint_user carried ACROSS micro-batches in
GroupState — ordered sequential state, not just mergeable totals
(running_totals in rollup_stream.py carries count/sum, which is
order-insensitive; CUSUM's max(0, ...) recursion is not, so this
operator demonstrates genuine event-order stateful streaming).

State is keyed by user RANGE, pmod(user_id, _USER_RANGES), not by user:
one applyInPandasWithState call folds every user of its range that has
rows in the micro-batch, and the range's state holds one exact 5-tuple
per user seen so far. The Python hand-off is a fixed cost per call, so
the call count falls from (users x batches) to at most
(_USER_RANGES x batches) while each user's fold — and so the output —
is unchanged.

Contract: the source must deliver each key's rows in event-time order
across micro-batches (Kafka per-key ordering at scale). The test
harness materializes that contract by cutting the fixture into
equal-width time-range files streamed one per trigger
(maxFilesPerTrigger=1, file mtimes pinned so the listing order IS the
time order). The per-user alarm target (doubled exact median, see the
batch query) is an OFFLINE artifact — trained on history, broadcast
onto arrivals — matching how a production monitor deploys a detector.

The oracle is the batch recursive-CTE SQL: a hash match proves the
cross-batch state path reproduces the batch recursion exactly (all
state is BIGINT 2x-cents, so there is no accumulation drift to hide
behind).
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sentinel2_crop_trait_timeseries_spark.operators.rollup import _CENTS, _US
from sentinel2_crop_trait_timeseries_spark.streaming import (
    run_available,
    scratch_dir,
)

OUT_SCHEMA = (
    "user_id long, n_events long, n_over long, first_over_ts_us long, "
    "max_s_x2 long"
)
# one row per user range: parallel arrays, element i is user uid[i]'s
# (s, n_over, first_ts [-1 = none], max_s, n_seen)
STATE_COLS = ("uid", "s", "n_over", "first_ts", "max_s", "n_seen")
STATE_SCHEMA = ", ".join(f"{c} array<long>" for c in STATE_COLS)
# state keys per stream: enough to spread the state calls over the
# cores, few enough that every call folds many users
_USER_RANGES = 16


def cusum_stateful(stream: DataFrame, k: int, h: int) -> DataFrame:
    """groupBy(pmod(user_id, _USER_RANGES)).applyInPandasWithState CUSUM.
    Each call sorts its rows by (user_id, ts_us, event_id), folds each
    user's rows from that user's stored 5-tuple, and emits one row per
    user it updated: (user_id, n_events, n_over, first_over_ts_us,
    max_s_x2), cumulative over every batch so far. The cross-batch
    order is the source's per-key delivery order (the operator's
    documented contract)."""

    def update(key_tuple, pdfs, state: GroupState):
        import numpy as np

        st = (
            {c: list(v) for c, v in zip(STATE_COLS, state.get)}
            if state.exists else {c: [] for c in STATE_COLS}
        )
        slot = {u: i for i, u in enumerate(st["uid"])}
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        cols = [pdf[c].to_numpy(np.int64) for c in
                ("user_id", "ts_us", "event_id", "cents", "target_x2")]
        order = np.lexsort((cols[2], cols[1], cols[0]))
        user, ts, _, cents, target = (a[order] for a in cols)
        starts = np.flatnonzero(np.diff(user, prepend=user[0] - 1))
        ends = np.append(starts[1:], len(user))
        user, ts, cents = user.tolist(), ts.tolist(), cents.tolist()
        out = []
        for lo, hi in zip(starts.tolist(), ends.tolist()):
            u = user[lo]
            i = slot.get(u)
            if i is None:
                i = slot[u] = len(st["uid"])
                for c, v in zip(STATE_COLS, (u, 0, 0, -1, 0, 0)):
                    st[c].append(v)
            s, n_over = st["s"][i], st["n_over"][i]
            first_ts, max_s = st["first_ts"][i], st["max_s"][i]
            shift = int(target[lo]) + k
            for j in range(lo, hi):
                s = max(0, s + 2 * cents[j] - shift)
                if s > h:
                    n_over += 1
                    if first_ts < 0:
                        first_ts = ts[j]
                max_s = max(max_s, s)
            n_seen = st["n_seen"][i] + hi - lo
            for c, v in zip(STATE_COLS[1:], (s, n_over, first_ts, max_s,
                                             n_seen)):
                st[c][i] = v
            out.append((u, n_seen, n_over, first_ts, max_s))
        state.update(tuple(st[c] for c in STATE_COLS))
        u, n_seen, n_over, first_ts, max_s = map(list, zip(*out))
        yield pd.DataFrame({
            "user_id": u,
            "n_events": n_seen,
            "n_over": n_over,
            "first_over_ts_us": pd.array(
                [None if t < 0 else t for t in first_ts], dtype="Int64"
            ),
            "max_s_x2": max_s,
        })

    rk = F.pmod(F.col("user_id"), F.lit(_USER_RANGES))
    return stream.withColumn("user_range", rk).groupBy(
        "user_range"
    ).applyInPandasWithState(
        update,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _time_chunks(e: DataFrame, n_chunks: int) -> DataFrame:
    """``e`` with a 1-based ``chunk`` column: n_chunks equal-width ts_us
    ranges, hash-partitioned on chunk so every chunk is written by one
    task as one file. Where the cuts fall does not change the result
    (state carries across chunks); each chunk must only hold whole
    timestamps and follow the previous one in time. A range with no
    events yields no chunk.

    The bounds come from one map-only min/max pass: each Arrow batch
    reduces to one (lo, hi) row and the driver reduces those, so no
    operator funnels the events into a single partition."""

    def bounds(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            if b.num_rows:
                mm = pc.min_max(b.column(0))
                yield pa.RecordBatch.from_pydict(
                    {"lo": [mm["min"].as_py()], "hi": [mm["max"].as_py()]}
                )

    rows = e.select("ts_us").mapInArrow(bounds, "lo long, hi long").collect()
    lo = min((r["lo"] for r in rows), default=0)
    hi = max((r["hi"] for r in rows), default=lo)
    width = (hi - lo) // n_chunks + 1
    return e.withColumn(
        "chunk", F.expr(f"(ts_us - {lo}) div {width} + 1")
    ).repartition(n_chunks, "chunk")


def _stage(spark: SparkSession, sf_dir: str, n_chunks: int, stage: str):
    """Stage the events fixture under ``stage`` for a per-key-ordered
    stream: returns (schema, targets, chunk_dirs). targets is each
    user's offline detector target (the doubled exact median),
    checkpointed; chunk_dirs are the non-empty time-range directories
    under stage, oldest first, with file mtimes pinned in that order."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
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

    _time_chunks(e, n_chunks).write.mode("overwrite").partitionBy(
        "chunk"
    ).parquet(stage)
    chunk_dirs = []
    for c in range(1, n_chunks + 1):
        path = os.path.join(stage, f"chunk={c}")
        if not os.path.isdir(path):
            continue
        t = 1_700_000_000 + c
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(path, (t, t))
        chunk_dirs.append(path)
    # the chunk files hold e's columns; `chunk` is a directory name only
    # (recursiveFileLookup on the stream disables partition discovery)
    return e.schema, targets, chunk_dirs


def _cusum_stream(spark: SparkSession, schema, path: str,
                  targets) -> DataFrame:
    """cusum_stateful over the chunk files under ``path``, one file per
    micro-batch, with each user's target broadcast onto its rows."""
    from sentinel2_crop_trait_timeseries_spark.catalog_ts import (
        _CUSUM_H,
        _CUSUM_K,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
        .join(F.broadcast(targets), "user_id")
    )
    return cusum_stateful(stream, _CUSUM_K, _CUSUM_H)


def _final_state(upd: DataFrame) -> DataFrame:
    """The last update per user: the row with the largest n_events."""
    wfin = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        upd.withColumn("rn", F.row_number().over(wfin))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def run_cusum_stream_once(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Drive the streaming CUSUM over the events fixture split into
    n_chunks time-range files (one micro-batch each, so state
    genuinely carries across batches) into the memory table
    ``s2tt_stream_cusum``; return the FINAL state row per user (the
    last update, selected by max n_events). The staged files are
    removed once the query has terminated."""
    stage = scratch_dir("s2tt_cusum_stage_")
    name = "s2tt_stream_cusum"
    try:
        schema, targets, _ = _stage(spark, sf_dir, n_chunks, stage)
        run_available(
            _cusum_stream(spark, schema, stage, targets)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return _final_state(spark.table(name))


def run_cusum_stream_resumable(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4, split_at: int = 2
) -> DataFrame:
    """Checkpoint-recovery twin of run_cusum_stream_once: process the
    first `split_at` chunks, STOP the query, then start a NEW query on
    the same checkpoint + sink after the remaining chunks appear. The
    file source's commit log replays nothing (each chunk is processed
    exactly once) and the state store restores every user range's
    per-user CUSUM 5-tuples, so the final per-user state must be
    identical to the one-shot run — the crash/redeploy durability
    contract of a production monitor. Returns the final state row per
    user; the staging, live and checkpoint directories are removed
    once both queries have terminated, the sink stays because the
    returned DataFrame reads it lazily."""
    stage = scratch_dir("s2tt_cusum_stage_")
    live = scratch_dir("s2tt_cusum_live_")
    ckpt = scratch_dir("s2tt_cusum_ckpt_")
    sink = scratch_dir("s2tt_cusum_sink_")

    def _phase() -> None:
        # batchId-keyed OVERWRITE is the canonical exactly-once
        # foreachBatch sink: a retried micro-batch rewrites its own
        # directory instead of appending a duplicate (batch ids are
        # monotonic across checkpoint recoveries, so phases never
        # collide)
        run_available(
            _cusum_stream(spark, schema, live, targets)
            .writeStream.foreachBatch(
                lambda b, i: b.write.mode("overwrite").parquet(
                    os.path.join(sink, f"batch={i}")
                )
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
        )

    try:
        schema, targets, chunk_dirs = _stage(spark, sf_dir, n_chunks, stage)
        for path in chunk_dirs[:split_at]:
            shutil.move(path, live)
        _phase()  # phase A, then the query object is gone ("crash")
        for path in chunk_dirs[split_at:]:
            shutil.move(path, live)
        _phase()  # phase B: NEW query, same checkpoint -> state restored
    finally:
        for path in (stage, live, ckpt):
            shutil.rmtree(path, ignore_errors=True)

    upd = spark.read.option("recursiveFileLookup", "true").parquet(sink)
    return _final_state(upd)
