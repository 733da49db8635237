"""Engine-operator-backed catalog queries: Gorilla compression
round-trip, salted skew-safe rollup, streaming rollup, multimodal
metadata extraction — each still verified against a DuckDB oracle.

Unlike catalog.py (pure relational plans), these route through the
engine's Arrow-batch operators, so the oracle checks prove the CUSTOM
code paths (bit-packed codec, two-stage salted agg, watermarked stream,
binary-payload UDF) produce exactly the relational answer.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.catalog import (
    _SQL_DAY,
    _SQL_HOUR,
    _q,
    _t,
)
from sentinel2_crop_trait_timeseries_spark.operators.compress import (
    compress_segments,
    decompress_segments,
)
from sentinel2_crop_trait_timeseries_spark.operators.multimodal import (
    attach_payload,
    decode_meta,
    decode_pixels_fake,
    sample_frames,
)
from sentinel2_crop_trait_timeseries_spark.operators.rollup import (
    _bucket_sec,
    _sec,
)
from sentinel2_crop_trait_timeseries_spark.streaming.rollup_stream import (
    run_cascade_stream_once,
    run_file_stream_once,
    run_session_stream_once,
)


@_q(
    "gorilla_roundtrip",
    """
    SELECT user_id, count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value,
           cast(floor(epoch(min(ts))) AS bigint) AS first_epoch,
           cast(floor(epoch(max(ts))) AS bigint) AS last_epoch
    FROM events GROUP BY 1
    """,
)
def gorilla_roundtrip(spark, sf_dir):
    """Gorilla codec proof: per-user series -> bit-packed blob
    (delta-of-delta ts + XOR floats, applyInPandas) -> decode
    (mapInPandas) -> aggregate; the oracle aggregates the raw rows.
    Matching sums/extents prove the codec is lossless end-to-end
    through the Arrow boundary."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    seg = compress_segments(ev, keys=["user_id"])
    back = decompress_segments(seg, keys=["user_id"])
    return back.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(F.lit(1e-9) + F.sum("value"), 4).alias("sum_value"),
        F.min("ts_epoch").alias("first_epoch"),
        F.max("ts_epoch").alias("last_epoch"),
    )


@_q(
    "gorilla_quantized_roundtrip",
    """
    SELECT user_id, count(*) AS n,
           round(1e-9 + sum(floor(value * 512.0 + 0.5) / 512.0), 4)
             AS sum_qvalue,
           cast(floor(epoch(min(ts))) AS bigint) AS first_epoch,
           cast(floor(epoch(max(ts))) AS bigint) AS last_epoch
    FROM events GROUP BY 1
    """,
)
def gorilla_quantized_roundtrip(spark, sf_dir):
    """Quantized Gorilla mode proof (compress_segments value_grid):
    encode on the 1/512 power-of-two grid (max abs error 2^-10,
    measured 11.5x vs 2.2x lossless on dense hourly bench data),
    decode, aggregate — the oracle aggregates floor(v*512+0.5)/512 of
    the RAW rows, so a hash match proves the stored series is EXACTLY
    the grid snap of the input (the lossy mode's whole contract: the
    error is the stated bound and nothing else changes). Same
    applyInPandas/mapInPandas Arrow path as gorilla_roundtrip; blob
    format unchanged — quantization is a pre-encode map."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    seg = compress_segments(ev, keys=["user_id"], value_grid=1 / 512.0)
    back = decompress_segments(seg, keys=["user_id"])
    return back.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(F.lit(1e-9) + F.sum("value"), 4).alias("sum_qvalue"),
        F.min("ts_epoch").alias("first_epoch"),
        F.max("ts_epoch").alias("last_epoch"),
    )


@_q(
    "rollup_hourly_salted",
    f"""
    SELECT event_type,
           {_SQL_HOUR} AS bucket_ts,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def rollup_hourly_salted(spark, sf_dir):
    """Skew-safe rollup: explicit two-stage aggregation with an 8-way
    salt on the grouping key. Stage 1 shuffles on (key, bucket, salt) so
    one hot key spreads over 8 reducers; stage 2 merges the (tiny)
    salted partials. Result is identical to the unsalted rollup — the
    oracle is the plain GROUP BY. This is the north_rule's explicit skew
    handling; AQE skew-join covers the join side."""
    ev = _t(spark, sf_dir, "events")
    salt = (F.col("event_id") % 8).alias("salt")
    stage1 = ev.groupBy(
        "event_type", _bucket_sec(_sec("ts"), 3600).alias("bucket_ts"), salt
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("ps"),
        F.min("value").alias("pmn"),
        F.max("value").alias("pmx"),
    )
    return stage1.groupBy("event_type", "bucket_ts").agg(
        F.sum("pn").alias("n"),
        F.round(F.lit(1e-9) + F.sum("ps"), 4).alias("sum_value"),
        F.min("pmn").alias("min_value"),
        F.max("pmx").alias("max_value"),
    )


@_q(
    "streaming_rollup_hourly",
    f"""
    SELECT event_type,
           {_SQL_HOUR} AS bucket_ts,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value,
           round(1e-9 + avg(value), 4) AS mean_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_rollup_hourly(spark, sf_dir):
    """Structured Streaming tier: the hourly rollup as a watermarked
    tumbling-window streaming aggregation (file source, availableNow,
    memory sink) — must equal the batch rollup exactly."""
    res = run_file_stream_once(spark, sf_dir)
    return res.select(
        "event_type",
        F.col("win.start").cast("long").alias("bucket_ts"),
        "n",
        F.round(F.lit(1e-9) + F.col("sum_value"), 4).alias("sum_value"),
        F.round(F.lit(1e-9) + F.col("mean_value"), 4).alias("mean_value"),
        "min_value",
        "max_value",
    )


def _rounded_tier(res):
    """A streaming cascade tier in the oracle's shape: sums and means
    rounded to 4 places (mean = sum / n, the algebraic merge)."""
    return res.select(
        "event_type",
        "bucket_ts",
        "n",
        F.round(F.lit(1e-9) + F.col("sum_value"), 4).alias("sum_value"),
        F.round(
            F.lit(1e-9) + F.col("sum_value") / F.col("n"), 4
        ).alias("mean_value"),
        "min_value",
        "max_value",
    )


@_q(
    "streaming_rollup_daily",
    f"""
    SELECT event_type,
           {_SQL_DAY} AS bucket_ts,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value,
           round(1e-9 + avg(value), 4) AS mean_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_rollup_daily(spark, sf_dir):
    """Streaming cascade tier: daily rollup RE-AGGREGATED from the
    hourly streaming aggregate (foreachBatch algebraic merge — raw
    rows touch only the hourly streaming state; see
    run_cascade_stream_once). The oracle is the daily GROUP BY over
    raw events — identical to the batch rollup_daily_cascade oracle —
    so a match proves the streaming hourly state plus the cascade
    merge reproduce the relational daily tier exactly, closing the
    one §2.9 concept (hierarchical re-aggregation) that had only a
    batch twin through r3."""
    return _rounded_tier(run_cascade_stream_once(spark, sf_dir))


@_q(
    "streaming_rollup_weekly",
    f"""
    SELECT event_type,
           {{week}} AS bucket_ts,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value,
           round(1e-9 + avg(value), 4) AS mean_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """.format(week="cast((floor((floor(floor(epoch(ts))/86400)+3)/7)*7-3)"
                    "*86400 as bigint)"),
)
def streaming_rollup_weekly(spark, sf_dir):
    """Top of the streaming cascade: weekly tier re-aggregated from
    the streaming DAILY tier (which itself re-aggregates the hourly
    streaming state) — three-deep hierarchical re-aggregation with
    raw rows touching only the hourly state, mirroring the batch
    cascade tier-for-tier. Monday-anchored weeks via the same epoch
    arithmetic as the batch _SQL_WEEK; oracle is the weekly GROUP BY
    over raw events."""
    return _rounded_tier(run_cascade_stream_once(spark, sf_dir, tier="weekly"))


@_q(
    "streaming_sessionize",
    """
    WITH t AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id))
                     >= 1800.0
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM t
    )
    SELECT user_id,
           cast(floor(min(epoch(ts))) AS bigint) AS session_start,
           cast(floor(max(epoch(ts))) AS bigint) + 1800 AS session_end,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_sessionize(spark, sf_dir):
    """Event-time session windows as a STREAMING aggregation
    (F.session_window, availableNow file stream, memory sink): per-user
    activity bursts separated by >= 30 min of silence. The oracle is the
    batch gaps-and-islands form — a lag-diff break flag cumulated into
    session ids — so matching values prove the streaming session-merge
    state machine equals the relational definition. window.end is
    last-event + gap by Spark's session semantics; the oracle adds the
    gap to max(ts) the same way."""
    res = run_session_stream_once(spark, sf_dir)
    return res.select(
        "user_id",
        F.col("sw.start").cast("long").alias("session_start"),
        F.col("sw.end").cast("long").alias("session_end"),
        "n",
        F.round(F.lit(1e-9) + F.col("sum_value"), 4).alias("sum_value"),
    )


@_q(
    "multimodal_meta",
    """
    SELECT doc_id, length(text) AS byte_len,
           ascii(substr(text, 1, 1)) AS first_byte,
           cast(sum(ascii(substr(text, i, 1))) AS BIGINT) AS checksum
    FROM documents,
         LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) t
    GROUP BY doc_id, text
    """,
)
def multimodal_meta(spark, sf_dir):
    """Multimodal plumbing proof: opaque binary payload column ->
    Arrow-batch metadata extraction (mapInPandas over bytes). The oracle
    recomputes length/first-byte/checksum from the (ASCII) source text
    with pure SQL — matching values prove the binary transfer and batch
    iteration are byte-exact."""
    d = _t(spark, sf_dir, "documents")
    return decode_meta(attach_payload(d))


@_q(
    "multimodal_frame_sample",
    """
    WITH c AS (
      SELECT doc_id, ascii(substr(text, i, 1)) AS b,
             cast(floor((i - 1) / 16) AS int) AS frame_idx
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) t
    )
    SELECT doc_id, frame_idx,
           cast(count(*) AS int) AS frame_len,
           cast(sum(b) AS bigint) AS frame_sum
    FROM c WHERE frame_idx % 4 = 0 GROUP BY 1, 2
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Keyframe-style sampling over binary payloads: 16-byte frames,
    every 4th kept, one output row per sampled frame (UDTF shape) with
    integer byte-sum features. The oracle rebuilds the same frames from
    the ASCII source text — matching sums prove the frame boundary
    arithmetic (including the partial last frame) is byte-exact."""
    d = _t(spark, sf_dir, "documents")
    return sample_frames(attach_payload(d))


@_q(
    "multimodal_resize_pixels",
    """
    WITH px AS (
      SELECT doc_id, cast(i // 16 AS int) AS r, cast(i % 16 AS int) AS c,
             ascii(substr(text, cast(i % length(text) AS int) + 1, 1)) AS b
      FROM documents,
           LATERAL (SELECT unnest(range(0, 256)) AS i) t
    )
    SELECT doc_id, cast(r // 4 AS int) AS br, cast(c // 4 AS int) AS bc,
           sum(b) / 16.0 AS px
    FROM px GROUP BY 1, 2, 3
    """,
)
def multimodal_resize_pixels(spark, sf_dir):
    """Decode -> resize pipeline plumbing with a deterministic fake
    decode (the brief's prescribed stub strategy: no imaging libs in
    this container, so the decode is cyclic byte tiling into a 16x16
    'image', and the resize is exact 4x4 block-mean pooling — sums of
    integers divided by 16, exact in double). One row per output pixel
    (doc_id, br, bc, px). The oracle replays the byte arithmetic from
    the ASCII source text, proving the mapInPandas tensor path
    (payload byte access, reshape, pooling, 1->16 fan-out) byte-exact;
    a real libjpeg decode + resampler drops into the same UDF
    signature (operators/multimodal.py decode_pixels_fake)."""
    d = _t(spark, sf_dir, "documents")
    return decode_pixels_fake(attach_payload(d))


def _events_as_sequences(spark, sf_dir):
    """events -> per-user tokenized sequences (hour-bucketed means),
    via the engine's exact token codec. doc_id = user_id; values are
    quantized to 3 dp by the codec on both engines identically."""
    from sentinel2_crop_trait_timeseries_spark.operators.decode import (
        encode_sequences,
    )

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("user_id"),
        F.floor(_sec("ts") / 3600).cast("long").alias("h"),
    ).agg((F.round(F.avg("value") * 1000) / 1000.0).alias("value"))
    obs = hourly.select(
        F.lit("events").alias("source"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.timestamp_seconds(F.col("h") * 3600).alias("ts"),
        "value",
    )
    return encode_sequences(obs)


@_q(
    "token_roundtrip",
    """
    WITH hourly AS (
      SELECT user_id,
             cast(floor(floor(epoch(ts)) / 3600) AS bigint) AS h,
             round(avg(value) * 1000) / 1000.0 AS v
      FROM events GROUP BY 1, 2
    )
    SELECT cast(user_id AS varchar) AS doc_id,
           count(*) AS n,
           round(1e-9 + sum(v), 3) AS sum_value,
           min(h) * 3600 AS first_epoch,
           max(h) * 3600 AS last_epoch
    FROM hourly GROUP BY 1
    """,
)
def token_roundtrip(spark, sf_dir):
    """The per-row token-array invariant, oracle-checked: hour-bucketed
    event series -> ENCODE into (doc_id, tokens, n_tok, source) ->
    DECODE back -> aggregate. Matching sums/extents prove the token
    codec is an exact identity on real data; the oracle aggregates the
    hourly series directly.

    Decode rides the Arrow twin here: event series average ~64 obs/doc
    (max ~91), where the pure-column O(n^2) offset slices lose to one
    numpy cumsum per batch; both twins are tested row-equal and narrow."""
    from sentinel2_crop_trait_timeseries_spark.operators.decode import (
        EPOCH_UNIX,
        decode_observations_arrow,
    )

    seq = _events_as_sequences(spark, sf_dir)
    back = decode_observations_arrow(seq)
    return back.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.round(F.lit(1e-9) + F.sum("value"), 3).alias("sum_value"),
        F.min(F.col("ts").cast("long")).alias("first_epoch"),
        F.max(F.col("ts").cast("long")).alias("last_epoch"),
    )


# ---------------------------------------------------------------------
# Full DuckDB SQL oracle for the EnKF: the ensemble recursion as a
# recursive CTE over a DOUBLE[] state, with the engine's deterministic
# noise streams (FNV-1a doc key -> splitmix64 -> Box-Muller) replicated
# in SQL integer arithmetic (64-bit wrap via HUGEINT limb multiplies).
# Every constant and expression tree mirrors operators/enkf.py
# enkf_batch; remaining cross-engine fp differences (libm ulps,
# pairwise-vs-sequential 20-element sums) sit ~1e-12 under the 4-dp
# rounding guard.
# ---------------------------------------------------------------------

_M64 = 18446744073709551616  # 2^64
_GOLD = 0x9E3779B97F4A7C15
_SM_C2 = 0xBF58476D1CE4E5B9
_SM_C3 = 0x94D049BB133111EB
_DEAD = 0xDEADBEEFCAFEF00D
_A5A5 = 0xA5A5A5A5A5A5A5A5
_FNV_OFF = 14695981039346656037
_FNV_PRIME = 1099511628211


def _py_sm64(x: int) -> int:
    """splitmix64 on python ints (for precomputing constants)."""
    z = (x + _GOLD) % _M64
    z = ((z ^ (z >> 30)) * _SM_C2) % _M64
    z = ((z ^ (z >> 27)) * _SM_C3) % _M64
    return z ^ (z >> 31)


def _sql_mul64(a: str, c: int) -> str:
    """SQL for (a * c) mod 2^64 on a UBIGINT column expression `a` and a
    python constant c, via 32-bit limbs in HUGEINT (DuckDB raises on
    UBIGINT overflow instead of wrapping)."""
    ch, cl = c >> 32, c & 0xFFFFFFFF
    return (
        f"CAST(((({a}) & 4294967295)::HUGEINT * {cl} + "
        f"((((({a}) >> 32)::HUGEINT * {cl} + (({a}) & 4294967295)::HUGEINT * {ch})"
        f" % 4294967296) * 4294967296)) % {_M64} AS UBIGINT)"
    )


def _sm64_steps(x: str, out: str) -> list[tuple[str, str]]:
    """(alias, expr) stages computing splitmix64({x}) into column {out}.
    Staged through NESTED SUBQUERIES (see _staged), not lateral column
    aliases — DuckDB binds lateral aliases by expression substitution,
    which explodes exponentially when chains reference chains."""
    return [
        (f"{out}_z1", f"CAST((({x})::HUGEINT + {_GOLD}) % {_M64} AS UBIGINT)"),
        (f"{out}_z2", f"xor({out}_z1, {out}_z1 >> 30)"),
        (f"{out}_z3", _sql_mul64(f"{out}_z2", _SM_C2)),
        (f"{out}_z4", f"xor({out}_z3, {out}_z3 >> 27)"),
        (f"{out}_z5", _sql_mul64(f"{out}_z4", _SM_C3)),
        (out, f"xor({out}_z5, {out}_z5 >> 31)"),
    ]


def _staged(base: str, steps: list[tuple[str, str]]) -> str:
    """Chain (alias, expr) stages as nested SELECT layers over a base
    query — every alias becomes a real column, so downstream references
    are O(1), keeping the bound plan linear in the number of stages."""
    q = base
    for alias, expr in steps:
        q = f"SELECT *, {expr} AS {alias} FROM ({q})"
    return q


def _sql_gauss_expr(u_a: str, u_b: str) -> str:
    """Box-Muller from two uint64 streams (mirrors enkf._gauss_from_u64:
    clip the log input at 1e-12; b unclipped)."""
    return (
        f"sqrt(-2.0 * ln(greatest(({u_a} >> 11) / 9007199254740992.0, 1e-12)))"
        f" * cos((2 * pi()) * (({u_b} >> 11) / 9007199254740992.0))"
    )


def _build_enkf_oracle(n_sim: int = 20, obs_unc: float = 0.1,
                       proc_unc: float = 0.05, seed: int = 42) -> str:
    sm_seed = _py_sm64(seed)
    members = ", ".join(
        f"({m}, CAST({_py_sm64(m)} AS UBIGINT), CAST({_py_sm64(m + 1)} AS UBIGINT))"
        for m in range(n_sim)
    )
    rng = f"generate_series(1, {n_sim})"
    keys_sql = _staged(
        f"""SELECT doc_id,
               list_reduce(
                 list_prepend(CAST({_FNV_OFF} AS UBIGINT),
                   list_transform(generate_series(1, length(doc_id)),
                                  i -> CAST(ascii(substr(doc_id, i, 1)) AS UBIGINT))),
                 (acc, ch) -> {_sql_mul64("xor(acc, ch)", _FNV_PRIME)}) AS fnv
        FROM (SELECT DISTINCT doc_id FROM obs)""",
        _sm64_steps(f"xor(fnv, CAST({sm_seed} AS UBIGINT))", "key"),
    )
    noise0_sql = _staged(
        "SELECT kk.doc_id, mm.m, kk.key, mm.smm FROM keys kk CROSS JOIN members mm",
        _sm64_steps("xor(key, smm)", "u0")
        + [("unif", "(u0 >> 11) / 9007199254740992.0")],
    )
    noisek_steps = (
        _sm64_steps(
            f"xor(CAST((key::HUGEINT + kgold) % {_M64} AS UBIGINT), smm1)", "uk"
        )
        + _sm64_steps("uk", "ga1")
        + _sm64_steps(f"xor(uk, CAST({_DEAD} AS UBIGINT))", "gb1")
        + [("gp", _sql_gauss_expr("ga1", "gb1"))]
        + _sm64_steps(f"xor(uk, CAST({_A5A5} AS UBIGINT))", "up")
        + _sm64_steps("up", "ga2")
        + _sm64_steps(f"xor(up, CAST({_DEAD} AS UBIGINT))", "gb2")
        + [("go", _sql_gauss_expr("ga2", "gb2"))]
    )
    noisek_sql = _staged(
        """SELECT kk.doc_id, ks.k, mm.m, kk.key, mm.smm1, ks.kgold
           FROM keys kk
           JOIN nobs nn USING (doc_id)
           JOIN ks ON ks.k < nn.n
           CROSS JOIN members mm""",
        noisek_steps,
    )
    return f"""
    WITH RECURSIVE
    hourly AS (
      SELECT user_id, cast(floor(floor(epoch(ts))/3600) AS bigint) AS h,
             round(avg(value) * 1000) / 1000.0 AS v
      FROM events GROUP BY 1, 2
    ),
    obs AS MATERIALIZED (
      SELECT cast(user_id AS varchar) AS doc_id, h - 455832 AS hr, v,
             row_number() OVER (PARTITION BY user_id ORDER BY h) - 1 AS pos
      FROM hourly
    ),
    nobs AS (SELECT doc_id, count(*) AS n FROM obs GROUP BY 1),
    keys AS MATERIALIZED ({keys_sql}),
    lut AS (
      SELECT hx, greatest(0.0, 14.945 * (1 - exp(-exp(-7.393) *
               ((10 + 12*sin(2*pi()*((hx % 8760)/8760.0 - 0.25))
                   + 4*sin(2*pi()*((hx % 24)/24.0 - 0.3))) - 2.163)))) AS r
      FROM (SELECT unnest(generate_series(0, 8759)) AS hx)
    ),
    cumlut AS (
      SELECT hx + 1 AS i,
             sum(r) OVER (ORDER BY hx ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS c
      FROM lut
      UNION ALL SELECT 0, 0.0
    ),
    total AS (SELECT c AS s FROM cumlut WHERE i = 8760),
    seg AS (
      SELECT doc_id, pos, v AS y, hr,
             lag(hr) OVER (PARTITION BY doc_id ORDER BY pos) AS hr0
      FROM obs
    ),
    segc AS (
      SELECT doc_id, pos, y,
             (hr - hr0) // 8760 AS nfull, hr0 % 8760 AS a,
             (hr0 % 8760) + ((hr - hr0) - ((hr - hr0) // 8760) * 8760) AS b
      FROM seg WHERE hr0 IS NOT NULL
    ),
    segr AS (
      SELECT sc.doc_id, sc.pos, sc.y,
             sc.nfull * t.s
               + ((CASE WHEN sc.b > 8760 THEN t.s + cb2.c ELSE cb.c END) - ca.c)
               AS cresp
      FROM segc sc
      CROSS JOIN total t
      JOIN cumlut ca ON ca.i = sc.a
      JOIN cumlut cb ON cb.i = least(sc.b, 8760)
      LEFT JOIN cumlut cb2 ON cb2.i = sc.b - 8760
    ),
    members(m, smm, smm1) AS (VALUES {members}),
    noise0 AS ({noise0_sql}),
    init AS (
      SELECT n0.doc_id,
             list(o.v * (1.0 + {obs_unc!r} * (2.0 * n0.unif - 1.0))
                  ORDER BY n0.m) AS A
      FROM noise0 n0 JOIN obs o ON o.doc_id = n0.doc_id AND o.pos = 0
      GROUP BY n0.doc_id
    ),
    ks AS (
      SELECT k, CAST((k::HUGEINT * {_GOLD}) % {_M64} AS UBIGINT) AS kgold
      FROM (SELECT unnest(generate_series(1,
              (SELECT max(n) FROM nobs) - 1)) AS k)
    ),
    noisek AS ({noisek_sql}),
    steplists AS (
      SELECT doc_id, k, list(gp ORDER BY m) AS pg, list(go ORDER BY m) AS og
      FROM noisek GROUP BY 1, 2
    ),
    steps AS MATERIALIZED (
      SELECT sr.doc_id, sr.pos AS k, sr.y, sr.cresp, sl.pg, sl.og,
             abs(sr.y) * {obs_unc!r} + 1e-9 AS sd
      FROM segr sr JOIN steplists sl ON sl.doc_id = sr.doc_id AND sl.k = sr.pos
    ),
    rec AS (
      SELECT doc_id, 0 AS k, A FROM init
      UNION ALL
      SELECT doc_id, k, A FROM (
        SELECT r.doc_id, r.k + 1 AS k,
               list_transform({rng},
                 i -> r.A[i] + st.cresp * (1.0 + {proc_unc!r} * st.pg[i])) AS af,
               list_aggregate(af, 'sum') / {n_sim}.0 AS fm,
               list_aggregate(list_transform(af, x -> (x - fm) * (x - fm)),
                              'sum') / {n_sim}.0 AS p,
               p / (p + st.sd * st.sd) AS kgain,
               list_transform({rng},
                 i -> af[i] + kgain * ((st.y + st.sd * st.og[i]) - af[i])) AS A
        FROM rec r JOIN steps st ON st.doc_id = r.doc_id AND st.k = r.k + 1
      ) sub
    )
    SELECT doc_id, k AS pos,
           round(1e-9 + mn, 4) AS assim_mean,
           round(1e-9 + sqrt(vr), 4) AS assim_std
    FROM (
      SELECT doc_id, k,
             list_aggregate(A, 'sum') / {n_sim}.0 AS mn,
             list_aggregate(list_transform(A, x -> (x - mn) * (x - mn)),
                            'sum') / {n_sim}.0 AS vr
      FROM rec
    )
    """


@_q("enkf_assimilate_events", _build_enkf_oracle(n_sim=20))
def enkf_assimilate_events(spark, sf_dir):
    """EnKF assimilation over event-derived sequences, with a FULL SQL
    oracle: DuckDB re-runs the ensemble recursion (recursive CTE over a
    DOUBLE[] state) including the engine's deterministic noise streams
    (FNV-1a doc key, splitmix64 via HUGEINT limb arithmetic, Box-Muller)
    and the periodic prefix-sum response integral — mirroring
    operators/enkf.py enkf_batch expression-for-expression."""
    from sentinel2_crop_trait_timeseries_spark.operators.enkf import (
        enkf_assimilate,
    )

    seq = _events_as_sequences(spark, sf_dir)
    res = enkf_assimilate(seq, n_sim=20)
    return res.select(
        "doc_id", "pos",
        F.round(F.lit(1e-9) + F.col("assim_mean"), 4).alias("assim_mean"),
        F.round(F.lit(1e-9) + F.col("assim_std"), 4).alias("assim_std"),
    )


@_q(
    "fit_sigmoid_events",
    """
    WITH hourly AS (
      SELECT user_id, cast(floor(floor(epoch(ts)) / 3600) AS bigint) AS h,
             round(avg(value) * 1000) / 1000.0 AS v
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT cast(user_id AS varchar) AS doc_id, count(*) AS n_obs
      FROM hourly GROUP BY 1
    )
    SELECT doc_id, cast(n_obs AS int) AS n_obs,
           CASE WHEN n_obs >= 5 THEN 'done' ELSE 'failed' END AS status,
           1 AS rmse_ok
    FROM d
    """,
)
def fit_sigmoid_events(spark, sf_dir):
    """Per-doc batched-LM sigmoid fit over event-derived sequences,
    hash-verified via derived deterministic invariants: the raw LM
    parameters have data-dependent accept/damp branches (no cross-engine
    bit parity), but (a) n_obs, (b) status ('done' iff the doc clears
    MIN_OBS and the LM stays finite — the oracle states the n_obs>=5
    form, so any LM blow-up flips the hash), and (c) rmse_ok — the LM's
    unrounded RMSE must not exceed the closed-form logit fit's RMSE
    (fit_sigmoid_logit, itself fully oracle-checked) by more than
    10% + 1e-4 — are all deterministic. The bound is STRUCTURAL, not
    empirical: the LM initializes FROM the logit solution (fit.py
    seeds p0 = (L, k, -c/k, b) of the same construction) and only
    accepts cost-decreasing steps, so final RMSE <= logit RMSE by
    construction (measured max ratio 0.992 across both test scales);
    the 10% + 1e-4 slack covers the oracle side's 4-dp rounding of
    logit_rmse. The bound is asserted ONLY where the logit seed was
    actually used (seed_used flag from fit.py): a doc can clear
    fit_sigmoid_logit's filter (n>=5, vmax>vmin) yet have its seed
    rejected by the LM (e.g. |k_logit| <= 1e-9 on a flat-trend noisy
    series) — there the LM starts from the range/slope heuristic and
    carries no structural relation to the logit RMSE, so such docs
    take the escape instead of a data-scale-dependent assertion.
    tests/test_fit.py pins the LM numerically."""
    from sentinel2_crop_trait_timeseries_spark.operators.fit import fit_sigmoid

    seq = _events_as_sequences(spark, sf_dir)
    lm = fit_sigmoid(seq).select(
        "doc_id", "n_obs", "status", "fit_rmse", "seed_used"
    )
    logit = fit_sigmoid_logit(spark, sf_dir).select(
        "doc_id", F.col("fit_rmse").alias("logit_rmse")
    )
    j = lm.join(logit, "doc_id", "left")
    rmse_ok = (
        F.col("logit_rmse").isNull()  # flat series: no logit row
        | (F.col("status") == "failed")
        | (F.col("seed_used") == 0)  # heuristic start: bound not structural
        | (F.col("fit_rmse") <= F.col("logit_rmse") * 1.10 + 1e-4)
    )
    return j.select(
        "doc_id", "n_obs", "status", rmse_ok.cast("int").alias("rmse_ok")
    )


_LOGIT_FIT_SQL = """
    WITH hourly AS (
      SELECT user_id, cast(floor(floor(epoch(ts))/3600) AS bigint) AS h,
             round(avg(value) * 1000) / 1000.0 AS v
      FROM events GROUP BY 1, 2
    ),
    obs AS (SELECT cast(user_id AS varchar) AS doc_id, h, v FROM hourly),
    ext AS (
      SELECT doc_id, count(*) AS n, min(h) AS hmin, max(h) AS hmax,
             min(v) AS vmin, max(v) AS vmax
      FROM obs GROUP BY 1
    ),
    good AS (
      SELECT *, 0.05 * (vmax - vmin) + 1e-9 AS delta
      FROM ext WHERE n >= 5 AND vmax > vmin
    ),
    xz AS (
      SELECT o.doc_id, g.n, g.vmin, g.vmax, g.delta, o.v,
             (o.h - g.hmin) * 1.0 / greatest(g.hmax - g.hmin, 1) AS xx,
             ln((o.v - (g.vmin - g.delta))
                / (((g.vmax - g.vmin) + 2 * g.delta)
                   - (o.v - (g.vmin - g.delta)))) AS zz
      FROM obs o JOIN good g USING (doc_id)
    ),
    fit AS (
      SELECT doc_id, any_value(n) AS n_obs,
             regr_slope(zz, xx) AS k, regr_intercept(zz, xx) AS c,
             any_value(vmin) AS vmin, any_value(vmax) AS vmax,
             any_value(delta) AS delta
      FROM xz GROUP BY 1
    )
    SELECT f.doc_id, f.n_obs,
           round(1e-9 + f.k, 4) AS fit_k,
           round(1e-9 + f.c, 4) AS fit_c,
           round(1e-9 + sqrt(avg(
             (((f.vmax - f.vmin) + 2 * f.delta)
                / (1 + exp(-(f.k * x.xx + f.c)))
              + (f.vmin - f.delta) - x.v)
             * (((f.vmax - f.vmin) + 2 * f.delta)
                / (1 + exp(-(f.k * x.xx + f.c)))
              + (f.vmin - f.delta) - x.v))), 4) AS fit_rmse
    FROM fit f JOIN xz x USING (doc_id)
    GROUP BY f.doc_id, f.n_obs, f.k, f.c
"""


@_q("fit_sigmoid_logit", _LOGIT_FIT_SQL)
def fit_sigmoid_logit(spark, sf_dir):
    """Closed-form sigmoid fit by logit linearization, fully
    oracle-checked: fix the asymptotes from the per-doc value range
    (b = vmin - d, L = range + 2d, d = 5% margin), transform
    z = ln((y-b)/(L-(y-b))), and fit z = k*x + c by ordinary least
    squares (regr_slope / regr_intercept — JVM aggregate expressions,
    zero Python). fit_rmse evaluates the reconstructed sigmoid against
    the observations. The deterministic companion to the LM fit
    (fit_sigmoid_events): same model family, closed form, so DuckDB
    recomputes it exactly. Surfaces (k, c) rather than x0=-c/k, which
    is ill-conditioned when k ~ 0."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("user_id"),
        F.floor(_sec("ts") / 3600).cast("long").alias("h"),
    ).agg((F.round(F.avg("value") * 1000) / 1000.0).alias("v"))
    obs = hourly.select(
        F.col("user_id").cast("string").alias("doc_id"), "h", "v"
    )
    ext = obs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("h").alias("hmin"), F.max("h").alias("hmax"),
        F.min("v").alias("vmin"), F.max("v").alias("vmax"),
    )
    good = ext.filter((F.col("n") >= 5) & (F.col("vmax") > F.col("vmin"))).withColumn(
        "delta", 0.05 * (F.col("vmax") - F.col("vmin")) + 1e-9
    )
    yb = F.col("v") - (F.col("vmin") - F.col("delta"))
    bigl = (F.col("vmax") - F.col("vmin")) + 2 * F.col("delta")
    xz = obs.join(F.broadcast(good), "doc_id").select(
        "doc_id", "n", "vmin", "vmax", "delta", "v",
        ((F.col("h") - F.col("hmin")) * 1.0
         / F.greatest(F.col("hmax") - F.col("hmin"), F.lit(1))).alias("xx"),
        F.log(yb / (bigl - yb)).alias("zz"),
    )
    fit = xz.groupBy("doc_id").agg(
        F.any_value("n").alias("n_obs"),
        F.regr_slope("zz", "xx").alias("k"),
        F.regr_intercept("zz", "xx").alias("c"),
        F.any_value("vmin").alias("vmin"),
        F.any_value("vmax").alias("vmax"),
        F.any_value("delta").alias("delta"),
    )
    j = xz.select("doc_id", "xx", "v").join(F.broadcast(fit), "doc_id")
    lfit = (F.col("vmax") - F.col("vmin")) + 2 * F.col("delta")
    pred = lfit / (1 + F.exp(-(F.col("k") * F.col("xx") + F.col("c")))) + (
        F.col("vmin") - F.col("delta")
    )
    return (
        j.groupBy("doc_id", "n_obs", "k", "c")
        .agg(
            F.round(
                F.lit(1e-9) + F.sqrt(F.avg((pred - F.col("v")) * (pred - F.col("v")))),
                4,
            ).alias("fit_rmse")
        )
        .select(
            "doc_id", "n_obs",
            F.round(F.lit(1e-9) + F.col("k"), 4).alias("fit_k"),
            F.round(F.lit(1e-9) + F.col("c"), 4).alias("fit_c"),
            "fit_rmse",
        )
    )


# =====================================================================
# Retention policy + invalidation refresh (the "retention engine" core)
# =====================================================================

_SQL_RETENTION_SERVING = """
    WITH anchor AS (
      SELECT cast((floor(floor(epoch(max(ts)))/86400)+1)*86400 AS bigint) AS a
      FROM events
    ),
    tagged AS (
      SELECT event_type, value,
             cast(floor(epoch(ts)) AS bigint) AS sec,
             (SELECT a FROM anchor) - cast(floor(epoch(ts)) AS bigint) AS age
      FROM events
    )
    SELECT 'raw' AS tier, event_type, sec AS bucket_ts,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value,
           round(1e-9 + avg(value), 4) AS mean_value
    FROM tagged WHERE age <= 172800 GROUP BY 2, 3
    UNION ALL
    SELECT 'hourly', event_type, cast(floor(sec/3600)*3600 AS bigint),
           count(*), round(1e-9 + sum(value), 4), round(1e-9 + avg(value), 4)
    FROM tagged WHERE age > 172800 AND age <= 604800 GROUP BY 2, 3
    UNION ALL
    SELECT 'daily', event_type, cast(floor(sec/86400)*86400 AS bigint),
           count(*), round(1e-9 + sum(value), 4), round(1e-9 + avg(value), 4)
    FROM tagged WHERE age > 604800 AND age <= 1814400 GROUP BY 2, 3
    UNION ALL
    SELECT 'weekly', event_type,
           cast((floor((floor(sec/86400)+3)/7)*7-3)*86400 AS bigint),
           count(*), round(1e-9 + sum(value), 4), round(1e-9 + avg(value), 4)
    FROM tagged WHERE age > 1814400 GROUP BY 2, 3
"""


@_q("retention_serving_union", _SQL_RETENTION_SERVING)
def retention_serving_union(spark, sf_dir):
    """Retention-policy serving view: the freshest 2 days stay raw,
    then hourly to 7 d, daily to 21 d, weekly forever — each event is
    served at exactly one tier (integer age bands against the
    deterministic day-after-max anchor partition the timeline), so the
    union is THE query surface a retention engine exposes after old
    raw data is dropped. Routes through
    operators/rollup.py::retention_serving; the oracle rebuilds all
    four age bands from the raw table, so a hash match proves the
    stitched view loses and double-counts nothing. Scale shape: the
    anchor is a 1-row broadcast; each band's age predicate prunes a
    date-partitioned scan to its own slice."""
    from sentinel2_crop_trait_timeseries_spark.operators.rollup import (
        retention_serving,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    out = retention_serving(ev)
    return out.select(
        "tier", "event_type", "bucket_ts", "n",
        F.round(F.lit(1e-9) + F.col("sum_value"), 4).alias("sum_value"),
        F.round(F.lit(1e-9) + F.col("sum_value") / F.col("n"), 4).alias(
            "mean_value"
        ),
    )


@_q(
    "caggs_incremental_refresh",
    f"""
    SELECT event_type, {_SQL_DAY} AS bucket_ts, count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value,
           round(1e-9 + avg(value), 4) AS mean_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def caggs_incremental_refresh(spark, sf_dir):
    """Continuous-aggregate refresh with invalidation: 5% of events
    (event_id % 20 == 0) arrive LATE; the daily tier was materialized
    without them. The refresh recomputes only the invalidated
    (event_type, day) buckets — distinct buckets touched by the late
    batch, broadcast into a left-anti (drop stale) and a left-semi
    (restrict the recompute scan) join — and unions the untouched
    materialization. The oracle is the plain full recompute over all
    events, so a hash match proves the incremental path is EXACT, not
    approximately-merged: refresh work scales with the invalidated
    slice, correctness never degrades to eventual. Routes through
    operators/rollup.py::incremental_refresh."""
    from sentinel2_crop_trait_timeseries_spark.operators.rollup import (
        incremental_refresh,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    late = ev.filter(F.col("event_id") % 20 == 0).drop("event_id")
    initial = ev.filter(F.col("event_id") % 20 != 0).drop("event_id")
    ref = incremental_refresh(initial, late)
    return ref.select(
        "event_type", "bucket_ts", "n",
        F.round(F.lit(1e-9) + F.col("sum_value"), 4).alias("sum_value"),
        F.round(F.lit(1e-9) + F.col("sum_value") / F.col("n"), 4).alias(
            "mean_value"
        ),
        "min_value", "max_value",
    )
