"""Driver-contract query catalog: Spark DataFrame query + DuckDB oracle SQL.

Each entry re-expresses one operator family from SURVEY.md §2 over the
driver's parquet tables (events / lineitem / orders / customer / nation /
region / part / supplier / documents / embeddings). The Spark side is
idiomatic DataFrame API (broadcast hints, window functions, built-in
expressions only — no Python in the hot path); the oracle side is ANSI-ish
SQL DuckDB runs on the same parquet.

Portability rules (so the driver's order-insensitive value-hash matches):
- every computed column is aliased identically on both sides
- timestamps are surfaced as BIGINT epoch seconds: Spark ``cast(ts as
  long)`` truncates micros, DuckDB ``cast(floor(epoch(ts)) as bigint)``
  (DuckDB's bare bigint cast *rounds*, which would mismatch)
- time buckets are pure epoch arithmetic (floor(sec/3600)*3600 etc.), so
  results are independent of either engine's session timezone
- float aggregates are rounded (4 dp; 2 dp for ~1e8-magnitude sums where
  accumulated fp error could touch the 4th decimal); both engines round
  half-away-from-zero
- divisions are guarded (greatest(|x|, eps)) because Spark yields NULL on
  x/0 while DuckDB yields inf
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.functions.response import (
    PARAMS_BY_GRANULARITY,
)
from sentinel2_crop_trait_timeseries_spark.operators.rollup import (
    _bucket_sec,
    _sec,
)

# name -> {"fn": callable(spark, sf_dir) -> DataFrame, "sql": str | None}
QUERIES: dict[str, dict] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn: Callable):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # buckets below are tz-free arithmetic, but date literals /
            # date_trunc in a few queries want a deterministic session tz
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        QUERIES[name] = {"fn": wrapped, "sql": sql}
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Restore scan parallelism for heavy per-row chains (guide §2.5
    "input skew ... repartition immediately after the read").

    The driver fixtures are ONE small parquet file with one row group
    per table, so a scan is a single split and every expensive narrow
    chain stacked on it (tokenize/shingle/digest/curve math) runs on
    one core of local[32]. A keyless round-robin repartition spreads
    the rows; it fires ONLY when the scan arrived with fewer splits
    than the session's parallelism, so at production scale (hundreds
    of files per table) this is the identity and no extra shuffle
    exists. Round-robin keeps sortBeforeRepartition's deterministic
    retry placement; all catalog queries are partition-invariant by
    contract, so results are unchanged."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _epoch_frac(col) -> F.Column:
    """Epoch seconds as DOUBLE (including micros)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


_DAY = 86400

_SQL_HOUR = "cast(floor(floor(epoch(ts))/3600)*3600 as bigint)"
_SQL_DAY = "cast(floor(floor(epoch(ts))/86400)*86400 as bigint)"
_SQL_WEEK = (
    "cast((floor((floor(floor(epoch(ts))/86400)+3)/7)*7-3)*86400 as bigint)"
)


# =====================================================================
# Rollup tiers (SURVEY §2.4: temporal downsample; engine rollup operator)
# =====================================================================

def _rollup_sql(bucket: str) -> str:
    """Oracle of the tier rollups: every tier straight from the events."""
    return f"""
    SELECT event_type,
           {bucket} AS bucket_ts,
           count(*) AS n,
           round(1e-9 + sum(value), 4) AS sum_value,
           round(1e-9 + avg(value), 4) AS mean_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """


@_q("rollup_hourly", _rollup_sql(_SQL_HOUR))
def rollup_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    hour = _bucket_sec(_sec("ts"), 3600)
    return ev.groupBy("event_type", hour.alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.lit(1e-9) + F.sum("value"), 4).alias("sum_value"),
        F.round(F.lit(1e-9) + F.avg("value"), 4).alias("mean_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# column name of the fine tier's bucket in a cascade
_TIER_COL = {3600: "hour_ts", _DAY: "day_ts"}


def _cascade(spark, sf_dir, fine: int, coarse) -> DataFrame:
    """Tier at ``coarse`` computed BY RE-AGGREGATING the tier at ``fine``
    (the engine's cascade plan — the big shuffle touches raw rows once;
    the oracle aggregates the coarse tier directly, proving tier
    consistency)."""
    ev = _t(spark, sf_dir, "events")
    col = _TIER_COL[fine]
    fine_bucket = _bucket_sec(_sec("ts"), fine)
    tier = ev.groupBy("event_type", fine_bucket.alias(col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    bucket = _bucket_sec(F.col(col), coarse)
    return tier.groupBy("event_type", bucket.alias("bucket_ts")).agg(
        F.sum("n").alias("n"),
        F.round(F.lit(1e-9) + F.sum("s"), 4).alias("sum_value"),
        F.round(F.lit(1e-9) + F.sum("s") / F.sum("n"), 4).alias("mean_value"),
        F.min("mn").alias("min_value"),
        F.max("mx").alias("max_value"),
    )


@_q("rollup_daily_cascade", _rollup_sql(_SQL_DAY))
def rollup_daily_cascade(spark, sf_dir):
    """Daily tier re-aggregated from the hourly tier."""
    return _cascade(spark, sf_dir, 3600, _DAY)


@_q("rollup_weekly_cascade", _rollup_sql(_SQL_WEEK))
def rollup_weekly_cascade(spark, sf_dir):
    """Weekly tier re-aggregated from the daily tier (Monday-aligned,
    pure epoch arithmetic so it is timezone-free in both engines)."""
    return _cascade(spark, sf_dir, _DAY, "week")


@_q(
    "continuous_agg_daily",
    f"""
    SELECT event_type,
           {_SQL_DAY} AS bucket_ts,
           count(*) AS n,
           round(1e-9 + avg(value), 4) AS mean_value,
           round(1e-9 + stddev_pop(value), 4) AS std_value,
           round(1e-9 + quantile_cont(value, 0.05), 4) AS q05,
           round(1e-9 + quantile_cont(value, 0.50), 4) AS q50,
           round(1e-9 + quantile_cont(value, 0.95), 4) AS q95
    FROM events GROUP BY 1, 2
    """,
)
def continuous_agg_daily(spark, sf_dir):
    """Cross-doc continuous aggregate with EXACT percentiles (reference:
    parcel percentile profiles, validation/04_temporal_profiles.py:188-206)."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    day = _bucket_sec(_sec("ts"), _DAY)
    return ev.groupBy("event_type", day.alias("bucket_ts")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.lit(1e-9) + F.avg(v), 4).alias("mean_value"),
        F.round(F.lit(1e-9) + F.stddev_pop(v), 4).alias("std_value"),
        F.round(F.lit(1e-9) + F.percentile(v, F.lit(0.05)), 4).alias("q05"),
        F.round(F.lit(1e-9) + F.percentile(v, F.lit(0.50)), 4).alias("q50"),
        F.round(F.lit(1e-9) + F.percentile(v, F.lit(0.95)), 4).alias("q95"),
    )


# =====================================================================
# Error-stats aggregate bundle (reference validation/utils.py:15-77)
# =====================================================================

@_q(
    "error_stats_by_type",
    f"""
    WITH p AS (
      SELECT event_type, value,
             avg(value) OVER (PARTITION BY event_type, {_SQL_DAY}) AS pred
      FROM events
    )
    SELECT event_type,
           count(*) AS n,
           round(1e-9 + sqrt(avg((pred - value) * (pred - value))), 4) AS rmse,
           round(1e-9 + avg(abs(pred - value)), 4) AS mae,
           round(1e-9 + avg(pred - value), 4) AS bias,
           round(1e-9 + avg(abs(pred - value) / greatest(abs(value), 1e-9)), 4) AS mape,
           round(1e-9 + 1.4826 * quantile_cont(abs(pred - value), 0.5), 4) AS nmad,
           round(1e-9 + corr(value, pred) * corr(value, pred), 4) AS r2,
           round(1e-9 + regr_slope(pred, value), 4) AS slope,
           round(1e-9 + regr_intercept(pred, value), 4) AS intercept
    FROM p GROUP BY 1
    """,
)
def error_stats_by_type(spark, sf_dir):
    """One-pass RMSE/MAE/bias/MAPE/NMAD/R2/slope/intercept, all built-in
    aggregates (single whole-stage-codegen agg, map-side partials)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", _bucket_sec(_sec("ts"), _DAY))
    p = ev.withColumn("pred", F.avg("value").over(w))
    o, pr = F.col("value"), F.col("pred")
    err = pr - o
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.lit(1e-9) + F.sqrt(F.avg(err * err)), 4).alias("rmse"),
        F.round(F.lit(1e-9) + F.avg(F.abs(err)), 4).alias("mae"),
        F.round(F.lit(1e-9) + F.avg(err), 4).alias("bias"),
        F.round(F.lit(1e-9) + F.avg(F.abs(err) / F.greatest(F.abs(o), F.lit(1e-9))), 4).alias("mape"),
        F.round(F.lit(1e-9) + F.lit(1.4826) * F.percentile(F.abs(err), F.lit(0.5)), 4).alias("nmad"),
        F.round(F.lit(1e-9) + F.corr(o, pr) * F.corr(o, pr), 4).alias("r2"),
        F.round(F.lit(1e-9) + F.regr_slope(pr, o), 4).alias("slope"),
        F.round(F.lit(1e-9) + F.regr_intercept(pr, o), 4).alias("intercept"),
    )


# =====================================================================
# Ordered analytics / windows (SURVEY §2.5)
# =====================================================================

_W_USER = "PARTITION BY user_id ORDER BY ts, event_id"


@_q(
    "cumsum_user",
    f"""
    SELECT event_id,
           round(1e-9 + sum(value) OVER ({_W_USER}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value
    FROM events
    """,
)
def cumsum_user(spark, sf_dir):
    """Cumulative dose (reference: temp_response cumsum,
    04_reconstruct_s2_traits.py:193-195). Identical accumulation order on
    both sides -> bit-stable before rounding."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", F.round(F.lit(1e-9) + F.sum("value").over(w), 4).alias("cum_value")
    )


@_q(
    "lag_diff_monotone",
    f"""
    WITH d AS (
      SELECT event_id, value - lag(value) OVER ({_W_USER}) AS diff
      FROM events
    )
    SELECT event_id, round(1e-9 + diff, 4) AS diff FROM d
    WHERE diff IS NOT NULL AND diff >= 0
    """,
)
def lag_diff_monotone(spark, sf_dir):
    """lag + monotonic filter (reference drops negative assimilated diffs,
    04_reconstruct_s2_traits.py:481-502)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.withColumn("diff", F.col("value") - F.lag("value").over(w))
    return d.filter(F.col("diff").isNotNull() & (F.col("diff") >= 0)).select(
        "event_id", F.round(F.lit(1e-9) + F.col("diff"), 4).alias("diff")
    )


@_q(
    "outlier_filter",
    f"""
    WITH s AS (
      SELECT event_id, value,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             stddev_pop(value) OVER (PARTITION BY user_id) AS sd,
             row_number() OVER ({_W_USER}) AS rn
      FROM events
    )
    SELECT event_id FROM s WHERE rn = 1 OR value >= mu - sd
    """,
)
def outlier_filter(spark, sf_dir):
    """Below mean-minus-std outlier drop, first row exempt (reference
    prepare_lai_ts, 04_reconstruct_s2_traits.py:142-148)."""
    ev = _t(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_id",
        "value",
        F.avg("value").over(wp).alias("mu"),
        F.stddev_pop("value").over(wp).alias("sd"),
        F.row_number().over(wo).alias("rn"),
    )
    return s.filter(
        (F.col("rn") == 1) | (F.col("value") >= F.col("mu") - F.col("sd"))
    ).select("event_id")


@_q(
    "knockout_mask",
    """
    SELECT event_type,
           count(*) AS n_total,
           count(CASE WHEN event_id % 10 <> 0 THEN value END) AS n_kept,
           round(1e-9 + avg(CASE WHEN event_id % 10 <> 0 THEN value END), 4) AS mean_kept
    FROM events GROUP BY 1
    """,
)
def knockout_mask(spark, sf_dir):
    """Deterministic 10% knockout (engine fix of the reference's
    order-dependent np.random.choice, 04_reconstruct_s2_traits.py:131-136)."""
    ev = _t(spark, sf_dir, "events")
    masked = F.when(F.col("event_id") % 10 != 0, F.col("value"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(masked).alias("n_kept"),
        F.round(F.lit(1e-9) + F.avg(masked), 4).alias("mean_kept"),
    )


@_q(
    "sessionize",
    f"""
    WITH s AS (
      SELECT user_id, value,
             cast(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER ({_W_USER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS bigint) AS seg
      FROM events
    )
    SELECT user_id, seg, count(*) AS n, round(1e-9 + sum(value), 4) AS sum_value
    FROM s GROUP BY 1, 2
    """,
)
def sessionize(spark, sf_dir):
    """Segment construction via running count of marker rows (reference:
    obs-to-obs windows, 04_reconstruct_s2_traits.py:184-209)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).over(w)
    return (
        ev.withColumn("seg", seg)
        .groupBy("user_id", "seg")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.lit(1e-9) + F.sum("value"), 4).alias("sum_value"))
    )


@_q(
    "asof_join_signup",
    f"""
    WITH s AS (
      SELECT event_id, event_type,
             last_value(CASE WHEN event_type = 'signup'
                             THEN cast(floor(epoch(ts)) as bigint) END IGNORE NULLS)
               OVER ({_W_USER}) AS signup_epoch
      FROM events
    )
    SELECT event_id, signup_epoch FROM s WHERE event_type = 'purchase'
    """,
)
def asof_join_signup(spark, sf_dir):
    """AS-OF join: most recent prior signup per purchase, as a
    last-ignore-nulls window — no range-join explosion, scales linearly."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sig = F.last(
        F.when(F.col("event_type") == "signup", _sec("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("signup_epoch", sig)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "signup_epoch")
    )


@_q(
    "tolerance_join",
    """
    SELECT err_id, purch_id FROM (
      SELECT e.event_id AS err_id, p.event_id AS purch_id,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY p.ts, p.event_id) AS rn
      FROM events e JOIN events p
        ON e.user_id = p.user_id
       AND p.event_type = 'purchase'
       AND abs(epoch(e.ts) - epoch(p.ts)) <= 3600
      WHERE e.event_type = 'error'
    ) WHERE rn = 1
    """,
)
def tolerance_join(spark, sf_dir):
    """Temporal tolerance (band) join + earliest tie-break (reference:
    insitu date ±1 day vs sat date, 00_validate_s2_glai_observations.py:155-174)."""
    ev = _t(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("u"),
        _sec("ts").alias("e_sec"),
        _epoch_frac("ts").alias("e_t"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purch_id"),
        F.col("user_id").alias("u"),
        _epoch_frac("ts").alias("p_t"),
        F.col("ts").alias("p_ts"),
    )
    j = e.join(p, "u").filter(F.abs(F.col("e_t") - F.col("p_t")) <= 3600)
    w = Window.partitionBy("err_id").orderBy("p_ts", "purch_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("err_id", "purch_id")
    )


@_q(
    "daily_spine_zerofill",
    """
    WITH b AS (
      SELECT cast(floor(floor(epoch(min(ts)))/86400) AS bigint) AS lo,
             cast(floor(floor(epoch(max(ts)))/86400) AS bigint) AS hi
      FROM events
    ),
    days AS (SELECT unnest(generate_series(lo, hi)) * 86400 AS bucket_ts FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
      SELECT event_type,
             cast(floor(floor(epoch(ts))/86400)*86400 AS bigint) AS bucket_ts,
             count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, d.bucket_ts, coalesce(c.c, 0) AS n
    FROM days d CROSS JOIN types t
    LEFT JOIN cnt c ON c.event_type = t.event_type AND c.bucket_ts = d.bucket_ts
    """,
)
def daily_spine_zerofill(spark, sf_dir):
    """Gap spine generation: sequence+explode daily spine x dims, zero-filled
    (reference: pd.date_range spine, baseline/01_run_baseline_model.py:293-295)."""
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.floor(F.min(_sec("ts")) / _DAY).alias("lo"),
        F.floor(F.max(_sec("ts")) / _DAY).alias("hi"),
    )
    days = b.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    ).select((F.col("d") * _DAY).cast("long").alias("bucket_ts"))
    types = ev.select("event_type").distinct()
    cnt = ev.groupBy(
        "event_type", _bucket_sec(_sec("ts"), _DAY).alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        days.crossJoin(F.broadcast(types))
        .join(cnt, ["event_type", "bucket_ts"], "left")
        .select("event_type", "bucket_ts", F.coalesce("c", F.lit(0)).alias("n"))
    )


@_q(
    "topk_per_group",
    """
    SELECT event_type, event_id, rn, value FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "rn", "value")
    )


@_q(
    "event_histogram",
    "SELECT event_type, count(*) AS n FROM events GROUP BY 1",
)
def event_histogram(spark, sf_dir):
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@_q(
    "user_first_last",
    """
    SELECT user_id, count(*) AS n,
           cast(floor(epoch(min(ts))) AS bigint) AS first_epoch,
           cast(floor(epoch(max(ts))) AS bigint) AS last_epoch,
           min_by(value, ts) AS first_val,
           max_by(value, ts) AS last_val
    FROM events GROUP BY 1
    """,
)
def user_first_last(spark, sf_dir):
    """First/last of ordered group (reference: window endpoints,
    04_reconstruct_s2_traits.py:196-204)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(_sec("ts")).alias("first_epoch"),
        F.max(_sec("ts")).alias("last_epoch"),
        F.min_by("value", "ts").alias("first_val"),
        F.max_by("value", "ts").alias("last_val"),
    )


@_q(
    "rollup_grouping_sets",
    """
    SELECT coalesce(event_type, 'ALL') AS event_type,
           count(*) AS n, round(1e-9 + sum(value), 2) AS sum_value
    FROM events GROUP BY ROLLUP(event_type)
    """,
)
def rollup_grouping_sets(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.rollup("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.lit(1e-9) + F.sum("value"), 2).alias("sum_value")
    ).select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"), "n", "sum_value"
    )


@_q(
    "json_props",
    """
    SELECT cast(json_extract_string(props, '$.k') AS int) % 10 AS k_mod,
           count(*) AS n,
           round(1e-9 + avg(cast(json_extract_string(props, '$.k') AS int)), 4) AS mean_k
    FROM events GROUP BY 1
    """,
)
def json_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy((k % 10).alias("k_mod")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.lit(1e-9) + F.avg(k), 4).alias("mean_k")
    )


# =====================================================================
# TPC-H-ish relational coverage (joins / filters / aggregates)
# =====================================================================

@_q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(1e-9 + sum(l_quantity), 2) AS sum_qty,
           round(1e-9 + sum(l_extendedprice), 2) AS sum_base_price,
           round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(1e-9 + sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(1e-9 + avg(l_quantity), 4) AS avg_qty,
           round(1e-9 + avg(l_extendedprice), 4) AS avg_price,
           round(1e-9 + avg(l_discount), 4) AS avg_disc,
           count(*) AS n
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
    GROUP BY 1, 2
    """,
)
def pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-filter-agg with algebraic bundle, fully
    codegen'd with map-side partial aggregation."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-01 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.lit(1e-9) + F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.lit(1e-9) + F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.lit(1e-9) + F.sum(disc), 2).alias("sum_disc_price"),
        F.round(F.lit(1e-9) + F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.lit(1e-9) + F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.lit(1e-9) + F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.lit(1e-9) + F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "revenue_by_nation",
    """
    SELECT n.n_name, r.r_name,
           count(*) AS n_orders,
           round(1e-9 + sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def revenue_by_nation(spark, sf_dir):
    """Star join: fact ⋈ broadcast dims (nation/region/customer are tiny —
    explicit broadcast() keeps the plan shuffle-free on the dim side)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.lit(1e-9) + F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@_q(
    "brand_part_stats",
    """
    SELECT p.p_brand,
           count(*) AS n,
           round(1e-9 + avg(l.l_extendedprice), 4) AS avg_price,
           round(1e-9 + sum(l.l_quantity), 2) AS sum_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1
    """,
)
def brand_part_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.lit(1e-9) + F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.lit(1e-9) + F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@_q(
    "customers_no_orders",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def customers_no_orders(spark, sf_dir):
    """Left-anti join (reference: skip-if-done / blacklist semantics,
    02_extract_s2_traits.py:93-96)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@_q(
    "big_spender_segments",
    """
    SELECT c_mktsegment, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    GROUP BY 1
    """,
)
def big_spender_segments(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "part_name_split",
    """
    SELECT string_split(p_name, ' ')[1] AS adjective, p_type,
           count(*) AS n, round(1e-9 + avg(p_retailprice), 4) AS avg_price
    FROM part GROUP BY 1, 2
    """,
)
def part_name_split(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.groupBy(
        F.split("p_name", " ")[0].alias("adjective"), "p_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.lit(1e-9) + F.avg("p_retailprice"), 4).alias("avg_price"),
    )


@_q(
    "orders_date_window",
    """
    SELECT o_orderpriority, count(*) AS n, round(1e-9 + avg(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00' + INTERVAL 90 DAY
    GROUP BY 1
    """,
)
def orders_date_window(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    return (
        o.filter(
            (F.col("o_orderdate") >= lo)
            & (F.col("o_orderdate") < F.date_add(lo, 90))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.lit(1e-9) + F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


# =====================================================================
# Gap-fill (the flagship): dense hourly or daily spine between sparse
# anchors, value interpolated by cumulative dose-response — full SQL
# oracle. Reference: interpolate_between_assimilated_points
# (/root/reference/src/04_reconstruct_s2_traits.py:162-213), run for
# 3 response curves x {hourly, daily} covariates (:623-632).
# =====================================================================

# bucket index column of each gap-fill grain (h: hours, d: days)
_GAP_IDX = {3600: "h", _DAY: "d"}


def _gapfill_sql(width: int, response: tuple[str, str] | None = None) -> str:
    """Oracle of _gapfill: ``response`` is None (time-linear) or the
    (covariate t, curve r of t) SQL pair over the bucket index column."""
    x = _GAP_IDX[width]
    frac_time = f"({x} - {x}0) * 1.0 / greatest({x}1 - {x}0, 1)"
    spine = f"""
    WITH anchors AS (
      SELECT user_id, cast(floor(floor(epoch(ts))/{width}) AS bigint) AS {x},
             avg(value) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    seg AS (
      SELECT user_id, {x} AS {x}0, v AS v0,
             coalesce(lead({x}) OVER w, {x}) AS {x}1,
             coalesce(lead(v) OVER w, v) AS v1
      FROM anchors WINDOW w AS (PARTITION BY user_id ORDER BY {x})
    ),
    spine AS (
      SELECT user_id, {x}0, v0, {x}1, v1,
             unnest(generate_series({x}0, {x}1)) AS {x}
      FROM seg
    )"""
    if response is None:
        return f"""{spine}
    SELECT DISTINCT user_id, {x} * {width} AS bucket_ts,
           round(1e-9 + v0 + {frac_time} * (v1 - v0), 4) AS value
    FROM spine
"""
    t, r = response
    return f"""{spine},
    tt AS (SELECT *, {t} AS t FROM spine),
    resp AS (SELECT *, {r} AS r FROM tt),
    cum AS (
      SELECT user_id, {x}0, v0, {x}1, v1, {x}, r,
             sum(r) OVER (PARTITION BY user_id, {x}0 ORDER BY {x}
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             first_value(r) OVER (PARTITION BY user_id, {x}0 ORDER BY {x}) AS in_min_r,
             sum(r) OVER (PARTITION BY user_id, {x}0) AS in_max
      FROM resp
    )
    SELECT DISTINCT user_id, {x} * {width} AS bucket_ts,
           round(1e-9 + CASE WHEN in_max - in_min_r > 0
                 THEN v0 + (c - in_min_r) / (in_max - in_min_r) * (v1 - v0)
                 ELSE v0 + {frac_time} * (v1 - v0)
                 END, 4) AS value
    FROM cum
"""
# NOTE in_min semantics: reference uses cumsum[0] == r at the left anchor;
# first_value(r) == cum at the first row, identical by construction.


def _gapfill(
    spark,
    sf_dir,
    width: int,
    response: Callable[[F.Column], F.Column] | None = None,
) -> DataFrame:
    """Gap-fill of the per-bucket mean 'purchase' value of every user at
    bucket ``width`` seconds: each pair of consecutive anchors spans a
    dense spine; the value moves from v0 to v1 by the cumulative
    ``response`` (a Column function of the bucket index) over the
    segment, or time-linearly where the response is flat or None. All
    built-in expressions (sequence/explode/window cumsum): whole-stage
    codegen, no Python."""
    x = _GAP_IDX[width]
    x0, x1 = f"{x}0", f"{x}1"
    ev = _t(spark, sf_dir, "events")
    anchors = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.floor(_sec("ts") / width).cast("long").alias(x))
        .agg(F.avg("value").alias("v"))
    )
    w = Window.partitionBy("user_id").orderBy(x)
    seg = anchors.select(
        "user_id",
        F.col(x).alias(x0),
        F.col("v").alias("v0"),
        F.coalesce(F.lead(x).over(w), F.col(x)).alias(x1),
        F.coalesce(F.lead("v").over(w), F.col("v")).alias("v1"),
    )
    spine = seg.select("*", F.explode(F.sequence(x0, x1)).alias(x))
    frac_time = (F.col(x) - F.col(x0)) / F.greatest(
        F.col(x1) - F.col(x0), F.lit(1)
    )
    dv = F.col("v1") - F.col("v0")
    if response is None:
        out, val = spine, F.lit(1e-9) + F.col("v0") + frac_time * dv
    else:
        resp = spine.withColumn("r", response(F.col(x)))
        wc = (
            Window.partitionBy("user_id", x0)
            .orderBy(x)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wall = Window.partitionBy("user_id", x0)
        wf = Window.partitionBy("user_id", x0).orderBy(x)
        out = resp.select(
            "user_id", x0, "v0", x1, "v1", x,
            F.sum("r").over(wc).alias("c"),
            F.first("r").over(wf).alias("in_min_r"),
            F.sum("r").over(wall).alias("in_max"),
        )
        rng = F.col("in_max") - F.col("in_min_r")
        frac_resp = (F.col("c") - F.col("in_min_r")) / rng
        val = F.lit(1e-9) + (
            F.col("v0") + F.when(rng > 0, frac_resp).otherwise(frac_time) * dv
        )
    return out.select(
        "user_id",
        (F.col(x) * width).alias("bucket_ts"),
        F.round(val, 4).alias("value"),
    ).distinct()


# diurnal covariate (tz-free): T(h) = 15 + 8*sin(2*pi*(mod(h,24)/24 - 0.3))
# response: asymptotic with the reference's fitted hourly params
# (Asym=14.945, lrc=-7.393, c0=2.163)
@_q(
    "gapfill_dose_response",
    _gapfill_sql(
        3600,
        (
            "(15 + 8 * sin(2 * pi() * ((h % 24) / 24.0 - 0.3)))",
            "greatest(0.0, 14.945 * (1 - exp(-exp(-7.393) * (t - 2.163))))",
        ),
    ),
)
def gapfill_dose_response(spark, sf_dir):
    """Dense reconstruction between sparse anchors where the interpolation
    fraction is the cumulative dose-response of a diurnal covariate —
    the engine's core semantics with a complete SQL oracle."""

    def r(h):
        t = 15 + 8 * F.sin(2 * 3.141592653589793 * ((h % 24) / 24.0 - 0.3))
        return F.greatest(
            F.lit(0.0),
            14.945 * (1 - F.exp(-F.exp(F.lit(-7.393)) * (t - 2.163))),
        )

    return _gapfill(spark, sf_dir, 3600, r)


@_q("gapfill_linear", _gapfill_sql(3600))
def gapfill_linear(spark, sf_dir):
    """Time-linear gap-fill (the reference's fallback when the response is
    flat over a segment)."""
    return _gapfill(spark, sf_dir, 3600)


# gapfill_wang_engels pins the trickiest boundary semantics (outside
# [xmin,xmax] -> 0, SURVEY §2.10); the daily variant pins the
# resample('D').mean() covariate downsample (:396-397) feeding the fill.

# full seasonal+diurnal covariate (temperature_np), on an integer-hour
# column named {h}: both engines use C-style % (sign of dividend), and
# h is always positive here, so the phases agree bit-for-bit
_T_OF_H_SQL = (
    "(10 + 12*sin(2*pi()*((({h} - 455832) % 8760)/8760.0 - 0.25))"
    " + 4*sin(2*pi()*(({h} % 24)/24.0 - 0.3)))"
)

_TWO_PI = 2.0 * math.pi


def _t_of_h_col(hh: F.Column) -> F.Column:
    return (
        F.lit(10.0)
        + 12.0 * F.sin(F.lit(_TWO_PI) * (((hh - 455832) % 8760) / 8760.0 - 0.25))
        + 4.0 * F.sin(F.lit(_TWO_PI) * ((hh % 24) / 24.0 - 0.3))
    )


_WE = PARAMS_BY_GRANULARITY["hourly"]["wang_engels"]
_WE_DEN = _WE["xopt"] - _WE["xmin"]
_WE_ALPHA = math.log(2.0) / math.log((_WE["xmax"] - _WE["xmin"]) / _WE_DEN)


@_q(
    "gapfill_wang_engels",
    _gapfill_sql(
        3600,
        (
            _T_OF_H_SQL.format(h="h"),
            f"""CASE WHEN t >= {_WE['xmin']!r} AND t <= {_WE['xmax']!r}
                  THEN pow((t - {_WE['xmin']!r}) / {_WE_DEN!r}, {_WE_ALPHA!r})
                       * (2 - pow((t - {_WE['xmin']!r}) / {_WE_DEN!r}, {_WE_ALPHA!r}))
                  ELSE 0.0 END""",
        ),
    ),
)
def gapfill_wang_engels(spark, sf_dir):
    """Dose-response gap-fill with the Wang-Engels curve at the
    reference's HOURLY fitted parameters (xmax - xopt = 0.13 C, so the
    upper boundary -> 0 clamp is actually exercised by the seasonal
    covariate, and winter temperatures below xmin give all-zero
    segments that pin the time-linear fallback). Uses the normalized
    overflow-free form t^a*(2-t^a) — the reference's own formula
    overflows float64 at these parameters (see functions/response.py).
    """

    def r(h):
        t = _t_of_h_col(h)
        ta = F.pow((t - _WE["xmin"]) / F.lit(_WE_DEN), F.lit(_WE_ALPHA))
        return F.when(
            (t >= _WE["xmin"]) & (t <= _WE["xmax"]), ta * (F.lit(2.0) - ta)
        ).otherwise(F.lit(0.0))

    return _gapfill(spark, sf_dir, 3600, r)


_AS_D = PARAMS_BY_GRANULARITY["daily"]["asymptotic"]


@_q(
    "gapfill_asymptotic_daily",
    _gapfill_sql(
        _DAY,
        (
            f"""list_aggregate(list_transform(generate_series(0, 23),
                  k -> {_T_OF_H_SQL.format(h='(d*24 + k)')}), 'sum') / 24.0""",
            f"""greatest(0.0, {_AS_D['Asym']!r} * (1 - exp(-exp({_AS_D['lrc']!r})
               * (t - {_AS_D['c0']!r}))))""",
        ),
    ),
)
def gapfill_asymptotic_daily(spark, sf_dir):
    """Daily-granularity gap-fill: the covariate is downsampled to the
    DAILY MEAN before the response (the reference's
    meteo.resample('D').mean(), 04_reconstruct_s2_traits.py:396-397),
    with the reference's daily asymptotic fit. The 24-hour mean is a
    JVM-side higher-order fold (aggregate over sequence(0,23)) — no
    explode, no Python; both engines fold k ascending."""

    def r(d):
        t_day = (
            F.aggregate(
                F.sequence(F.lit(0), F.lit(23)),
                F.lit(0.0),
                lambda acc, k: acc + _t_of_h_col(d * 24 + k),
            )
            / 24.0
        )
        return F.greatest(
            F.lit(0.0),
            _AS_D["Asym"]
            * (F.lit(1.0) - F.exp(-math.exp(_AS_D["lrc"]) * (t_day - _AS_D["c0"]))),
        )

    return _gapfill(spark, sf_dir, _DAY, r)


# =====================================================================
# Broadcast-LUT inversion (reference: per-pixel inversion against a
# pickled 50k-row LUT keeping the n smallest-cost solutions and taking
# the median trait — /root/reference/src/02_extract_s2_traits.py:99-160)
# =====================================================================

_LUT_K = 2000
_LUT_DIMS = 8
_LUT_TOPN = 5

_LUT_SQL = f"""
    WITH lut AS (
      SELECT i AS lut_id,
             list_transform(generate_series(0, {_LUT_DIMS - 1}),
                            j -> 2*sin(i*0.37 + j*1.3)) AS spec,
             round(i*0.01, 2) AS trait
      FROM range({_LUT_K}) t(i)
    ),
    e AS (SELECT vec_id, embedding[1:{_LUT_DIMS}] AS emb FROM embeddings),
    scored AS (
      SELECT vec_id, lut_id, trait,
             round(1e-9 + sqrt(list_aggregate(
               list_transform(generate_series(1, {_LUT_DIMS}),
                 j -> (cast(emb[j] AS DOUBLE) - spec[j])
                    * (cast(emb[j] AS DOUBLE) - spec[j])), 'sum')
               / {_LUT_DIMS}), 4) AS cost
      FROM e, lut
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cost, lut_id) AS rank
      FROM scored
    ),
    top AS (SELECT * FROM ranked WHERE rank <= {_LUT_TOPN}),
    med AS (
      SELECT vec_id, round(1e-9 + quantile_cont(trait, 0.5), 4) AS est_trait
      FROM top GROUP BY 1
    )
    SELECT t.vec_id, t.rank, t.lut_id, t.cost, m.est_trait
    FROM top t JOIN med m USING (vec_id)
"""


@_q("lut_inversion_topk", _LUT_SQL)
def lut_inversion_topk(spark, sf_dir):
    """Per-row inversion against a broadcast synthetic LUT: score every
    (row, LUT-entry) pair, keep the n smallest-cost solutions per row,
    estimate the trait as their median — the reference's per-pixel
    RTM inversion shape.

    Scale plan: the LUT is tiny and rides the task closure (the
    broadcast degenerate); the corpus NEVER shuffles — one narrow
    mapInPandas where each Arrow batch scores against the whole LUT as
    dense numpy arrays (the reference's own vectorized inversion shape,
    02_extract_s2_traits.py:99-160) instead of per-pair interpreted
    expressions. The squared-difference fold accumulates dimension-by-
    dimension in the same sequential order as both engines' list folds,
    and ranking keys on (rounded cost, lut_id) packed into one int64 so
    a 1-ulp cross-engine wobble cannot flip a rank."""
    import numpy as np
    import pandas as pd

    lut_ids = np.arange(_LUT_K, dtype=np.int64)
    spec = 2.0 * np.sin(
        lut_ids[:, None] * 0.37 + np.arange(_LUT_DIMS)[None, :] * 1.3
    )
    traits = np.round(lut_ids * 0.01, 2)

    def invert(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
            # sequential per-dimension accumulation == both engines' fold
            acc = np.zeros((len(E), _LUT_K))
            for j in range(_LUT_DIMS):
                d = E[:, j][:, None] - spec[None, :, j]
                acc += d * d
            cost = np.round(1e-9 + np.sqrt(acc / _LUT_DIMS), 4)
            key = (np.round(cost * 10000).astype(np.int64) * _LUT_K
                   + lut_ids[None, :])
            top = np.argsort(key, axis=1)[:, :_LUT_TOPN]
            rows = np.repeat(pdf["vec_id"].to_numpy(), _LUT_TOPN)
            sel_cost = np.take_along_axis(cost, top, axis=1)
            sel_trait = traits[top]
            est = np.round(1e-9 + np.median(sel_trait, axis=1), 4)
            yield pd.DataFrame(
                {
                    "vec_id": rows,
                    "rank": np.tile(np.arange(1, _LUT_TOPN + 1), len(E)),
                    "lut_id": lut_ids[top].ravel(),
                    "cost": sel_cost.ravel(),
                    "est_trait": np.repeat(est, _LUT_TOPN),
                }
            )

    # _spread: the single-file embeddings scan is one split; without it
    # the whole LUT kernel runs on one core (identity at real scale)
    e = _spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.slice("embedding", 1, _LUT_DIMS).alias("emb")
    )
    return e.mapInPandas(
        invert,
        "vec_id bigint, rank int, lut_id bigint, cost double, est_trait double",
    )


# =====================================================================
# Scalar-surface closers: FULL OUTER multi-key join + to_utc_timestamp
# + create_map literal lookup + grid-snap fuzzy dedup in one contract
# query (reference sites: 04_reconstruct_s2_traits.py:346-350 outer
# merge; 03_generate_raw_s2_trait_trajectories.py:178-180 tz ops;
# 01_extract_s2_data.py:273-276 dict map; 04:356-375 geometry snap)
# =====================================================================

_SCALAR_SURFACE_SQL = """
    WITH p AS (
      SELECT user_id, cast(floor(floor(epoch(ts))/86400) AS bigint) AS d,
             round(1e-9 + round(1e-9 + sum(value), 6) * 2, 0) / 2 AS spend_bin
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    v AS (
      SELECT user_id, cast(floor(floor(epoch(ts))/86400) AS bigint) AS d,
             count(*) AS views
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT user_id,
           d * 86400 - 3600 AS utc_ts,
           CASE cast(spend_bin IS NOT NULL AS INT) * 2
                + cast(views IS NOT NULL AS INT)
             WHEN 1 THEN 'views_only' WHEN 2 THEN 'purchases_only'
             WHEN 3 THEN 'both' END AS status,
           coalesce(spend_bin, 0.0) AS spend_bin_f,
           coalesce(views, 0) AS views_f
    FROM p FULL OUTER JOIN v USING (user_id, d)
"""


@_q("scalar_surface_outer", _SCALAR_SURFACE_SQL)
def scalar_surface_outer(spark, sf_dir):
    """FULL OUTER multi-key join of per-day purchase/view aggregates,
    with three scalar demos on top: the day bucket converted through
    to_utc_timestamp with a fixed +01:00 zone (verifiable: a -3600 s
    shift), spend snapped to a 0.5 grid (the reference's <5 m
    geometry-snap shape, round(x/g)*g), and the side-presence flag
    decoded through a create_map literal lookup."""
    ev = _t(spark, sf_dir, "events")
    day = F.floor(_sec("ts") / 86400).cast("long").alias("d")
    # grid snap: round(sum/0.5)*0.5, with the house rounding guard
    spend_bin = (
        F.round(F.lit(1e-9) + F.round(F.lit(1e-9) + F.sum("value"), 6) * 2, 0) / 2
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day)
        .agg(spend_bin.alias("spend_bin"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("views"))
    )
    j = p.join(v, ["user_id", "d"], "full_outer")
    utc_ts = F.to_utc_timestamp(
        F.timestamp_seconds(F.col("d") * 86400), "+01:00"
    ).cast("long")
    status_map = F.create_map(
        F.lit(1), F.lit("views_only"),
        F.lit(2), F.lit("purchases_only"),
        F.lit(3), F.lit("both"),
    )
    flag = (
        F.when(F.col("spend_bin").isNotNull(), 2).otherwise(0)
        + F.when(F.col("views").isNotNull(), 1).otherwise(0)
    )
    return j.select(
        "user_id",
        utc_ts.alias("utc_ts"),
        status_map[flag].alias("status"),
        F.coalesce(F.col("spend_bin"), F.lit(0.0)).alias("spend_bin_f"),
        F.coalesce(F.col("views"), F.lit(0)).alias("views_f"),
    )


@_q(
    "sample_fraction_bounds",
    "SELECT 'bernoulli_sample_10pct' AS chk, 1 AS ok",
)
def sample_fraction_bounds(spark, sf_dir):
    """df.sample(fraction, seed) demo (reference subsamples its LUT,
    02_extract_s2_traits.py:99-100). Bernoulli sampling is
    seed+engine-specific, so the contract pins the INVARIANT — the
    sampled fraction lands within [0.07, 0.13] of the corpus — as a
    boolean the oracle states as a constant."""
    ev = _t(spark, sf_dir, "events")
    n_samp = ev.sample(fraction=0.1, seed=42).agg(
        F.count(F.lit(1)).alias("n_samp")
    )
    n_tot = ev.agg(F.count(F.lit(1)).alias("n_tot"))
    frac = F.col("n_samp") / F.col("n_tot")
    return n_samp.crossJoin(n_tot).select(
        F.lit("bernoulli_sample_10pct").alias("chk"),
        ((frac >= 0.07) & (frac <= 0.13)).cast("int").alias("ok"),
    )


@_q(
    "approx_sketch_bounds",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           1 AS adc_ok,
           1 AS pq_ok
    FROM events GROUP BY event_type
    """,
)
def approx_sketch_bounds(spark, sf_dir):
    """Sketch aggregates, the 100 TB scale path for distinct counts and
    quantiles: exact countDistinct shuffles every (key, value) pair,
    while HyperLogLog++ (approx_count_distinct) and the t-digest-style
    percentile_approx ship FIXED-SIZE map-side sketches. Sketch values
    are engine-specific, so the contract pins the exact count plus the
    error-bound INVARIANTS — HLL within 5% of exact (rsd=0.02), approx
    median within max(10% of |exact median|, 1e-6) so a zero-median
    group doesn't demand bit equality — as booleans the oracle states
    as constants (the sample_fraction_bounds convention)."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_adc"),
        F.expr("percentile(value, 0.5)").alias("med_exact"),
        F.percentile_approx("value", 0.5, 10000).alias("med_approx"),
    )
    adc_ok = (
        F.abs(F.col("n_adc") - F.col("n_exact")) / F.col("n_exact") <= 0.05
    )
    # mixed bound: 10% relative OR a small absolute epsilon, so a group
    # whose exact median is ~0 doesn't degenerate to requiring bit
    # equality of the t-digest output (oracle states pq_ok=1 under the
    # same mixed bound)
    pq_ok = (
        F.abs(F.col("med_approx") - F.col("med_exact"))
        <= F.greatest(0.10 * F.abs(F.col("med_exact")), F.lit(1e-6))
    )
    return g.select(
        "event_type",
        "n_exact",
        adc_ok.cast("int").alias("adc_ok"),
        pq_ok.cast("int").alias("pq_ok"),
    )


# =====================================================================
# Spatial nearest-neighbor join via grid-cell bucketing (reference
# validation/00_validate_s2_glai_observations.py:179-185 sjoin_nearest
# with max_distance=4.9 m; 04_reconstruct_s2_traits.py:356-375 <5 m
# snap). Points are synthesized from event ids with integer LCG-style
# arithmetic so both engines place every point bit-identically; the
# join buckets both sides into r-sized grid cells and probes only the
# 3x3 neighborhood — a shuffle equi-join on (cx, cy), never a cross
# join, which is THE scale plan for spatial NN at 100 TB.
# =====================================================================

_SNAP_SQL = """
    WITH pts AS (
      SELECT event_id, event_type,
             ((event_id * 48271) % 19997) / 100.0 AS x,
             ((event_id * 69621) % 19997) / 100.0 AS y
      FROM events WHERE event_type IN ('signup', 'error')
    ),
    l AS (SELECT event_id AS left_id, x, y,
                 cast(floor(x / 5.0) AS bigint) AS cx,
                 cast(floor(y / 5.0) AS bigint) AS cy
          FROM pts WHERE event_type = 'signup'),
    r AS (SELECT event_id AS right_id, x AS xr, y AS yr,
                 cast(floor(x / 5.0) AS bigint) AS cx,
                 cast(floor(y / 5.0) AS bigint) AS cy
          FROM pts WHERE event_type = 'error'),
    cand AS (
      SELECT l.left_id, r.right_id,
             round(1e-9 + sqrt((l.x - r.xr) * (l.x - r.xr)
                             + (l.y - r.yr) * (l.y - r.yr)), 4) AS dist
      FROM l
      CROSS JOIN (VALUES (-1), (0), (1)) dxs(dx)
      CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)
      JOIN r ON l.cx + dxs.dx = r.cx AND l.cy + dys.dy = r.cy
    )
    SELECT left_id, right_id, dist FROM (
      SELECT left_id, right_id, dist,
             row_number() OVER (PARTITION BY left_id
                                ORDER BY dist, right_id) AS rk
      FROM cand WHERE dist <= 4.9
    ) WHERE rk = 1
"""


@_q("spatial_snap_nn", _SNAP_SQL)
def spatial_snap_nn(spark, sf_dir):
    """Spatial nearest neighbor with a max distance: for every 'signup'
    point find the closest 'error' point within 4.9 m (the reference's
    sjoin_nearest cap). Grid cells of size r bound the search — any
    pair within r lives in adjacent cells, so exploding the left side
    over its 3x3 cell neighborhood turns the quadratic NN search into
    a plain shuffle equi-join on (cx, cy)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "error")
    )
    # r6 scale fix (guide §8: decide on small rows, attach to big rows).
    # (x, y) depends on event_id only through m = event_id % 19997
    # ((e*48271) % 19997 == ((e % 19997)*48271) % 19997), so there are
    # at most 19997 DISTINCT LOCATIONS no matter the corpus size. The
    # old plan joined every co-located duplicate against every other
    # (cell occupancy grows with sf, candidates quadratically: 264 s at
    # sf1.0). The 3x3 cell join now runs once per distinct location
    # (<= 19997 rows a side): co-located signups share one winner, and
    # among co-located errors the (dist, right_id) tie-break always
    # picks the minimum right_id, so reducing errors to min(event_id)
    # per location and re-attaching the per-location winner to all
    # signups via a broadcast equi-join on m is row-identical to the
    # all-duplicates join.
    keyed = ev.select(
        "event_id", "event_type", (F.col("event_id") % 19997).alias("m")
    )
    # location coords from the residue — bit-identical to the event_id
    # form (exact integer ops, then the same /100.0)
    x = ((F.col("m") * 48271) % 19997) / 100.0
    y = ((F.col("m") * 69621) % 19997) / 100.0
    lloc = (
        keyed.filter(F.col("event_type") == "signup")
        .select("m").distinct()
        .select(
            "m", x.alias("x"), y.alias("y"),
            F.floor(x / 5.0).cast("long").alias("cx"),
            F.floor(y / 5.0).cast("long").alias("cy"),
        )
    )
    rloc = (
        keyed.filter(F.col("event_type") == "error")
        .groupBy("m").agg(F.min("event_id").alias("right_id"))
        .select(
            "right_id", x.alias("xr"), y.alias("yr"),
            F.floor(x / 5.0).cast("long").alias("cx"),
            F.floor(y / 5.0).cast("long").alias("cy"),
        )
    )
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    left = (
        lloc.select("m", "x", "y", "cx", "cy", F.explode(off).alias("dx"))
        .select("m", "x", "y", "cx", "cy", "dx", F.explode(off).alias("dy"))
        .select(
            "m", "x", "y",
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    dist = F.round(
        F.lit(1e-9)
        + F.sqrt(
            (F.col("x") - F.col("xr")) * (F.col("x") - F.col("xr"))
            + (F.col("y") - F.col("yr")) * (F.col("y") - F.col("yr"))
        ),
        4,
    )
    w = Window.partitionBy("m").orderBy("dist", "right_id")
    winners = (
        left.join(rloc, ["cx", "cy"])
        .select("m", "right_id", dist.alias("dist"))
        .filter(F.col("dist") <= 4.9)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("m", "right_id", "dist")
    )
    lefts = keyed.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("left_id"), "m"
    )
    return lefts.join(F.broadcast(winners), "m").select(
        "left_id", "right_id", "dist"
    )


# =====================================================================
# String/map scalar surface: startswith/endswith predicates +
# map_from_entries literal lookup (reference path filters, e.g.
# 01_extract_s2_data.py fname.startswith/endswith checks, and the
# entry-list param dict shape of SURVEY §2.8)
# =====================================================================

_STRING_MAP_SQL = """
    SELECT p_brand,
           CASE WHEN p_brand IN ('Brand#1', 'Brand#2') THEN 'premium'
                ELSE 'standard' END AS tier,
           count(*) AS n,
           round(1e-9 + avg(p_retailprice), 4) AS avg_price
    FROM part
    WHERE p_name LIKE 'small%' OR p_name LIKE '%bolt'
    GROUP BY 1, 2
"""


@_q("string_map_surface", _STRING_MAP_SQL)
def string_map_surface(spark, sf_dir):
    """startswith/endswith string predicates plus a map_from_entries
    literal dict lookup with a coalesce default — the parameter-table
    idiom of SURVEY §2.7/§2.8 (map built once from an entry array,
    probed per row JVM-side; no join, no UDF)."""
    p = _t(spark, sf_dir, "part")
    tier_map = F.map_from_entries(
        F.array(
            F.struct(F.lit("Brand#1"), F.lit("premium")),
            F.struct(F.lit("Brand#2"), F.lit("premium")),
        )
    )
    return (
        p.filter(
            F.col("p_name").startswith("small") | F.col("p_name").endswith("bolt")
        )
        .groupBy(
            "p_brand",
            F.coalesce(tier_map[F.col("p_brand")], F.lit("standard")).alias("tier"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.lit(1e-9) + F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


# =====================================================================
# Kernel smoothing (the reference's smooth.spline(DOY, LAI) analog,
# /root/reference/src/scripts_dose_response/00_data_preparation.R:79 —
# its only smoothing step the engine previously lacked). Nadaraya-
# Watson with a biweight kernel w = (1-u^2)^2, u = dt/H, H = 2 h.
#
# Scale shape: candidates come from an LSH-style time-bucket equi-join
# (each right row exploded to its 3 adjacent H-sized buckets — the
# spatial_snap_nn pattern on a 1-D axis), never a cross join; the
# kernel is then aggregated per left event. A pure window-function form
# exists (expand (t_i-t_j)^4 into range-frame moment sums S_k = sum
# t_j^k v_j), but epoch-scale t^4 moments reach ~1e14 and the final
# combination cancels to O(1) — ~1e-2 absolute fp error, hopeless for
# a 4-dp cross-engine hash. The join form computes dt directly (exact
# int64), so each weight is bit-identical in both engines.
# =====================================================================

_SMOOTH_H = 7200  # bandwidth, seconds

_SMOOTH_SQL = f"""
    WITH e AS (
      SELECT user_id, event_id, cast(floor(epoch(ts)) AS bigint) AS sec,
             value
      FROM events
    ),
    r AS (
      SELECT user_id, sec, value,
             cast(floor(sec / {_SMOOTH_H}.0) AS bigint) + o.off AS b
      FROM e CROSS JOIN (VALUES (-1), (0), (1)) AS o(off)
    ),
    pairs AS (
      SELECT l.user_id, l.event_id, l.sec,
             (l.sec - r.sec) * (l.sec - r.sec) AS d2, r.value AS rv
      FROM e l JOIN r
        ON l.user_id = r.user_id
       AND cast(floor(l.sec / {_SMOOTH_H}.0) AS bigint) = r.b
      WHERE (l.sec - r.sec) * (l.sec - r.sec)
             <= {_SMOOTH_H * _SMOOTH_H}
    ),
    k AS (
      SELECT user_id, event_id, sec,
             (1.0 - d2 / {float(_SMOOTH_H * _SMOOTH_H)})
             * (1.0 - d2 / {float(_SMOOTH_H * _SMOOTH_H)}) AS w, rv
      FROM pairs
    )
    SELECT user_id, event_id, sec AS ts_epoch,
           round(1e-9 + sum(w * rv) / sum(w), 4) AS smoothed,
           count(*) AS n_win
    FROM k GROUP BY user_id, event_id, sec
"""


@_q("kernel_smooth_events", _SMOOTH_SQL)
def kernel_smooth_events(spark, sf_dir):
    """Per-user kernel smoothing of the event value series (biweight,
    2 h bandwidth) — see the block comment above for the scale plan and
    why the banded equi-join beats the window-moment form numerically."""
    ev = _t(spark, sf_dir, "events")
    h = _SMOOTH_H
    e = ev.select(
        "user_id", "event_id", _sec("ts").alias("sec"), "value"
    )
    # right side renames user_id -> r_user: the self-join condition is
    # then between two DISTINCT columns, so Spark's "trivially true
    # predicate" lint stays quiet (r5 ADVICE log-hygiene item) and the
    # join stays the same hash equi-join on (user, band)
    r = e.select(
        F.col("user_id").alias("r_user"),
        F.col("sec").alias("rsec"),
        F.col("value").alias("rv"),
        F.explode(
            F.array(
                F.floor(F.col("sec") / h) - 1,
                F.floor(F.col("sec") / h),
                F.floor(F.col("sec") / h) + 1,
            )
        ).alias("b"),
    )
    l = e.withColumn("lb", F.floor(F.col("sec") / h))
    d2 = (F.col("sec") - F.col("rsec")) * (F.col("sec") - F.col("rsec"))
    h2 = float(h * h)
    pairs = (
        l.join(
            r,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("lb") == F.col("b")),
        )
        .drop("r_user")
        .filter(d2 <= h * h)
        .withColumn("w", (1.0 - d2 / h2) * (1.0 - d2 / h2))
    )
    return pairs.groupBy("user_id", "event_id", "sec").agg(
        F.round(
            F.lit(1e-9) + F.sum(F.col("w") * F.col("rv")) / F.sum("w"), 4
        ).alias("smoothed"),
        F.count(F.lit(1)).alias("n_win"),
    ).select(
        "user_id", "event_id", F.col("sec").alias("ts_epoch"),
        "smoothed", "n_win",
    )


# register the documents/embeddings training-data pipeline queries
from sentinel2_crop_trait_timeseries_spark import catalog_docs  # noqa: E402,F401
from sentinel2_crop_trait_timeseries_spark import catalog_engine  # noqa: E402,F401
from sentinel2_crop_trait_timeseries_spark import catalog_ts  # noqa: E402,F401
from sentinel2_crop_trait_timeseries_spark import catalog_sketch  # noqa: E402,F401
from sentinel2_crop_trait_timeseries_spark import catalog_corpus  # noqa: E402,F401
from sentinel2_crop_trait_timeseries_spark import catalog_final  # noqa: E402,F401
