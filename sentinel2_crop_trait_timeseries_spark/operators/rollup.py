"""Retention-tier rollups (hourly/daily/weekly) + continuous aggregates.

The reference downsamples its dense reconstruction to daily means via
``meteo.resample('D').mean()`` (/root/reference/src/04_reconstruct_s2_traits.py:396-397)
and computes per-region percentile profiles
(/root/reference/src/validation/04_temporal_profiles.py:188-206).
Generalized here to a 3-tier retention cascade:

    hourly  = groupBy(keys, date_trunc('hour', ts))
    daily   = re-aggregated FROM hourly  (sum-of-sums / sum-of-counts)
    weekly  = re-aggregated FROM daily

Cascading guarantees tier consistency (weekly == re-agg of daily by
construction) and is the scale-optimal plan: the big shuffle happens
once at the finest tier; coarser tiers shuffle the already-reduced
rollup, orders of magnitude smaller. All aggregates are algebraic
(sum/count/min/max/sumsq) so Spark's partial aggregation (map-side
combine) applies — the shuffle moves partial states, not raw rows.

Non-algebraic percentiles are computed with EXACT ``percentile``
(the correctness invariant demands bit-match; reference uses exact
numpy quantiles, /root/reference/src/validation/04_temporal_profiles.py:56-63).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIERS = ("hourly", "daily", "weekly")
_TRUNC = {"hourly": "hour", "daily": "day", "weekly": "week"}


def rollup_tier(obs: DataFrame, tier: str, keys: list[str] = ("source", "doc_id"),
                value_col: str = "value", ts_col: str = "ts") -> DataFrame:
    """One tier directly from raw observations (algebraic agg bundle)."""
    bucket = F.date_trunc(_TRUNC[tier], F.col(ts_col)).alias("bucket_ts")
    v = F.col(value_col)
    return (
        obs.groupBy(*keys, bucket)
        .agg(
            F.count(v).alias("n"),
            F.sum(v).alias("sum_value"),
            F.avg(v).alias("mean_value"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
            F.sum(v * v).alias("sumsq_value"),
        )
        .withColumn("tier", F.lit(tier))
    )


def cascade(obs: DataFrame, keys: list[str] = ("source", "doc_id"),
            value_col: str = "value", ts_col: str = "ts",
            materialize_dir: str | None = None, spark=None) -> dict[str, DataFrame]:
    """All three tiers; daily/weekly re-aggregate the next-finer tier.

    With ``materialize_dir`` each tier is written to parquet finest-first
    and the next tier reads the stored one — the retention-engine
    execution: the raw-observation shuffle happens exactly once; coarser
    tiers re-shuffle only the already-reduced rollup (orders of magnitude
    smaller). Without it, the tiers are lazy views sharing lineage.
    """
    keys = list(keys)
    hourly = rollup_tier(obs, "hourly", keys, value_col, ts_col)
    if materialize_dir is not None:
        assert spark is not None, "materialize_dir requires spark"
        hourly.write.mode("overwrite").parquet(f"{materialize_dir}/hourly")
        hourly = spark.read.parquet(f"{materialize_dir}/hourly")

    def _up(lower: DataFrame, tier: str) -> DataFrame:
        bucket = F.date_trunc(_TRUNC[tier], F.col("bucket_ts")).alias("b2")
        return (
            lower.groupBy(*keys, bucket)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_value").alias("sum_value"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
                F.sum("sumsq_value").alias("sumsq_value"),
            )
            .withColumn("mean_value", F.col("sum_value") / F.col("n"))
            .withColumnRenamed("b2", "bucket_ts")
            .withColumn("tier", F.lit(tier))
            .select(*hourly.columns)
        )

    daily = _up(hourly, "daily")
    if materialize_dir is not None:
        daily.write.mode("overwrite").parquet(f"{materialize_dir}/daily")
        daily = spark.read.parquet(f"{materialize_dir}/daily")
    weekly = _up(daily, "weekly")
    if materialize_dir is not None:
        weekly.write.mode("overwrite").parquet(f"{materialize_dir}/weekly")
        weekly = spark.read.parquet(f"{materialize_dir}/weekly")
    return {"hourly": hourly, "daily": daily, "weekly": weekly}


def continuous_aggregate(obs: DataFrame, tier: str = "daily",
                         keys: list[str] = ("source",),
                         value_col: str = "value", ts_col: str = "ts",
                         quantiles: tuple = (0.05, 0.5, 0.95)) -> DataFrame:
    """Cross-doc profile per key+bucket with EXACT percentiles.

    Mirrors the reference's parcel percentile profiles
    (/root/reference/src/validation/04_temporal_profiles.py:188-206).
    """
    bucket = F.date_trunc(_TRUNC[tier], F.col(ts_col)).alias("bucket_ts")
    v = F.col(value_col)
    qcols = [
        F.percentile(v, F.lit(q)).alias(f"q{int(q * 100):02d}") for q in quantiles
    ]
    return obs.groupBy(*keys, bucket).agg(
        F.count(v).alias("n"),
        F.avg(v).alias("mean_value"),
        F.stddev_pop(v).alias("std_value"),
        *qcols,
    )


# =====================================================================
# Retention policy enforcement + invalidation-based incremental refresh
# =====================================================================

# (tier, bucket width in seconds | "week", retention horizon in seconds
# of AGE against the anchor | None = keep forever). Ordered finest ->
# coarsest with strictly increasing horizons: an event whose age falls
# inside tier i's horizon (and past tier i-1's) is served at tier i's
# resolution — raw detail for the freshest window, hourly for the next,
# then daily, then weekly forever. This is the serving contract of a
# retention engine: old raw data is DROPPED once its window passes
# because the coarser rollup already covers it.
RETENTION_POLICY = (
    ("raw", 1, 2 * 86400),
    ("hourly", 3600, 7 * 86400),
    ("daily", 86400, 21 * 86400),
    ("weekly", "week", None),
)


def _sec(col) -> F.Column:
    """Epoch seconds as BIGINT (tz-free; micros truncated).

    The driver parquet surfaces TIMESTAMP_NTZ; the catalog pins the
    session tz to UTC, so NTZ -> TIMESTAMP -> LONG equals DuckDB's
    floor(epoch(ts)).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


# Exact integer keys as Spark SQL expressions: epoch micros of ``ts``
# and ``value`` in cents (shared by the catalog and streaming queries).
_US = "cast(unix_micros(cast(ts as timestamp)) as bigint)"
_CENTS = "cast(round(value * 100) as bigint)"


def _bucket_sec(sec: F.Column, width) -> F.Column:
    """Bucket an epoch-seconds column: fixed width, or Monday-aligned
    weeks (epoch day 0 = Thursday, so shift by 3 days)."""
    if width == "week":
        day = F.floor(sec / 86400)
        return ((F.floor((day + 3) / 7) * 7 - 3) * 86400).cast("long")
    return (F.floor(sec / width) * width).cast("long")


def retention_serving(obs: DataFrame, keys: list[str] = ("event_type",),
                      value_col: str = "value", ts_col: str = "ts",
                      policy=RETENTION_POLICY) -> DataFrame:
    """The stitched multi-resolution serving view under a retention
    policy: each event lands in EXACTLY ONE tier (age bands partition
    the timeline), aggregated at that tier's bucket width. Output
    columns: tier, *keys, bucket_ts, n, sum_value (unrounded).

    The anchor is the day boundary after the newest observation —
    deterministic from the data, no wall clock. Age is integer epoch
    arithmetic, so tier-band membership has no float boundary hazard.
    The anchor is a 1-row broadcast cross join (a scalar subquery):
    constant per-partition work at any scale. Each tier's branch
    re-scans the source with its age band as a pushed-down predicate —
    on a date-partitioned table that is partition pruning, and the
    union's total scan volume equals one full scan.
    """
    keys = list(keys)
    sec = _sec(ts_col)
    anchor = obs.agg(
        ((F.floor(F.max(sec) / 86400) + 1) * 86400).cast("long").alias("_anchor")
    )
    tagged = (
        obs.crossJoin(F.broadcast(anchor))
        .withColumn("_age", F.col("_anchor") - sec)
    )
    v = F.col(value_col)
    tiers = []
    lo = None
    for tier, width, horizon in policy:
        band = tagged
        if lo is not None:
            band = band.filter(F.col("_age") > lo)
        if horizon is not None:
            band = band.filter(F.col("_age") <= horizon)
        tiers.append(
            band.groupBy(*keys, _bucket_sec(sec, width).alias("bucket_ts"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(v).alias("sum_value"))
            .select(F.lit(tier).alias("tier"), *keys, "bucket_ts", "n",
                    "sum_value")
        )
        lo = horizon
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out


def incremental_refresh(initial: DataFrame, late: DataFrame,
                        keys: list[str] = ("event_type",),
                        value_col: str = "value", ts_col: str = "ts",
                        width=86400) -> DataFrame:
    """Invalidation-based continuous-aggregate refresh: given the
    already-materialized tier over ``initial`` and a batch of late
    arrivals, recompute ONLY the invalidated buckets and keep the rest.

    The invalidation log is the distinct (keys, bucket) set touched by
    the late batch — tiny at any scale, so both the anti-join (drop
    stale buckets from the old materialization) and the semi-join
    (restrict the recompute scan to invalidated buckets) broadcast it:
    refresh work is proportional to the invalidated slice, never the
    table. Returns the refreshed tier, bit-equal to a full recompute
    (n, sum, min, max are refreshed from scratch per invalidated
    bucket, not merged incrementally — so late data can never drift
    the materialization).
    """
    keys = list(keys)
    bucket = _bucket_sec(_sec(ts_col), width).alias("bucket_ts")
    v = F.col(value_col)

    def _roll(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys, bucket).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("sum_value"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
        )

    m_old = _roll(initial)
    inval = late.select(*keys, bucket).distinct()
    keep = m_old.join(F.broadcast(inval), keys + ["bucket_ts"], "left_anti")
    full = initial.unionByName(late)
    touched = full.withColumn("bucket_ts", bucket).join(
        F.broadcast(inval), keys + ["bucket_ts"], "left_semi"
    )
    recomputed = touched.groupBy(*keys, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("sum_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )
    return keep.unionByName(recomputed)
