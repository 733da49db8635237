"""Property tests for the ordered-timeseries batch (catalog_ts.py).

Oracle equality is covered by tools/check_contract.py and the driver
gate; these pin the semantic invariants each operator promises, plus
partition-invariance for the queries whose docstrings claim exactness
by construction.
"""

import os

import pandas as pd
import pytest

from sentinel2_crop_trait_timeseries_spark.catalog import QUERIES
import sentinel2_crop_trait_timeseries_spark.catalog_ts as cts  # noqa: F401

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return QUERIES[name]["fn"](spark, SF).toPandas()


@pytest.fixture(scope="module")
def events(spark):
    return (
        spark.read.parquet(f"{SF}/events.parquet")
        .toPandas()
        .assign(
            ts_us=lambda d: d.ts.astype("datetime64[us]").astype("int64"),
            cents=lambda d: (d.value * 100).round().astype("int64"),
        )
    )


def test_asof_matches_pandas_merge_asof(spark, events):
    got = _run(spark, "asof_join_clicks").sort_values("event_id")
    probe = events[events.event_type != "click"].sort_values("ts_us")
    ref = (
        events[events.event_type == "click"]
        .groupby(["user_id", "ts_us"], as_index=False)
        .agg(bc=("cents", "max"))
        .sort_values("ts_us")
    )
    exp = pd.merge_asof(
        probe, ref, on="ts_us", by="user_id", direction="backward"
    ).sort_values("event_id")
    assert len(got) == len(probe)
    assert got.event_id.tolist() == exp.event_id.tolist()
    pd.testing.assert_series_equal(
        got.click_cents.reset_index(drop=True),
        exp.bc.reset_index(drop=True),
        check_names=False,
        check_dtype=False,
    )
    st = got.staleness_us.dropna()
    assert (st >= 0).all()


def test_gaps_islands_partition_events(spark, events):
    got = _run(spark, "gaps_islands_user")
    # islands partition each user's events exactly
    per_user = got.groupby("user_id").n_events.sum()
    exp = events.groupby("user_id").size()
    assert per_user.sort_index().tolist() == exp.sort_index().tolist()
    # within-island span matches, islands separated by > threshold
    for uid, g in got.groupby("user_id"):
        g = g.sort_values("start_us")
        assert (g.duration_us == g.end_us - g.start_us).all()
        gaps = g.start_us.values[1:] - g.end_us.values[:-1]
        assert (gaps > cts._GAP_US).all()


def test_twa_bounded_by_value_range(spark, events):
    got = _run(spark, "time_weighted_avg_daily")
    day = (events.ts_us // cts._DAY_US) * 86400
    lo = events.assign(day_ts=day).groupby(["event_type", "day_ts"]).value.min()
    hi = events.assign(day_ts=day).groupby(["event_type", "day_ts"]).value.max()
    m = got.set_index(["event_type", "day_ts"])
    assert (m.twa >= lo.loc[m.index] - 1e-4).all()
    assert (m.twa <= hi.loc[m.index] + 1e-4).all()
    assert (m.den_us > 0).all()
    assert (m.n_events >= 2).all()


def test_counter_rate_reset_rule(spark, events):
    got = _run(spark, "counter_rate_daily")
    assert (got.n_resets <= got.n_samples).all()
    inc = got.total_inc_cents.dropna()
    assert (inc >= 0).all()
    # total increase across all days == sum of per-row corrections
    s = events.sort_values(["user_id", "ts_us", "event_id"])
    s["diff"] = s.groupby("user_id").cents.diff()
    corr = s["diff"].where(s["diff"] >= 0, s.cents)[s["diff"].notna()]
    assert int(inc.sum()) == int(corr.sum())


def test_lttb_shape_and_anchors(spark, events):
    got = _run(spark, "lttb_downsample")
    k = cts._LTTB_K
    for et, g in got.groupby("event_type"):
        g = g.sort_values("sel_order")
        assert g.sel_order.tolist() == list(range(k + 2))
        # x nondecreasing: buckets are ordered by time
        assert (g.x.diff().dropna() >= 0).all()
        ev = events[events.event_type == et].sort_values(
            ["ts_us", "event_id"]
        )
        assert g.iloc[0].event_id == ev.iloc[0].event_id
        assert g.iloc[-1].event_id == ev.iloc[-1].event_id


def test_ewma_bounds_and_single_event_user(spark, events):
    got = _run(spark, "ewma_user_fold").set_index("user_id")
    lo = events.groupby("user_id").value.min()
    hi = events.groupby("user_id").value.max()
    assert (got.ewma >= lo.loc[got.index] - 1e-3).all()
    assert (got.ewma <= hi.loc[got.index] + 1e-3).all()
    n = events.groupby("user_id").size()
    assert got.n_events.sort_index().tolist() == n.sort_index().tolist()


@pytest.mark.parametrize(
    "name",
    [
        "asof_join_clicks",
        "gaps_islands_user",
        "time_weighted_avg_daily",
        "counter_rate_daily",
        "lttb_downsample",
        "ewma_user_fold",
        "rolling_median_user",
        "cusum_changepoint_user",
        "mixture_token_budget",
    ],
)
def test_partition_invariance(spark, name):
    """The exactness-by-construction claim: identical results at any
    shuffle width / input partitioning."""
    a = _run(spark, name)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = QUERIES[name]["fn"](spark, SF).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_rolling_median_matches_pandas(spark, events):
    got = _run(spark, "rolling_median_user")
    s = events.sort_values(["user_id", "ts_us", "event_id"])
    exp = (
        s.groupby("user_id")
        .cents.rolling(cts._ROLL_WIN + 1, min_periods=1)
        .median()
        .reset_index(level=0, drop=True)
    )
    s = s.assign(exp_med=exp)
    m = got.merge(s[["event_id", "exp_med"]], on="event_id")
    assert len(m) == len(events)
    assert (m.med_x2_cents == (m.exp_med * 2).round().astype("int64")).all()
    assert (m.n_win <= cts._ROLL_WIN + 1).all()


def test_cusum_matches_reference_loop(spark, events):
    got = _run(spark, "cusum_changepoint_user").set_index("user_id")
    for uid, g in events.groupby("user_id"):
        g = g.sort_values(["ts_us", "event_id"])
        lc = sorted(g.cents)
        n = len(lc)
        target = lc[(n + 1) // 2 - 1] + lc[n // 2]
        s = n_over = max_s = 0
        first = None
        for _, r in g.iterrows():
            s = max(0, s + (2 * r.cents - target) - cts._CUSUM_K)
            if s > cts._CUSUM_H:
                n_over += 1
                first = first if first is not None else r.ts_us
            max_s = max(max_s, s)
        row = got.loc[uid]
        assert row.n_over == n_over and row.max_s_x2 == max_s
        assert (row.first_over_ts_us == first) or (
            pd.isna(row.first_over_ts_us) and first is None
        )


def test_mixture_token_budget_properties(spark):
    got = _run(spark, "mixture_token_budget")
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    docs["tok"] = docs.text.str.split().str.len()
    totals = docs.groupby("source").tok.sum()
    budget = int(totals.min())
    assert (got.budget == budget).all()
    per_src = got.groupby("source").tok.sum()
    assert (per_src <= budget).all()
    # every source is represented (budget >= smallest source's total,
    # whose own prefix fills it exactly)
    assert set(per_src.index) == set(totals.index)
    assert int(per_src.loc[totals.idxmin()]) == budget
    assert (got.cum_tok <= got.budget).all()


def test_funnel_matches_reference_loop(spark, events):
    got = _run(spark, "funnel_steps_user").set_index("user_id")
    assert len(got) == events.user_id.nunique()
    for uid, g in events.groupby("user_id"):
        g = g.sort_values(["ts_us", "event_id"])
        t1 = t2 = t3 = None
        for _, r in g.iterrows():
            if t1 is None and r.event_type == "view":
                t1 = r.ts_us
            elif (
                t2 is None and r.event_type == "click"
                and t1 is not None and r.ts_us > t1
            ):
                t2 = r.ts_us
            elif (
                t3 is None and r.event_type == "purchase"
                and t2 is not None and r.ts_us > t2
            ):
                t3 = r.ts_us
        row = got.loc[uid]
        for col, exp in (
            ("view_us", t1), ("click_us", t2), ("purchase_us", t3)
        ):
            assert (pd.isna(row[col]) and exp is None) or row[col] == exp
        assert row.reached == (3 if t3 else 2 if t2 else 1 if t1 else 0)


def test_cohort_retention_triangle(spark, events):
    got = _run(spark, "cohort_retention_weekly")
    assert (got.offset_weeks >= 0).all()
    # offset-0 count = cohort size (every member is active in their
    # signup week by definition — the signup event itself)
    wk = ((events.ts_us // 1_000_000 // 86400 + 3) // 7 * 7 - 3) * 86400
    e = events.assign(wk=wk)
    cohort = (
        e[e.event_type == "signup"].groupby("user_id").wk.min()
    )
    sizes = cohort.value_counts()
    base = got[got.offset_weeks == 0].set_index("cohort_week").n_users
    assert base.sort_index().tolist() == sizes.sort_index().tolist()
    # retention never exceeds cohort size
    m = got.set_index("cohort_week")
    assert (m.n_users <= sizes.loc[m.index].values).all()


def test_bucket_gapfill_locf_properties(spark, events):
    got = _run(spark, "bucket_gapfill_locf")
    days = events.ts_us // cts._DAY_US
    lo, hi = int(days.min()), int(days.max())
    n_types = events.event_type.nunique()
    # dense spine: every (type, day) present exactly once
    assert len(got) == n_types * (hi - lo + 1)
    obs = got[got.observed == 1]
    mis = got[got.observed == 0]
    assert (mis.n_events == 0).all() and (obs.n_events > 0).all()
    # observed rows: interp == last * 1000 and locf == last
    assert (obs.interp_millicents == obs.last_cents * 1000).all()
    assert (obs.locf_cents == obs.last_cents).all()
    # interpolation lies between the straddling observed values
    for et, g in got.groupby("event_type"):
        g = g.sort_values("day_ts").reset_index(drop=True)
        o = g[g.observed == 1]
        for i in range(len(g)):
            row = g.iloc[i]
            if row.observed or pd.isna(row.interp_millicents):
                continue
            prev = o[o.day_ts < row.day_ts].last_cents.iloc[-1]
            nxt = o[o.day_ts > row.day_ts].last_cents.iloc[0]
            lo_b, hi_b = sorted((prev * 1000, nxt * 1000))
            assert lo_b - 1000 <= row.interp_millicents <= hi_b + 1000


def test_pivot_row_sums_match_long_totals(spark, events):
    got = _run(spark, "pivot_type_daily")
    day = (events.ts_us // cts._DAY_US) * 86400
    e = events.assign(day_ts=day)
    total_wide = got.set_index("day_ts").fillna(0).sum(axis=1).sort_index()
    total_long = e.groupby("day_ts").cents.sum().sort_index()
    assert total_wide.tolist() == total_long.tolist()
    # one spot-check column
    clicks = (
        e[e.event_type == "click"].groupby("day_ts").cents.sum()
    )
    m = got.set_index("day_ts").click_cents.dropna().sort_index()
    assert m.tolist() == clicks.sort_index().tolist()


def test_scd2_intervals_tile_history(spark, events):
    got = _run(spark, "scd2_segment_intervals")
    # runs tile each user's events; intervals chain without overlap
    per_user = got.groupby("user_id")
    assert per_user.n_events.sum().sort_index().tolist() == (
        events.groupby("user_id").size().sort_index().tolist()
    )
    for uid, g in got.groupby("user_id"):
        g = g.sort_values("run_id")
        assert g.run_id.tolist() == list(range(1, len(g) + 1))
        # exactly one open interval (the current one)
        assert g.valid_to_us.isna().sum() == 1
        assert pd.isna(g.iloc[-1].valid_to_us)
        chained = g.valid_to_us.iloc[:-1].values == g.valid_from_us.iloc[1:].values
        assert chained.all()
        # consecutive runs change tier
        assert (g.tier.values[1:] != g.tier.values[:-1]).all()


def test_streaming_asof_matches_batch_slice(spark):
    got = _run(spark, "streaming_asof_probe")
    batch = _run(spark, "asof_join_clicks")
    sl = batch[batch.event_id % 10 == 0]
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = sl[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_streaming_cusum_multibatch_equals_batch(spark):
    """The cross-batch ordered-state contract: 4 time-range
    micro-batches reproduce the batch recursion exactly, and the
    harness genuinely ran >1 batch (updates-per-user > 1 for users
    spanning chunks)."""
    from sentinel2_crop_trait_timeseries_spark.streaming.cusum_stream import (
        run_cusum_stream_once,
    )

    got = run_cusum_stream_once(spark, SF, n_chunks=4).toPandas()
    batch = _run(spark, "cusum_changepoint_user")
    cols = sorted(batch.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = batch[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # the memory sink accumulated intermediate updates: with 4 chunks
    # and 15 users at sf0.001, users span chunks, so the final-state
    # selection had to pick among multiple updates
    upd = spark.table("s2tt_stream_cusum").toPandas()
    assert upd.groupby("user_id").size().max() > 1


def test_unpivot_inverts_pivot(spark, events):
    long_direct = (
        events.assign(day_ts=(events.ts_us // cts._DAY_US) * 86400)
        .groupby(["event_type", "day_ts"], as_index=False)
        .agg(cents_total=("cents", "sum"))
    )
    got = _run(spark, "unpivot_type_daily")
    cols = ["event_type", "day_ts", "cents_total"]
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = long_direct[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_pareto_abc_properties(spark):
    got = _run(spark, "pareto_source_share").sort_values(
        ["tok", "source"], ascending=[False, True]
    ).reset_index(drop=True)
    total = got.tok.sum()
    assert got.cum_tok.iloc[-1] == total
    assert (got.cum_tok.diff().dropna() == got.tok.iloc[1:].values).all()
    # class boundaries honor the integer rule
    for _, r in got.iterrows():
        if r.cum_tok * 100 <= total * 80:
            assert r.abc == "A"
        elif r.cum_tok * 100 <= total * 95:
            assert r.abc == "B"
        else:
            assert r.abc == "C"
    # classes are contiguous in rank order
    order = {"A": 0, "B": 1, "C": 2}
    ranks = got.abc.map(order)
    assert (ranks.diff().dropna() >= 0).all()


def test_interval_overlap_is_exact_range_join(spark, events):
    got = _run(spark, "interval_overlap_bursts")
    assert (got.overlap_us >= 0).all()
    # brute-force reference: islands x bursts in pandas
    s = events.sort_values(["user_id", "ts_us", "event_id"])
    s["ni"] = (
        s.groupby("user_id").ts_us.diff().gt(cts._GAP_US)
        | s.groupby("user_id").ts_us.diff().isna()
    ).astype(int)
    s["island"] = s.groupby("user_id").ni.cumsum()
    isl = s.groupby(["user_id", "island"]).ts_us.agg(["min", "max"])
    err = events[events.event_type == "error"].sort_values(
        ["ts_us", "event_id"]
    )
    nb = (err.ts_us.diff().gt(cts._BURST_GAP_US) | err.ts_us.diff().isna())
    bid = nb.astype(int).cumsum()
    bur = err.groupby(bid).ts_us.agg(["min", "max"])
    n_expected = sum(
        1
        for (_, i) in isl.iterrows()
        for (_, b) in bur.iterrows()
        if i["min"] <= b["max"] and b["min"] <= i["max"]
    )
    assert len(got) == n_expected


# ------------------------------------------------------------------
# Late round 5: state durations + stream-stream interval join
# ------------------------------------------------------------------


def test_state_durations_telescopes(spark):
    from pyspark.sql import functions as F

    out = _run(spark, "state_durations_user")
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.expr(
                "max(cast(unix_micros(cast(ts as timestamp)) as bigint))"
                " - min(cast(unix_micros(cast(ts as timestamp)) as bigint))"
            ).alias("span_us"),
            F.count(F.lit(1)).alias("n"),
        )
        .toPandas()
        .set_index("user_id")
    )
    g = out.groupby("user_id").agg(total=("total_us", "sum"), segs=("n_segments", "sum"))
    for uid, row in g.iterrows():
        # segments abut LOCF-style: per-user durations telescope to the
        # user's full observed span, one segment per event except the last
        assert row["total"] == ev.loc[uid, "span_us"]
        assert row["segs"] == ev.loc[uid, "n"] - 1
    assert (out["total_us"] >= 0).all()


def test_streaming_interval_join_matches_batch_twin(spark):
    from pyspark.sql import functions as F

    out = _run(spark, "streaming_interval_join").sort_values(
        ["view_id", "click_id"]
    ).reset_index(drop=True)
    # semantic bounds: backward horizon only, sampled views only
    assert (out["lag_us"] >= 0).all() and (out["lag_us"] <= 21_600_000_000).all()
    assert (out["view_id"] % 5 == 0).all()
    # batch twin computed directly with DataFrame ops
    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("cast(unix_micros(cast(ts as timestamp)) as bigint)").alias("us"),
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    )
    v = e.filter((F.col("event_type") != "click") & (F.col("event_id") % 5 == 0))
    c = e.filter(F.col("event_type") == "click")
    twin = (
        v.alias("v")
        .join(
            c.alias("c"),
            (F.col("v.user_id") == F.col("c.user_id"))
            & (F.col("c.us") >= F.col("v.us") - 21_600_000_000)
            & (F.col("c.us") <= F.col("v.us")),
        )
        .select(
            F.col("v.event_id").alias("view_id"),
            F.col("c.event_id").alias("click_id"),
        )
        .toPandas()
        .sort_values(["view_id", "click_id"])
        .reset_index(drop=True)
    )
    assert list(map(tuple, out[["view_id", "click_id"]].values)) == list(
        map(tuple, twin.values)
    )


def test_streaming_interval_join_empty_arrivals(spark):
    from sentinel2_crop_trait_timeseries_spark.streaming.join_stream import (
        run_interval_join_stream_once,
    )

    # no event_id divides 10^9 in the fixture -> zero arrivals; the
    # memory sink still defines an empty 7-column result
    df = run_interval_join_stream_once(spark, SF, mod=10**9)
    assert df.count() == 0
    assert len(df.columns) == 7


def test_cdc_merge_identities_and_plan(spark):
    from pyspark.sql import functions as F

    out = _run(spark, "cdc_merge_apply")
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
    )
    rows = o.collect()
    n_del = sum(1 for r in rows if r["k"] % 11 == 3)
    n_upd = sum(1 for r in rows if r["k"] % 11 != 3 and r["k"] % 7 == 0)
    n_ins = sum(
        1
        for r in rows
        if r["k"] % 11 != 3 and r["k"] % 7 != 0 and r["k"] % 13 == 5
    )
    base_sum = sum(r["cents"] for r in rows)
    del_sum = sum(r["cents"] for r in rows if r["k"] % 11 == 3)
    ins_src = sum(
        r["cents"]
        for r in rows
        if r["k"] % 11 != 3 and r["k"] % 7 != 0 and r["k"] % 13 == 5
    )
    # merge identities: counts and cents both reconcile exactly
    assert out["n_orders"].sum() == len(rows) - n_del + n_ins
    assert (
        out["sum_cents"].sum()
        == base_sum - del_sum + 100 * n_upd + ins_src + 200 * n_ins
    )
    # the touched-key anti-join must broadcast; the base never shuffles
    # into a sort-merge join
    from tests.test_plans import _executed

    plan = _executed(spark, "cdc_merge_apply")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_dq_expectations_independent_recompute(spark):
    from pyspark.sql import functions as F

    row = _run(spark, "dq_expectations_orders").iloc[0]
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    assert row["n_rows"] == o.count()
    # independent recomputes via different operators
    dup = (
        o.groupBy("o_orderkey").count().filter("count > 1")
        .agg(F.sum(F.col("count") - 1)).collect()[0][0]
    )
    assert row["n_dup_keys"] == (dup or 0)
    orphan = o.join(
        c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_anti"
    ).count()
    assert row["n_orphan_custkey"] == orphan
    for col in row.index:
        assert row[col] >= 0


def test_streaming_cusum_shared_range_key(spark, tmp_path):
    """State is keyed by user range, pmod(user_id, _USER_RANGES): two
    users share every key here, and one of them has no rows in the
    middle micro-batch, so its range's state must carry it through a
    call that only updates its neighbour. Both drivers still equal the
    batch recursion, stop every query they start, and leave no staging,
    live or checkpoint directory behind. (At sf0.001 user ids are 0-14,
    so the contract fixture never shares a key.)"""
    import glob

    from pyspark.sql import functions as F

    from sentinel2_crop_trait_timeseries_spark import streaming
    from sentinel2_crop_trait_timeseries_spark.operators.rollup import _US
    from sentinel2_crop_trait_timeseries_spark.streaming import (
        cusum_stream as cs,
    )

    r = cs._USER_RANGES
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts_us", F.expr(_US)
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    width = (hi - lo) // 3 + 1  # _time_chunks' cut for 3 chunks
    # users 8.. move to r.., sharing keys 0.. with users 0..; user r
    # loses its middle-chunk rows
    uid = F.when(F.col("user_id") >= 8, F.col("user_id") - 8 + r).otherwise(
        F.col("user_id")
    )
    gap = (F.col("user_id") == 8) & (
        F.expr(f"(ts_us - {lo}) div {width}") == 1
    )
    ev.filter(~gap).withColumn("user_id", uid).drop("ts_us").write.parquet(
        str(tmp_path / "events.parquet")
    )
    def staged(kinds=("stage", "live", "ckpt")):
        # every driver directory lives under the process's scratch root
        return {p for kind in kinds for p in glob.glob(os.path.join(
            streaming._ROOT or "", f"s2tt_cusum_{kind}_*"))}

    before = staged()

    batch = QUERIES["cusum_changepoint_user"]["fn"](
        spark, str(tmp_path)
    ).toPandas()
    cols = sorted(batch.columns)
    want = batch[cols].sort_values(cols).reset_index(drop=True)

    got = cs.run_cusum_stream_once(spark, str(tmp_path), n_chunks=3)
    assert not spark.streams.active
    got = got.toPandas()
    n_upd = spark.table("s2tt_stream_cusum").toPandas().groupby(
        "user_id"
    ).size()
    assert n_upd[r] == 2 and n_upd[0] == 3, n_upd  # r skipped batch 2
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True), want,
        check_dtype=False,
    )

    resumed = cs.run_cusum_stream_resumable(
        spark, str(tmp_path), n_chunks=3, split_at=1
    )
    assert not spark.streams.active
    pd.testing.assert_frame_equal(
        resumed.toPandas()[cols].sort_values(cols).reset_index(drop=True),
        want, check_dtype=False,
    )
    # the glob looks in the right place: the resumable sink is there
    assert staged(("sink",))
    assert staged() == before


def test_candlestick_daily_matches_pandas_ohlc(spark, events):
    got = _run(spark, "candlestick_daily")
    day_us = 86_400_000_000
    e = events.assign(day_us=lambda d: d.ts_us - d.ts_us % day_us).sort_values(
        ["ts_us", "event_id"], kind="stable"
    )
    exp = e.groupby(["event_type", "day_us"]).agg(
        open_cents=("cents", "first"),
        high_cents=("cents", "max"),
        low_cents=("cents", "min"),
        close_cents=("cents", "last"),
        n_events=("cents", "size"),
        volume_cents=("cents", "sum"),
    )
    assert len(got) == len(exp)
    for r in got.itertuples(index=False):
        x = exp.loc[(r.event_type, r.day_us)]
        assert (
            r.open_cents == x.open_cents
            and r.high_cents == x.high_cents
            and r.low_cents == x.low_cents
            and r.close_cents == x.close_cents
            and r.n_events == x.n_events
            and r.volume_cents == x.volume_cents
        ), (r.event_type, r.day_us)
    # OHLC internal consistency
    assert (got.low_cents <= got.open_cents).all()
    assert (got.low_cents <= got.close_cents).all()
    assert (got.high_cents >= got.open_cents).all()
    assert (got.high_cents >= got.close_cents).all()


def test_candlestick_daily_plan_and_invariance(spark):
    fn = QUERIES["candlestick_daily"]["fn"]
    plan = (
        fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    # one partial-agg shuffle of group rows; no Window, no raw-row sort
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine is present
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, fn(spark, SF).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, fn(spark, SF).collect()))
        assert a == b and len(a) > 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_regr_stats_matches_numpy_polyfit(spark, events):
    import numpy as np

    got = _run(spark, "regr_stats_user").set_index("user_id")
    origin = 1_704_067_200_000_000
    e = events.assign(x=lambda d: (d.ts_us - origin) // 3_600_000_000)
    checked = 0
    for uid, g in e.groupby("user_id"):
        if len(g) < 3:
            assert uid not in got.index
            continue
        r = got.loc[uid]
        assert r.n == len(g)
        x, y = g.x.to_numpy(float), g.cents.to_numpy(float)
        if len(set(g.x)) > 1:
            slope, intercept = np.polyfit(x, y, 1)
            assert abs(r.slope_cents_per_hr - slope) < 1e-6 * max(
                1.0, abs(slope)
            )
            assert abs(r.intercept_cents - intercept) < 1e-6 * max(
                1.0, abs(intercept)
            )
            cc = np.corrcoef(x, y)[0, 1] ** 2
            assert abs(r.r2 - cc) < 1e-9
            assert -1e-12 <= r.r2 <= 1 + 1e-12
        else:
            assert pd.isna(r.slope_cents_per_hr)
        checked += 1
    assert checked == len(got)


def test_rollup_monthly_calendar_widths_and_sums(spark):
    got = _run(spark, "rollup_monthly_calendar")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    o = o.assign(
        ym=o.o_orderdate.dt.year * 100 + o.o_orderdate.dt.month,
        cents=(o.o_totalprice * 100).round().astype("int64"),
    )
    exp = o.groupby(["o_orderstatus", "ym"]).agg(
        n_orders=("cents", "size"), sum_cents=("cents", "sum")
    )
    assert len(got) == len(exp)
    import calendar

    for r in got.itertuples(index=False):
        x = exp.loc[(r.o_orderstatus, r.ym)]
        assert r.n_orders == x.n_orders and r.sum_cents == x.sum_cents
        # the calendar-aware width: 28/29/30/31 per the actual month
        assert r.days_in_month == calendar.monthrange(
            r.ym // 100, r.ym % 100
        )[1]
    assert got.days_in_month.nunique() >= 3  # variable width exercised


def test_heartbeat_liveness_union_of_intervals(spark, events):
    tol = 12 * 3_600_000_000
    got = _run(spark, "heartbeat_liveness_user").set_index("user_id")
    for uid, g in events.groupby("user_id"):
        ts = sorted(g.ts_us)
        # brute-force union measure of [t, t+tol) intervals
        live, ranges, end = 0, 0, None
        for t in ts:
            if end is None or t > end:
                ranges += 1
                live += tol
                end = t + tol
            else:
                live += t + tol - end
                end = t + tol
        r = got.loc[uid]
        assert r.n_beats == len(ts)
        assert r.live_us == live, uid
        assert r.n_live_ranges == ranges, uid
    assert len(got) == events.user_id.nunique()


def test_new_r5_tail_plans_and_invariance(spark):
    specs = {
        "regr_stats_user": dict(windows=0),
        "rollup_monthly_calendar": dict(windows=0),
        "heartbeat_liveness_user": dict(windows=1),
    }
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name, spec in specs.items():
            fn = QUERIES[name]["fn"]
            plan = (
                fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count("Exchange") == 1, name
            assert plan.count("Window") == spec["windows"], name
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            a = sorted(map(str, fn(spark, SF).collect()))
            spark.conf.set("spark.sql.shuffle.partitions", "17")
            b = sorted(map(str, fn(spark, SF).collect()))
            # exact-by-construction: bit-identical incl. float endpoints
            assert a == b and len(a) > 0, name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_candlestick_weekly_algebra_matches_raw(spark, events):
    """The cagg algebra proof in-engine: weekly-from-daily-partials
    must equal weekly-computed-straight-from-raw."""
    from_daily = sorted(
        map(tuple, QUERIES["candlestick_weekly_rollup"]["fn"](spark, SF).collect())
    )
    day_us = 86_400_000_000
    e = events.assign(
        week_us=lambda d: ((d.ts_us // day_us + 3) // 7 * 7 - 3) * day_us
    ).sort_values(["ts_us", "event_id"], kind="stable")
    exp = (
        e.groupby(["event_type", "week_us"])
        .agg(
            open_cents=("cents", "first"),
            high_cents=("cents", "max"),
            low_cents=("cents", "min"),
            close_cents=("cents", "last"),
            n_events=("cents", "size"),
            volume_cents=("cents", "sum"),
        )
        .reset_index()
    )
    raw = sorted(map(tuple, exp.itertuples(index=False)))
    assert from_daily == raw and len(raw) > 0


def test_histogram_quantile_prometheus_semantics(spark, events):
    import numpy as np
    from sentinel2_crop_trait_timeseries_spark.catalog_ts import (
        _HQ_EDGES,
        _HQ_QS,
    )

    got = _run(spark, "histogram_quantile_type")
    lows = [0] + _HQ_EDGES[:-1]
    for etype, g in events.groupby("event_type"):
        cents = np.sort(g.cents.to_numpy())
        n = len(cents)
        sub = got[got.event_type == etype].set_index("q_pct")
        assert len(sub) == len(_HQ_QS)
        prev_est = -1.0
        for qp in _HQ_QS:
            r = sub.loc[qp]
            b = int(r.bucket)
            # chosen bucket = first whose cumulative count reaches q*n
            cum = np.array(
                [int((cents <= e).sum()) for e in _HQ_EDGES], dtype=float
            )
            target = qp / 100.0 * n
            expect_b = int(np.argmax(cum >= target))
            # ties on exact boundary: both engines use cum_prev<t<=cum
            assert b == expect_b, (etype, qp, b, expect_b)
            assert lows[b] <= r.est_cents <= _HQ_EDGES[b]
            assert r.est_cents >= prev_est  # quantile monotonicity
            prev_est = r.est_cents
    assert got.groupby("event_type").size().eq(len(_HQ_QS)).all()


def test_column_profile_matches_pandas(spark):
    got = _run(spark, "column_profile_orders").set_index("column_name")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    assert len(got) == 6
    for col in got.index:
        r = got.loc[col]
        s = o[col]
        assert r.n_rows == len(o)
        assert r.n_null == int(s.isna().sum())
        assert r.ndv == s.nunique()
        if col == "o_orderdate":
            assert r.min_num == s.min().value // 1000
            assert r.max_num == s.max().value // 1000
        elif pd.api.types.is_numeric_dtype(s):
            assert r.min_num == float(s.min())
            assert r.max_num == float(s.max())
        else:
            assert pd.isna(r.min_num) and pd.isna(r.max_num)
    # single scan of orders: the stack pivots one aggregated row
    plan = (
        QUERIES["column_profile_orders"]["fn"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan") == 1


def test_histogram_quantile_partition_invariance(spark):
    fn = QUERIES["histogram_quantile_type"]["fn"]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(str, fn(spark, SF).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(str, fn(spark, SF).collect()))
        # shared _HQ_EST formula: floats bit-identical, not just close
        assert a == b and len(a) > 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
