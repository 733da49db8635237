"""Final chart-serving / market-style / corpus-information queries:
M4 downsample, VWAP, Bollinger bands, unigram entropy, and a Markov
event-type transition matrix.

The reference ends its pipeline by *serving* the reconstructed series:
plots of the dense trait curve per parcel (src/04_reconstruct_s2_traits
.py:366's plausibility screen feeding the validation figures) and
summary statistics per phenological window. This module is the serving
tier a warehouse user expects over the same shape of data: M4 is the
standard error-free line-chart downsample (Jugel et al., VLDB 2014) —
the pixel-exact analog of the reference's per-parcel trait plots; VWAP
and Bollinger are the canonical windowed "value-weighted level and
volatility band" operators over an ordered cents stream; the entropy
and Markov queries close the corpus-health family of catalog_corpus.py
with the two classic information measures (token entropy per source,
first-order behavioral transition matrix).

Exactness conventions (catalog.py / catalog_ts.py house rules):
- time is BIGINT epoch microseconds; values are BIGINT cents
  (fixtures carry exactly 2 decimals), so every sum/min/max/count
  here is an integer aggregate — exact, order- and
  engine-independent at any partitioning;
- surfaced floats are single-expression IEEE chains over exact
  integers (divide / sqrt / scale-by-2 / add are each correctly
  rounded, so identical integer operands give bit-identical doubles
  in both engines), rounded with the standard ``round(1e-9 + x, 4)``;
- the one libm call per row group (``ln`` in the entropy query) is
  snapped to the 1/2^20 dyadic grid BEFORE the cross-row sum
  (catalog_corpus.py's PSI rule); the residual ``ln(N)`` is a single
  call on identical operands with the accepted ~2^-32 snap-flip risk
  documented there.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.catalog import _SQL_DAY, _q, _t
from sentinel2_crop_trait_timeseries_spark.catalog_corpus import (
    _GRID,
    _SQL_SWORDS,
    _swords,
)
from sentinel2_crop_trait_timeseries_spark.catalog_ts import (
    _SQL_CENTS,
    _SQL_US,
    _DAY_US,
    _e,
)


def _day_col() -> F.Column:
    return (F.floor(F.col("ts_us") / _DAY_US) * 86400).cast("long")


# =====================================================================
# M4 downsample (Jugel et al., VLDB 2014)
# =====================================================================

@_q(
    "m4_downsample",
    f"""
    WITH o AS (
      SELECT user_id, event_id, {_SQL_US} AS ts_us, {_SQL_CENTS} AS cents,
             {_SQL_DAY} AS day_ts
      FROM events
    ), r AS (
      SELECT *,
        row_number() OVER (PARTITION BY user_id, day_ts
                           ORDER BY ts_us, event_id) AS rn_a,
        row_number() OVER (PARTITION BY user_id, day_ts
                           ORDER BY ts_us DESC, event_id DESC) AS rn_d
      FROM o
    )
    SELECT user_id, day_ts,
           cast(count(*) AS bigint) AS n_points,
           cast(min(cents) AS bigint) AS min_cents,
           cast(max(cents) AS bigint) AS max_cents,
           cast(min(ts_us) AS bigint) AS first_ts_us,
           cast(max(ts_us) AS bigint) AS last_ts_us,
           cast(max(CASE WHEN rn_a = 1 THEN cents END) AS bigint)
             AS first_cents,
           cast(max(CASE WHEN rn_d = 1 THEN cents END) AS bigint)
             AS last_cents
    FROM r GROUP BY 1, 2
    """,
)
def m4_downsample(spark, sf_dir):
    """M4 aggregation (Jugel et al., VLDB 2014): per (series, pixel
    bucket) keep exactly the min, max, first and last points — the
    error-free line-chart downsample (what a dashboard renders instead
    of the raw stream; a width-w chart needs only 4w points to be
    pixel-identical). Series key = user, bucket = day. Complements
    lttb_downsample (catalog_ts.py): LTTB is the perceptual variant
    with a fixed point budget; M4 is the exact variant with a fixed
    bucket width — the pair is the standard downsampling toolbox.
    Reference analog: the per-parcel trait-curve figures the reference
    renders from its dense reconstruction.

    Semantics: first/last are by (ts_us, event_id) — event_id is
    unique, so the dual row_number tie-break is total and both engines
    pick the same row without relying on struct-keyed arg_min (DuckDB
    arg_min accepts only scalar keys). All outputs are BIGINT — exact.

    Scale shape: both row_number windows and the final aggregate share
    the (user, day) key, so the plan is ONE hash exchange, two sorts
    of the same partition, and a map-side-partial aggregate that nests
    inside the window partitioning. No joins, no row amplification;
    at 100 TB this is a single sort-based shuffle keyed by
    (series, bucket) — embarrassingly parallel across buckets, skew
    bounded by one series-day."""
    e = _e(spark, sf_dir).withColumn("day_ts", _day_col())
    wa = Window.partitionBy("user_id", "day_ts").orderBy("ts_us", "event_id")
    wd = Window.partitionBy("user_id", "day_ts").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    r = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return r.groupBy("user_id", "day_ts").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.min("ts_us").alias("first_ts_us"),
        F.max("ts_us").alias("last_ts_us"),
        F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).alias(
            "first_cents"
        ),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias(
            "last_cents"
        ),
    )


# =====================================================================
# VWAP (volume-weighted average price per type-day)
# =====================================================================

@_q(
    "vwap_type_daily",
    f"""
    WITH o AS (
      SELECT event_type, {_SQL_DAY} AS day_ts, {_SQL_CENTS} AS cents,
             (event_id % 7) + 1 AS qty
      FROM events
    )
    SELECT event_type, day_ts,
           cast(count(*) AS bigint) AS n_trades,
           cast(sum(qty) AS bigint) AS volume,
           cast(sum(cents * qty) AS bigint) AS notional_cents,
           round(1e-9 + cast(sum(cents * qty) AS double)
                 / cast(sum(qty) AS double), 4) AS vwap_cents
    FROM o GROUP BY 1, 2
    """,
)
def vwap_type_daily(spark, sf_dir):
    """Volume-weighted average price per (event_type, day) — the
    canonical market rollup (TimescaleDB's financial vwap; kdb's
    standard wavg idiom). The fixture has no quantity column, so the
    deterministic stand-in ``qty = event_id % 7 + 1`` gives every
    trade an exact integer size in 1..7 (same derivation rule as the
    doc_id-parity snapshots of psi_token_drift — a pure function of a
    key column, identical in both engines).

    Exactness: notional = sum(cents*qty) and volume = sum(qty) are
    BIGINT sums of integers (|cents| <= 56021 in the fixtures, qty <=
    7 — notional per row < 2^19, no overflow until ~2^44 rows per
    group); vwap is ONE division of the two exact integers, correctly
    rounded IEEE, then the house 4-dp snap.

    Scale shape: a single partial-aggregated groupBy — map-side
    combine reduces each partition to (types x days) rows before the
    one exchange; the classic scan-dominated rollup at any scale."""
    e = _e(spark, sf_dir).select(
        "event_type",
        _day_col().alias("day_ts"),
        "cents",
        (F.col("event_id") % 7 + 1).alias("qty"),
    )
    return e.groupBy("event_type", "day_ts").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum("qty").alias("volume"),
        F.sum(F.col("cents") * F.col("qty")).alias("notional_cents"),
        F.round(
            F.lit(1e-9)
            + F.sum(F.col("cents") * F.col("qty")).cast("double")
            / F.sum("qty").cast("double"),
            4,
        ).alias("vwap_cents"),
    )


# =====================================================================
# Bollinger bands (rolling mean +- 2 sigma over the last 20 samples)
# =====================================================================

@_q(
    "bollinger_bands",
    f"""
    WITH o AS (
      SELECT user_id, event_id, {_SQL_US} AS ts_us, {_SQL_CENTS} AS cents
      FROM events
    ), r AS (
      SELECT *,
        cast(count(*) OVER w AS bigint) AS n,
        cast(sum(cents) OVER w AS bigint) AS s1,
        cast(sum(cents * cents) OVER w AS bigint) AS s2
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts_us, cents, n, s1, s2,
           round(1e-9 + cast(s1 AS double) / cast(n AS double), 4)
             AS ma_cents,
           round(1e-9 + cast(s1 AS double) / cast(n AS double)
                 + 2 * sqrt(cast(n * s2 - s1 * s1 AS double)
                            / cast(n * n AS double)), 4) AS bb_upper,
           round(1e-9 + cast(s1 AS double) / cast(n AS double)
                 - 2 * sqrt(cast(n * s2 - s1 * s1 AS double)
                            / cast(n * n AS double)), 4) AS bb_lower
    FROM r
    """,
)
def bollinger_bands(spark, sf_dir):
    """Bollinger bands per user: 20-sample rolling mean of cents with
    a +-2 population-sigma envelope — the standard volatility band a
    metrics/market user layers on any ordered series (pandas
    ``rolling(20).mean() +- 2*rolling(20).std(ddof=0)``). The warm-up
    rows (n < 20) use the partial window, pandas ``min_periods=1``
    semantics, identical in both engines.

    Exactness: the rolling window carries only BIGINT sufficient
    statistics (n, s1 = sum, s2 = sum of squares — |cents| <= 56021 so
    s2 per row < 2^32, 20 rows < 2^37, exact). The surfaced floats are
    the IEEE chain mean = s1/n, sd = sqrt((n*s2 - s1*s1)/(n*n))
    (non-negative by Cauchy-Schwarz, exact integer numerator),
    band = mean +- 2*sd: divide, sqrt, scale-by-2 and add are each
    correctly rounded, so identical BIGINT inputs give bit-identical
    doubles in Spark and DuckDB before the house 4-dp snap.

    Scale shape: ONE shuffle by user, one sort, one running-frame
    window computing all three statistics in a single pass; no joins,
    output 1:1 with input (chart-serving tier reads it filtered by
    series + time range, where parquet row-group pruning applies)."""
    e = _e(spark, sf_dir).select("user_id", "event_id", "ts_us", "cents")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    r = (
        e.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("s1", F.sum("cents").over(w))
        .withColumn("s2", F.sum(F.col("cents") * F.col("cents")).over(w))
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    sd = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n") * F.col("n")).cast("double")
    )
    return r.select(
        "user_id",
        "event_id",
        "ts_us",
        "cents",
        "n",
        "s1",
        "s2",
        F.round(F.lit(1e-9) + mean, 4).alias("ma_cents"),
        F.round(F.lit(1e-9) + mean + 2 * sd, 4).alias("bb_upper"),
        F.round(F.lit(1e-9) + mean - 2 * sd, 4).alias("bb_lower"),
    )


# =====================================================================
# Unigram token entropy per source (Shannon, natural log)
# =====================================================================

@_q(
    "token_entropy_source",
    f"""
    WITH w AS ({_SQL_SWORDS}),
    c AS (
      SELECT source, w, cast(count(*) AS bigint) AS c
      FROM w GROUP BY 1, 2
    ),
    s AS (
      SELECT source,
             cast(sum(c) AS bigint) AS n_words,
             cast(count(*) AS bigint) AS n_vocab,
             cast(sum(cast(floor(c * ln(cast(c AS double)) * {_GRID} + 0.5)
                           AS bigint)) AS bigint) AS slnc_x2p20
      FROM c GROUP BY 1
    )
    SELECT source, n_words, n_vocab, slnc_x2p20,
           round(1e-9 + ln(cast(n_words AS double))
                 - (cast(slnc_x2p20 AS double) / {_GRID})
                   / cast(n_words AS double), 4) AS entropy_nats
    FROM s
    """,
)
def token_entropy_source(spark, sf_dir):
    """Shannon entropy (nats) of the unigram token distribution per
    source: H = ln(N) - (1/N) * sum_w c_w ln(c_w) — the third classic
    corpus-information measure next to catalog_corpus.py's Zipf slope
    and hapax/TTR diversity. Template/boilerplate spam collapses H
    toward 0; natural language sits near ln(vocab-eff). A pretraining
    mixture designer reads it per source next to the mixture weights.

    Exactness: each c*ln(c) term is snapped to the 1/2^20 dyadic grid
    as a BIGINT before the cross-row sum (operands non-negative since
    c >= 1, so floor(x+0.5) is half-up in both engines; c = 1 gives
    ln(1) = 0 exactly) — the PSI rule from catalog_corpus.py, making
    ``slnc_x2p20`` an integer sum, order- and engine-independent. The
    surfaced H does one residual ln(N) per source (single libm call on
    identical operands; the accepted ~2^-32 snap-flip risk) and two
    correctly-rounded divisions mirrored expression-for-expression.

    Scale shape: explode to words, partial-agg to (source, word)
    counts (the same two-exchange shape as tfidf_top_terms's DF leg),
    then a per-source rollup whose input is vocab-sized, not
    corpus-sized. No joins; the word-count frame is the reusable
    intermediate every corpus-health query shares."""
    d = _t(spark, sf_dir, "documents")
    c = _swords(d).groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    s = c.groupBy("source").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum(
            F.floor(
                F.col("c") * F.log(F.col("c").cast("double")) * _GRID + 0.5
            ).cast("long")
        ).alias("slnc_x2p20"),
    )
    return s.select(
        "source",
        "n_words",
        "n_vocab",
        "slnc_x2p20",
        F.round(
            F.lit(1e-9)
            + F.log(F.col("n_words").cast("double"))
            - (F.col("slnc_x2p20").cast("double") / F.lit(float(_GRID)))
            / F.col("n_words").cast("double"),
            4,
        ).alias("entropy_nats"),
    )


# =====================================================================
# First-order Markov transition matrix of event types
# =====================================================================

@_q(
    "markov_transitions",
    f"""
    WITH o AS (
      SELECT user_id, event_id, event_type, {_SQL_US} AS ts_us
      FROM events
    ), p AS (
      SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id) AS prev_type
      FROM o
    ), m AS (
      SELECT prev_type, next_type, cast(count(*) AS bigint) AS n_pair
      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_pair,
           cast(sum(n_pair) OVER (PARTITION BY prev_type) AS bigint)
             AS n_from,
           round(1e-9 + cast(n_pair AS double)
                 / cast(sum(n_pair) OVER (PARTITION BY prev_type)
                        AS double), 4) AS p_next
    FROM m
    """,
)
def markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of event types across each
    user's ordered history: P(next | prev) with exact pair counts —
    the standard behavioral-sequence summary (session flow analysis;
    the discrete analog of the reference's phenology-stage transitions
    along the assimilated trait curve). Each user's first event has no
    predecessor and is excluded in both engines (NULL lag filtered).

    Exactness: pair and row counts are BIGINT; the row-conditional
    probability is one division of two exact integers, correctly
    rounded, then the 4-dp house snap.

    Scale shape: one shuffle by user for the lag window, then a
    partial-aggregated groupBy onto the (|types| x |types|) matrix —
    at most a few hundred rows regardless of input size, so the
    final n_from window over prev_type is a provably grid-bounded
    single-stage pass (the house rule for tiny-table windows); the
    division reuses the window sum, no self-join."""
    e = _e(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    p = e.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    m = p.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    wf = Window.partitionBy("prev_type")
    return m.select(
        "prev_type",
        "next_type",
        "n_pair",
        F.sum("n_pair").over(wf).alias("n_from"),
        F.round(
            F.lit(1e-9)
            + F.col("n_pair").cast("double")
            / F.sum("n_pair").over(wf).cast("double"),
            4,
        ).alias("p_next"),
    )


# =====================================================================
# KL divergence of each source's unigram mix vs the corpus mix
# =====================================================================

@_q(
    "kl_divergence_source",
    f"""
    WITH w AS ({_SQL_SWORDS}),
    sw AS (
      SELECT source, w, cast(count(*) AS bigint) AS c_sw
      FROM w GROUP BY 1, 2
    ),
    cw AS (
      SELECT w, cast(sum(c_sw) AS bigint) AS c_w FROM sw GROUP BY 1
    ),
    ns AS (
      SELECT source, cast(sum(c_sw) AS bigint) AS n_s FROM sw GROUP BY 1
    ),
    nn AS (SELECT cast(sum(c_w) AS bigint) AS n FROM cw),
    terms AS (
      SELECT sw.source, ns.n_s, nn.n,
             cast(floor(
               (cast(sw.c_sw AS double) / cast(ns.n_s AS double))
               * ln(cast(sw.c_sw * nn.n AS double)
                    / cast(cw.c_w * ns.n_s AS double))
               * {_GRID} + 0.5) AS bigint) AS kterm
      FROM sw
      JOIN cw USING (w)
      JOIN ns USING (source)
      CROSS JOIN nn
    )
    SELECT source, n_s AS n_words, n AS n_words_corpus,
           cast(sum(kterm) AS bigint) AS kl_x2p20,
           round(1e-9 + cast(sum(kterm) AS double) / {_GRID}, 4)
             AS kl_nats
    FROM terms GROUP BY 1, 2, 3
    """,
)
def kl_divergence_source(spark, sf_dir):
    """KL divergence of each source's unigram token distribution from
    the whole-corpus distribution: KL(P_s || P) = sum_w p_sw *
    ln(p_sw / p_w) — the "how far is this source from the mixture?"
    number a pretraining mixture designer reads next to
    source_mixture_weights (DSIR-style domain relevance uses exactly
    this quantity; see dsir_importance_weights for the per-doc
    variant). Completes the drift family: psi_token_drift compares two
    SNAPSHOTS of one source; this compares each SOURCE to the corpus.
    No smoothing is needed: every source word is in the corpus by
    construction (support(P_s) is a subset of support(P)), so every
    term is finite.

    Exactness: counts are BIGINT; each term's float chain is mirrored
    expression-for-expression — (c_sw/n_s) * ln((c_sw*n)/(c_w*n_s)) —
    where both divisions are correctly rounded on exact integer
    operands, then snapped to the 1/2^20 dyadic grid BEFORE the
    cross-row sum. SCALE BOUND (r5 ADVICE): the int64 products c_sw*n
    and c_w*n_s require n_s*n < 2^63 — safe through ~10^9-token
    sources in a ~10^9-token corpus, but a 10B-token corpus with a
    1B-token source overflows; beyond that, migrate both products to
    decimal(38,0) (changes no value at in-range sizes but re-hash the
    contract when done) rather than re-associating the division, which
    would change the float chain. Terms may be negative (p_sw < p_w);
    floor(x + 0.5) is the same function in both engines for either
    sign, so the snap stays engine-identical. Residual risk is the
    per-term 1-ulp libm ln() disagreement flipping a snap
    (~2^-32/term — the accepted tfidf/PSI risk). The surfaced
    ``kl_x2p20`` is an integer sum: order/partitioning-independent;
    Gibbs' inequality makes the true KL >= 0, so the snapped sum is
    >= -vocab/2 ulps (test pins >= 0 within snap error).

    Scale shape: (source, word) collapse first — corpus-stream work
    ends there, and the collapsed vocab-sized frame is eagerly
    localCheckpoint-ed (the k-means/PQ house pattern) so the corpus
    tokenize runs ONCE even though three aggregates (c_w, n_s, n)
    derive from it. The word-keyed join of the vocab-sized frames is
    left to AQE: broadcast at fixture scale, shuffle at production
    vocab sizes (same frame sizes as tfidf_top_terms); n_s/n are
    broadcast scalar joins, and the final rollup is sources-sized."""
    d = _t(spark, sf_dir, "documents")
    sw = (
        _swords(d)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c_sw"))
        .localCheckpoint(eager=True)
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    ns = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    nn = cw.agg(F.sum("c_w").alias("n"))
    terms = (
        sw.join(cw, "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "n_s",
            "n",
            F.floor(
                (F.col("c_sw").cast("double") / F.col("n_s").cast("double"))
                * F.log(
                    (F.col("c_sw") * F.col("n")).cast("double")
                    / (F.col("c_w") * F.col("n_s")).cast("double")
                )
                * _GRID
                + 0.5
            )
            .cast("long")
            .alias("kterm"),
        )
    )
    return terms.groupBy(
        "source",
        F.col("n_s").alias("n_words"),
        F.col("n").alias("n_words_corpus"),
    ).agg(
        F.sum("kterm").alias("kl_x2p20"),
        F.round(
            F.lit(1e-9) + F.sum("kterm").cast("double") / F.lit(float(_GRID)),
            4,
        ).alias("kl_nats"),
    )


# =====================================================================
# SMA crossover signals (golden/death cross, exact integer test)
# =====================================================================

@_q(
    "sma_crossover_signals",
    f"""
    WITH o AS (
      SELECT user_id, event_id, {_SQL_US} AS ts_us, {_SQL_CENTS} AS cents
      FROM events
    ), r AS (
      SELECT *,
        cast(sum(cents) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS bigint) AS s5,
        cast(sum(cents) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS bigint) AS s20,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS rn
      FROM o
    ), d AS (
      SELECT *, 4 * s5 - s20 AS diff,
             lag(4 * s5 - s20) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS pdiff
      FROM r
    )
    SELECT user_id, event_id, ts_us, cents, diff, pdiff,
           CASE WHEN pdiff < 0 THEN 'golden' ELSE 'death' END AS direction
    FROM d
    WHERE rn >= 21
      AND ((pdiff < 0 AND diff >= 0) OR (pdiff > 0 AND diff <= 0))
    """,
)
def sma_crossover_signals(spark, sf_dir):
    """Moving-average crossover detector per user: emit the events
    where the 5-sample SMA crosses the 20-sample SMA ('golden' up,
    'death' down) — the classic trend-change signal over any ordered
    series. The comparison is EXACT with zero floats: SMA5 > SMA20
    iff s5/5 > s20/20 iff 4*s5 > s20, so ``diff = 4*s5 - s20`` is an
    exact BIGINT whose sign change IS the crossover; no division ever
    happens. Rows are eligible from rn >= 21, so both the current and
    the lagged row have full 5- and 20-sample windows (no warm-up
    artifacts). Tie rule: a touch (diff = 0) resolves with the side
    the series came from (pdiff < 0 -> golden, pdiff > 0 -> death);
    flat-to-flat (pdiff = 0) is no signal.

    Scale shape: ONE shuffle by user; both running sums, the
    row_number and the lag share the same sort order, so the plan is
    a single exchange + sort with stacked window operators, then a
    narrow filter — no joins, output is only the crossover events
    (sparse). At 100 TB this is scan + one sort-based shuffle keyed
    by series."""
    e = _e(spark, sf_dir).select("user_id", "event_id", "ts_us", "cents")
    ob = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    r = (
        e.withColumn("s5", F.sum("cents").over(ob.rowsBetween(-4, 0)))
        .withColumn("s20", F.sum("cents").over(ob.rowsBetween(-19, 0)))
        .withColumn("rn", F.row_number().over(ob))
        .withColumn("diff", 4 * F.col("s5") - F.col("s20"))
    )
    d = r.withColumn("pdiff", F.lag("diff").over(ob))
    return d.filter(
        (F.col("rn") >= 21)
        & (
            ((F.col("pdiff") < 0) & (F.col("diff") >= 0))
            | ((F.col("pdiff") > 0) & (F.col("diff") <= 0))
        )
    ).select(
        "user_id",
        "event_id",
        "ts_us",
        "cents",
        "diff",
        "pdiff",
        F.when(F.col("pdiff") < 0, F.lit("golden"))
        .otherwise(F.lit("death"))
        .alias("direction"),
    )


# =====================================================================
# Time-travel snapshot (Iceberg/Delta "AS OF" over a CDC version log)
# =====================================================================

_ASOF_US = 1_705_363_200_000_000  # 2024-01-16T00:00:00Z (mid-fixture)


@_q(
    "time_travel_snapshot",
    f"""
    WITH v AS (
      SELECT user_id, event_id, {_SQL_US} AS ts_us, {_SQL_CENTS} AS cents,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events
      WHERE {_SQL_US} <= {_ASOF_US}
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC)
                  AS rn,
             cast(count(*) OVER (PARTITION BY user_id) AS bigint)
               AS n_versions
      FROM v
    )
    SELECT user_id, cents AS cents_asof, ts_us AS version_ts_us,
           event_id AS version_event_id, n_versions
    FROM r WHERE rn = 1 AND op = 'U'
    """,
)
def time_travel_snapshot(spark, sf_dir):
    """Snapshot-as-of reconstruction over a CDC version log — the
    Iceberg ``FOR TIMESTAMP AS OF`` / Delta time-travel semantics
    re-expressed as a query: each event row is a version of its key
    (user), 'error' events act as deletes, and the snapshot at T =
    2024-01-16T00:00:00Z is the latest at-or-before version per key,
    keys whose latest version is a delete omitted. Completes the
    table-maintenance family: cdc_merge_apply applies a change batch
    FORWARD; this reads the log BACKWARD to a point in time (the pair
    is the MERGE + time-travel surface of a lakehouse table format,
    here without the Iceberg runtime jar the container lacks —
    table_io.py holds the seam). Reference analog: the reconstruction
    pipeline's resume-from-manifest reads only versions at-or-before
    the checkpoint's timestamp.

    Exactness: the version order (ts_us, event_id) is total (event_id
    unique), so rn = 1 picks the same row in both engines; all
    surfaced values are BIGINT.

    Scale shape: the AS-OF predicate is pushed to the scan (time-range
    partition pruning in a real table layout), then ONE shuffle by key
    for the row_number + count windows (shared partition), and a
    narrow rn = 1 filter — per-key cost bounded by that key's version
    history, the standard log-compaction shape."""
    e = _e(spark, sf_dir).filter(F.col("ts_us") <= _ASOF_US)
    v = e.withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    r = v.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_versions",
        F.count(F.lit(1)).over(Window.partitionBy("user_id")),
    )
    return r.filter((F.col("rn") == 1) & (F.col("op") == "U")).select(
        "user_id",
        F.col("cents").alias("cents_asof"),
        F.col("ts_us").alias("version_ts_us"),
        F.col("event_id").alias("version_event_id"),
        "n_versions",
    )
