"""Data-layout and sketch queries: z-order clustering cells, count-min
heavy hitters, and partitioned-Bloom semi-join pruning.

These three close the "physical design at 100 TB" family: the reference
pipeline hard-codes its layout (one pickle per parcel-season directory,
src/04_reconstruct_s2_traits.py:607-638) and prunes work by re-listing
that directory tree; a warehouse-scale engine instead needs (a) a
multi-dimensional clustering key so ONE sorted layout serves predicates
on several columns (z-order — Delta/Iceberg OPTIMIZE ZORDER), (b)
mergeable frequency sketches so "top tokens" never requires a global
exact pass (count-min, Cormode-Muthukrishnan '05), and (c) compact
runtime filters so a selective dimension predicate prunes a fact scan
without shipping the key list (Bloom semi-join, the pattern behind
Spark's own runtime row-group filters).

Exactness: everything here is integer arithmetic end to end — bit
interleaving via div/mod on non-negative bigints, md5-slice hashes
(shared 60/32-bit hash convention, see catalog_docs.py header), and
pure counts — so the DuckDB twins are bit-identical by construction,
independent of partitioning, order, or engine.

Scale notes (local[32] is the test rig; the design target is 1000
executors / 100 TB):
- ``zorder_cell_stats``: narrow projection + one map-side-combinable
  groupBy on the cell id — scan-speed. The surfaced invariant
  (u_span<=15 AND d_span<=15 per 256-z-point cell) is exactly the
  row-group min/max bound that makes a z-sorted file skippable on
  EITHER dimension.
- ``heavy_hitters_cms``: the sketch is LINEAR (cells are sums), so the
  4096-cell table merges across any partitioning — the groupBy
  map-side-combines and the final estimate joins an 80-row broadcast.
  One vocabulary aggregation is shared by sketch, candidates, and
  probe via localCheckpoint (at production scale: a persisted table).
- ``bloom_semijoin_prune``: the filter is k=3 x m=4096 SET bucket ids
  (partitioned Bloom), built from the dimension side and broadcast;
  the fact side never shuffles. False positives are COUNTED against
  the exact semi-join so the pruning/precision trade-off is measured,
  not assumed; false negatives are structurally impossible (asserted
  in tests).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.catalog import _q, _spread, _t
from sentinel2_crop_trait_timeseries_spark.catalog_ts import _DAY_US

# ---------------------------------------------------------------------
# z-order: interleave 10 bits of u (user bucket) and d (day bucket).
# Generated once, shared verbatim by both engines modulo the integer-
# division spelling (Spark `div`, DuckDB `//`); operands are provably
# non-negative so trunc-vs-floor division never diverges.
# ---------------------------------------------------------------------
_Z_BITS = 10
_Z_CELL_SHIFT = 256  # drop 8 interleaved bits -> 4 low bits of each dim


def _z_expr(idiv: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((u {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((d {idiv} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


@_q(
    "zorder_cell_stats",
    f"""
    WITH e AS (
      SELECT user_id % 1024 AS u,
             (epoch_us(ts) // {_DAY_US}) % 1024 AS d
      FROM events
    ), z AS (
      SELECT u, d, ({_z_expr('//')}) AS zv FROM e
    )
    SELECT zv // {_Z_CELL_SHIFT} AS cell,
           count(*) AS n_events,
           min(u) AS u_min, max(u) AS u_max,
           min(d) AS d_min, max(d) AS d_max,
           max(u) - min(u) AS u_span,
           max(d) - min(d) AS d_span
    FROM z GROUP BY 1
    """,
)
def zorder_cell_stats(spark, sf_dir):
    """Morton (z-order) cell statistics over events on (user, day).

    Interleaves the low 10 bits of the user bucket and the day bucket
    into a 20-bit z-value, then aggregates per 256-z-point cell. The
    output carries each cell's min/max along BOTH dimensions: because a
    z prefix fixes the high bits of u AND d simultaneously, every cell
    is a 16x16 tile (u_span<=15, d_span<=15) — the property that lets a
    z-sorted table prune row groups for predicates on either column.
    Reference analog: the parcel/scene directory layout is its (only)
    clustering key (src/04_reconstruct_s2_traits.py:607-638).
    """
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 1024).alias("u"),
        F.expr(
            "(cast(unix_micros(cast(ts as timestamp)) as bigint)"
            f" div {_DAY_US}) % 1024"
        ).alias("d"),
    )
    z = e.select("u", "d", F.expr(_z_expr("div")).alias("zv"))
    return z.groupBy(
        F.expr(f"zv div {_Z_CELL_SHIFT}").alias("cell")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("u").alias("u_min"),
        F.max("u").alias("u_max"),
        F.min("d").alias("d_min"),
        F.max("d").alias("d_max"),
        (F.max("u") - F.min("u")).alias("u_span"),
        (F.max("d") - F.min("d")).alias("d_span"),
    )


# ---------------------------------------------------------------------
# Count-min sketch: D=4 rows x W=1024 cells; the 4 row hashes are the
# four 8-hex slices of ONE md5 per distinct word (the minhash digest
# economy, catalog_docs.py:393-403).
# ---------------------------------------------------------------------
_CMS_W = 1024
_CMS_D = 4


@_q(
    "heavy_hitters_cms",
    f"""
    WITH wc AS (
      SELECT w AS word, count(*) AS cnt FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents) GROUP BY 1
    ), cells AS (
      SELECT word, cnt, t.i,
             cast('0x' || substr(md5('cms|' || word), 1 + 8 * t.i, 8)
                  AS bigint) % {_CMS_W} AS col
      FROM wc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) t
    ), sketch AS (
      SELECT i, col, cast(sum(cnt) AS bigint) AS cell_total
      FROM cells GROUP BY 1, 2
    ), cand AS (
      SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT 20
    )
    SELECT c.word, c.cnt AS exact_cnt,
           min(s.cell_total) AS cms_est,
           min(s.cell_total) - c.cnt AS overcount
    FROM cand c
    JOIN cells ce ON ce.word = c.word
    JOIN sketch s ON s.i = ce.i AND s.col = ce.col
    GROUP BY 1, 2
    """,
)
def heavy_hitters_cms(spark, sf_dir):
    """Count-min sketch estimates vs exact counts for the top-20 words.

    Builds the (4 x 1024) sketch by COLLAPSING to (word, count) first —
    the sketch is linear, so adding per-word counts into cells equals
    streaming every occurrence, at a fraction of the shuffle. Estimate =
    min over the 4 row cells; ``overcount = est - exact`` is >= 0 by
    construction (one-sided error), asserted in tests and visible in
    the result. At 100 TB the 4096-cell table is the ONLY state that
    crosses the wire — sketches from disjoint shards merge by cell-wise
    sum. Candidates arrive via TakeOrderedAndProject and join back as
    an 80-row broadcast. Reference analog: the pixel-failure tally the
    reference keeps per parcel (pixel_count.txt) is an exact global
    count; this is its sketch-shaped scale path.
    """
    d = _t(spark, sf_dir, "documents")
    ws = _spread(d).select(
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda x: x != "")
        ).alias("word")
    )
    wc = ws.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    dg = F.md5(F.concat(F.lit("cms|"), F.col("word")).cast("binary"))
    cells = wc.select(
        "word",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (
                            F.conv(F.substring(dg, 1 + 8 * i, 8), 16, 10)
                            .cast("long")
                            % _CMS_W
                        ).alias("col"),
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("ic"),
    ).select("word", "cnt", F.col("ic.i").alias("i"), F.col("ic.col").alias("col"))
    # one vocabulary pass shared by sketch + candidates + probe
    cells = cells.localCheckpoint()
    sketch = cells.groupBy("i", "col").agg(
        F.sum("cnt").cast("long").alias("cell_total")
    )
    cand = (
        cells.filter(F.col("i") == 0)
        .select("word", "cnt")
        .orderBy(F.desc("cnt"), "word")
        .limit(20)
    )
    probe = F.broadcast(cand).join(cells.drop("cnt"), "word")
    return (
        probe.join(sketch, ["i", "col"])
        .groupBy("word", F.col("cnt").alias("exact_cnt"))
        .agg(F.min("cell_total").alias("cms_est"))
        .select(
            "word",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


# ---------------------------------------------------------------------
# KMV (k-minimum-values) cardinality sketch: the k=256 smallest 60-bit
# word hashes; unbiased estimator (k-1) * U / h_(k) (Beyer et al.,
# SIGMOD '07). Completes the sketch triad: membership (Bloom),
# frequency (CMS), cardinality (KMV) — all deterministic and mergeable.
# ---------------------------------------------------------------------
_KMV_K = 256
_U40 = 1 << 40  # estimate on the 40-bit scale so (k-1)*U fits a bigint


@_q(
    "kmv_distinct_estimate",
    f"""
    WITH w AS (
      SELECT DISTINCT cast('0x' || substr(md5(t.w), 1, 15) AS bigint) AS h
      FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents) t
    ), k AS (
      SELECT h FROM w ORDER BY h LIMIT {_KMV_K}
    ), s AS (
      SELECT max(h) AS h_k, cast(count(*) AS bigint) AS k_eff FROM k
    ), x AS (
      SELECT cast(count(*) AS bigint) AS n_exact FROM w
    )
    SELECT x.n_exact, s.k_eff, s.h_k,
           (s.k_eff - 1) * {_U40} // (s.h_k // {1 << 20}) AS kmv_est,
           abs((s.k_eff - 1) * {_U40} // (s.h_k // {1 << 20}) - x.n_exact)
             * 10000 // x.n_exact AS err_bp
    FROM s, x
    """,
)
def kmv_distinct_estimate(spark, sf_dir):
    """KMV distinct-word estimate vs the exact count, one row.

    The sketch is the 256 smallest DISTINCT 60-bit word hashes; the
    k-th smallest order statistic gives the unbiased estimate
    ``(k-1) * U / h_(k)``. Everything is integer: ordering and the
    limit cut use the full tie-free 60-bit hash, the estimate divides
    on the 40-bit scale so ``(k-1) * U`` stays inside a bigint, and the
    error is surfaced in basis points via integer division — the twin
    is exact by construction. Scale story: bottom-k is a
    TakeOrderedAndProject (map-side partial top-k, no shuffle of the
    corpus) and the sketch MERGES — bottom-k of a union is the
    bottom-k of the per-shard bottom-k's (pinned by a pytest on a
    parity split). Exact distinct needs a full shuffle of the vocab;
    the sketch needs 256 rows, which is the entire point at 100 TB.
    Reference analog: pixel_count.txt's exact per-parcel tally
    (BASELINE.md) — this is the sketch-shaped scale path for counts
    the reference computes exactly.
    """
    d = _t(spark, sf_dir, "documents")
    h = (
        _spread(d).select(
            F.explode(
                F.filter(F.split("text", r"\s+"), lambda x: x != "")
            ).alias("word")
        )
        .select(
            F.conv(F.substring(F.md5(F.col("word").cast("binary")), 1, 15), 16, 10)
            .cast("long")
            .alias("h")
        )
        .distinct()
        .localCheckpoint()
    )
    s = (
        h.orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).cast("long").alias("k_eff"))
    )
    x = h.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    est = F.expr(f"(k_eff - 1) * {_U40} div (h_k div {1 << 20})")
    return (
        x.crossJoin(F.broadcast(s))
        .select(
            "n_exact",
            "k_eff",
            "h_k",
            est.alias("kmv_est"),
            F.expr(
                f"abs((k_eff - 1) * {_U40} div (h_k div {1 << 20}) - n_exact)"
                " * 10000 div n_exact"
            ).alias("err_bp"),
        )
    )


# ---------------------------------------------------------------------
# Partitioned Bloom filter semi-join: k=3 salted md5 hashes into m=4096
# buckets per hash row; a probe key passes iff ALL 3 of its (i, bucket)
# cells are set.
# ---------------------------------------------------------------------
_BF_M = 4096
_BF_K = 3


def _bf_sql_cells(src: str, key: str) -> str:
    rows = [
        f"SELECT {key} AS k, {i} AS i, cast('0x' || substr(md5('bf{i}|' || "
        f"cast({key} AS varchar)), 1, 8) AS bigint) % {_BF_M} AS b FROM {src}"
        for i in range(_BF_K)
    ]
    return " UNION ALL ".join(rows)


@_q(
    "bloom_semijoin_prune",
    f"""
    WITH build AS (
      SELECT DISTINCT c_custkey AS k FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ), bits AS (
      SELECT DISTINCT i, b FROM ({_bf_sql_cells('build', 'k')})
    ), pk AS (
      SELECT o_custkey AS k, count(*) AS n_orders FROM orders GROUP BY 1
    ), pc AS (
      {_bf_sql_cells('pk', 'k')}
    ), m AS (
      SELECT pc.k, count(*) AS nm
      FROM pc JOIN bits ON bits.i = pc.i AND bits.b = pc.b
      GROUP BY 1
    ), fl AS (
      SELECT pk.k, pk.n_orders,
             coalesce(m.nm, 0) = {_BF_K} AS pass,
             pk.k IN (SELECT k FROM build) AS member
      FROM pk LEFT JOIN m ON m.k = pk.k
    )
    SELECT count(*) AS n_probe_keys,
           cast(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS bigint)
             AS n_pass_keys,
           cast(sum(CASE WHEN member THEN 1 ELSE 0 END) AS bigint)
             AS n_member_keys,
           cast(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END)
                AS bigint) AS n_false_pos_keys,
           cast(sum(n_orders) AS bigint) AS n_orders_total,
           cast(sum(CASE WHEN pass THEN n_orders ELSE 0 END) AS bigint)
             AS n_orders_pass,
           cast(sum(CASE WHEN member THEN n_orders ELSE 0 END) AS bigint)
             AS n_orders_member
    FROM fl
    """,
)
def bloom_semijoin_prune(spark, sf_dir):
    """Bloom-filter pruning of orders by BUILDING-segment customers,
    measured against the exact semi-join.

    Build side: distinct BUILDING customer keys hash into k=3 rows of
    m=4096 buckets (partitioned Bloom — one bucket set per hash keeps
    the set a plain (i, b) relation on both engines). The set of set
    bits is broadcast; a probe key passes iff all 3 of its cells are
    present. The one-row result counts probe/pass/member/false-positive
    keys and the order rows each class covers — no false negatives is a
    theorem (every member's cells were inserted), n_false_pos_keys
    quantifies the wasted reads a runtime filter would admit at this
    m/k and build cardinality. At 100 TB: the dimension side is tiny,
    the fact side never shuffles — the broadcast bitset IS the join
    pruning (Spark runtime filters / DPP do this implicitly; here it is
    explicit and measured). Reference analog: skip-if-exists pruning of
    already-processed scenes (src/04_reconstruct_s2_traits.py:556-575)
    is the reference's (exact, list-based) filter-before-work step.
    """

    def _cells(df, key_col, n_col=None):
        dgs = [
            F.md5(
                F.concat(F.lit(f"bf{i}|"), F.col(key_col).cast("string")).cast(
                    "binary"
                )
            )
            for i in range(_BF_K)
        ]
        extra = [n_col] if n_col else []
        return df.select(
            F.col(key_col).alias("k"),
            *extra,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            (
                                F.conv(F.substring(dgs[i], 1, 8), 16, 10)
                                .cast("long")
                                % _BF_M
                            ).alias("b"),
                        )
                        for i in range(_BF_K)
                    ]
                )
            ).alias("ib"),
        ).select("k", *extra, F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))

    build = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("bk"))
        .distinct()
    )
    bits = _cells(build, "bk").select("i", "b").distinct()
    pk = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    matched = (
        _cells(pk.select("k"), "k")
        .join(F.broadcast(bits), ["i", "b"], "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nm"))
    )
    fl = (
        pk.join(matched, "k", "left")
        .join(
            F.broadcast(build.withColumn("is_m", F.lit(1))),
            pk["k"] == F.col("bk"),
            "left",
        )
        .select(
            "k",
            "n_orders",
            (F.coalesce(F.col("nm"), F.lit(0)) == _BF_K).alias("pass"),
            F.col("is_m").isNotNull().alias("member"),
        )
    )
    one = F.lit(1)
    zero = F.lit(0)
    return fl.agg(
        F.count(one).alias("n_probe_keys"),
        F.sum(F.when(F.col("pass"), one).otherwise(zero))
        .cast("long")
        .alias("n_pass_keys"),
        F.sum(F.when(F.col("member"), one).otherwise(zero))
        .cast("long")
        .alias("n_member_keys"),
        F.sum(F.when(F.col("pass") & ~F.col("member"), one).otherwise(zero))
        .cast("long")
        .alias("n_false_pos_keys"),
        F.sum("n_orders").cast("long").alias("n_orders_total"),
        F.sum(F.when(F.col("pass"), F.col("n_orders")).otherwise(zero))
        .cast("long")
        .alias("n_orders_pass"),
        F.sum(F.when(F.col("member"), F.col("n_orders")).otherwise(zero))
        .cast("long")
        .alias("n_orders_member"),
    )
