"""Physical-plan regression tests: the properties that matter at 100 TB
(pushdown, pruning, partial aggregation, broadcast joins, shuffle
counts) asserted on the executed plans, so a refactor that silently
degrades a plan fails CI."""

import re

import numpy as np
import pytest

from sentinel2_crop_trait_timeseries_spark.catalog import QUERIES
from sentinel2_crop_trait_timeseries_spark.operators.gapfill import gapfill_tiers
from sentinel2_crop_trait_timeseries_spark.sources.gen import gen_batch

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    return QUERIES[name]["fn"](spark, SF)._jdf.queryExecution()


def _executed(spark, name):
    return _plan(spark, name).executedPlan().toString()


def _formatted(spark, name):
    qe = _plan(spark, name)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def test_pricing_summary_pushdown_pruning_partial_agg(spark):
    fmt = _formatted(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in fmt  # predicate reaches the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", fmt)
    cols = m.group(1)
    assert "l_comment" not in cols and "l_orderkey" not in cols  # pruned
    plan = _executed(spark, "pricing_summary")
    assert "partial_" in plan  # map-side combine
    assert plan.count("Exchange") <= 2  # one agg shuffle (+AQE read)


def test_interval_overlap_bursts_no_global_window(spark):
    """r5 VERDICT "what's wrong" #1: the error-burst segmentation must
    not run an unpartitioned window over the full error stream. The
    two-level form keeps every Window partitioned (by user or by day
    cell) and stitches bucket boundaries in one pandas task over the
    day-span-bounded summary — so no Exchange SinglePartition feeds a
    Window anywhere in the plan."""
    plan = _executed(spark, "interval_overlap_bursts")
    assert "Exchange SinglePartition" not in plan
    assert "MapInPandas" in plan  # the bounded boundary stitch


def test_star_join_is_all_broadcast(spark):
    plan = _executed(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan  # fact table is never shuffled to join


def test_asof_join_has_no_join_operator(spark):
    plan = _executed(spark, "asof_join_signup")
    assert "Join" not in plan  # last-ignore-nulls window, not a range join
    assert plan.count("Exchange") == 1  # single keyed shuffle


def test_rollups_aggregate_map_side(spark):
    for name in ("rollup_hourly", "rollup_daily_cascade", "continuous_agg_daily"):
        plan = _executed(spark, name)
        assert "partial_" in plan, name


def _plan_nodes(plan):
    """Every node of an executed physical plan, through the adaptive
    wrapper and its query stages."""
    nodes, todo = [], [plan]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(p.plan())
            continue
        nodes.append(p)
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_fused_tiers_shuffle_free(spark):
    """The fused tiers are one narrow pass: the kernel's per-(tier, doc)
    Arrow lists feed an ``inline`` Generate directly, with no shuffle
    and no pandas row conversion anywhere in the executed plan."""
    seq = spark.createDataFrame(gen_batch(np.arange(10))).coalesce(2)
    df = gapfill_tiers(seq)
    df.collect()
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    names = [n.nodeName() for n in nodes]
    assert not [n for n in names if "Exchange" in n], names
    assert "MapInPandas" not in names, names
    gens = [n for n in nodes if n.nodeName() == "Generate"]
    assert len(gens) == 1, names
    assert gens[0].generator().prettyName() == "inline"
    feed = gens[0].children().apply(0)
    if feed.nodeName() == "InputAdapter":  # codegen stage boundary
        feed = feed.child()
    assert feed.nodeName() == "MapInArrow", names


def test_ann_bruteforce_cogroup_cells(spark):
    """Brute force rides the hash-block cogroup (grouped_cell_topk):
    dense numpy scoring per cell, never a nested-loop join over the
    full pair space (r6 rewrite; was BroadcastNestedLoopJoin +
    interpreted fold cosine)."""
    plan = _executed(spark, "ann_topk_bruteforce")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_band_join_is_equijoin(spark):
    plan = _executed(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # banding = hash equi-join


def test_simhash_banding_is_equijoin(spark):
    """Hamming<=2 pair search rides a (chunk_idx, chunk_value)
    equi-join (pigeonhole banding), never an all-pairs join."""
    plan = _executed(spark, "dedup_simhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_cosine_block_triangle_is_equijoin(spark):
    """Exact all-pairs cosine rides the block triangle join: a shuffle
    equi-join on the block-pair key, not BNLJ/cartesian."""
    plan = _executed(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spatial_snap_nn_is_equijoin(spark):
    """Grid-cell snap NN: 3x3 neighborhood explode turns the radius
    search into a shuffle equi-join on (cx, cy) — never a cross join
    with a distance predicate."""
    plan = _executed(spark, "spatial_snap_nn")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_multiprobe_cogroup_cells(spark):
    """Multi-probe ANN: candidates meet inside the per-bucket cogroup
    (grouped_cell_topk) — the x9-replicated probe side is tiny, the
    bucketed corpus shuffles once by its bucket key, and scoring is
    the vectorized cell kernel, never a nested loop."""
    plan = _executed(spark, "ann_multiprobe")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_ivf_cogroup_cells(spark):
    """IVF cell ids key the cogroup; no BNLJ/cartesian anywhere."""
    plan = _executed(spark, "ann_ivf")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_pq_cogroup_over_checkpointed_codes(spark):
    """PQ ANN: the corpus is scored from its codes by the blocked ADC
    cogroup kernel — no nested loop, and training ran once, before the
    plan was built."""
    plan = _executed(spark, "ann_pq")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the codebook trained before the plan was built: no init limit
    assert "TakeOrderedAndProject" not in plan and "GlobalLimit" not in plan


def test_ann_ivfpq_cogroup_over_checkpointed_state(spark):
    """IVF+PQ composition: cell pruning and ADC scoring ride the
    blocked cogroup kernel over trained state — no nested loop, both
    training chains ran once, before the plan was built."""
    plan = _executed(spark, "ann_ivfpq")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both chains trained before the plan was built: no init limit
    assert "TakeOrderedAndProject" not in plan and "GlobalLimit" not in plan


def _single_partition(node) -> bool:
    """An Exchange to one partition, or a Window with no partition
    spec: an operator that funnels all its rows through one task."""
    name = node.nodeName()
    if name == "Exchange":
        return node.outputPartitioning().toString() == "SinglePartition"
    return name == "Window" and node.partitionSpec().isEmpty()


_PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython")


def test_trained_search_kernel_counts(spark):
    """Trained-index serving plans hold serving kernels only. Training
    (_kmeans_parts, _pq_parts) finishes before the plan is built, so
    no partial-sum kernel, init limit or unpartitioned window is left
    in it; what remains is one narrow encode kernel per side (corpus:
    home cell and/or PQ codes; queries: probe cells and/or ADC tables)
    and the one cogroup that scores them."""
    for name in ("ann_ivf_trained", "ann_pq", "ann_ivfpq"):
        nodes = _plan_nodes(_plan(spark, name).executedPlan())
        names = [n.nodeName() for n in nodes]
        kernels = sorted(n for n in names if n in _PYTHON_NODES)
        assert kernels == ["FlatMapCoGroupsInPandas", "MapInPandas",
                           "MapInPandas"], (name, names)
        assert "TakeOrderedAndProject" not in names, (name, names)
        assert "GlobalLimit" not in names, (name, names)
        assert not [n for n in nodes if _single_partition(n)], (name, names)


def test_ann_ivfpq_job_count(spark):
    """IVF+PQ trains and serves in few, coarse jobs: one collect for
    both inits, one per Lloyd round (two k-means, one PQ), and the
    serving plan's shuffle stages. The r6 chain of blocked cogroups and
    eager checkpoints ran 38 jobs. Counted under a job group through
    statusTracker, as the benchmark's tracer counts them."""
    import uuid

    sc = spark.sparkContext
    group = f"ann_ivfpq_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ann_ivfpq job count")
    try:
        QUERIES["ann_ivfpq"]["fn"](spark, SF).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 20, len(jobs)


def test_cusum_staging_has_no_single_partition_operator(spark):
    """streaming_cusum_state cuts its chunk files at equal-width time
    ranges: the chunk plan has no unpartitioned Window and no Exchange
    to one partition (the global ntile staging had one of each), only
    the hash Exchange that gives every chunk one writer task."""
    from pyspark.sql import functions as F

    from sentinel2_crop_trait_timeseries_spark.operators.rollup import (
        _CENTS,
        _US,
    )
    from sentinel2_crop_trait_timeseries_spark.streaming.cusum_stream import (
        _time_chunks,
    )

    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", F.expr(_US).alias("ts_us"),
        F.expr(_CENTS).alias("cents"),
    )
    df = _time_chunks(e, 4)
    assert sorted(r["chunk"] for r in df.select("chunk").distinct().collect()
                  ) == [1, 2, 3, 4]
    df.collect()
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    names = [n.nodeName() for n in nodes]
    assert not [n for n in nodes if _single_partition(n)], names
    assert not [n for n in names if n.startswith("Window")], names
    exchanges = [n for n in nodes if n.nodeName() == "Exchange"]
    assert len(exchanges) == 1, names
    assert "chunk" in exchanges[0].outputPartitioning().toString()


def test_hamming_masks_pure():
    """Probe-mask generator: exact cover of the Hamming ball, no dupes
    (pure python — no Spark session)."""
    from sentinel2_crop_trait_timeseries_spark.operators.ann import hamming_masks

    m0 = hamming_masks(8, 0)
    assert m0 == [0]
    m1 = hamming_masks(8, 1)
    assert sorted(m1) == [0] + [1 << j for j in range(8)]
    m2 = hamming_masks(8, 2)
    assert len(m2) == 1 + 8 + 28 == len(set(m2))
    assert all(bin(m).count("1") <= 2 for m in m2)


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Co-located join via bucketed tables — THE 100 TB technique for
    repeated large-table joins on a stable key: both sides bucketed by
    the join key at write time join with zero Exchange (no shuffle);
    the bucket layout replaces the runtime hash partitioning."""
    import uuid
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet")
    spend = ev.groupBy("user_id").agg(F.sum("value").alias("spend"))
    views = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    suffix = uuid.uuid4().hex[:8]
    loc = str(tmp_path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df in (("b_spend", spend), ("b_views", views)):
            (df.write.mode("overwrite")
               .option("path", f"{loc}/{name}_{suffix}")
               .bucketBy(8, "user_id").sortBy("user_id")
               .saveAsTable(f"{name}_{suffix}"))
        j = spark.table(f"b_spend_{suffix}").join(
            spark.table(f"b_views_{suffix}"), "user_id"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout == join partitioning
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for name in ("b_spend", "b_views"):
            spark.sql(f"DROP TABLE IF EXISTS {name}_{suffix}")


def test_kernel_smooth_banded_equijoin(spark):
    """The kernel smoother's candidate search is a (user, time-bucket)
    hash equi-join (right side exploded to 3 adjacent buckets), never a
    range/cross join."""
    plan = _executed(spark, "kernel_smooth_events")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_ratio_is_narrow_map(spark):
    """The Gopher repetition filter must stay a narrow map: all
    shingle/distinct math happens in-row via higher-order functions —
    no Generate (explode) and no KEYED exchange anywhere in the plan.
    (r6: a round-robin _spread exchange is allowed — it only exists
    when the fixture scan arrives as a single split and disappears at
    production file counts.)"""
    plan = _executed(spark, "doc_repetition_ratio")
    assert "Exchange hashpartitioning" not in plan
    assert "Generate" not in plan


def test_decontaminate_probe_is_broadcast_single_exchange(spark):
    """Corpus-side shingle stream never shuffles for the eval probe:
    one BroadcastHashJoin (tiny eval side) + exactly one Exchange
    (the per-doc aggregation)."""
    plan = _executed(spark, "decontaminate_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # eval-side distinct agg exchanges are broadcast-side and tiny; the
    # corpus stream itself must reach its groupBy through ONE exchange
    assert plan.count("Exchange hashpartitioning(doc_id") == 1


def test_span_dedup_two_exchanges_no_join(spark):
    """Corpus-wide span occurrence counting is ONE window over the
    hash partitioning + the per-doc rollup — no self-join of the span
    stream, exactly two hash exchanges."""
    plan = _executed(spark, "dedup_span_exact")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_embedding_outlier_single_scan_broadcast_only(spark):
    """The distance frame is localCheckpoint-ed, so the plan reads the
    materialized distances: exactly ONE BroadcastHashJoin (dist x
    broadcast stats), no SortMergeJoin, and no re-derived corpus-join
    subtree per branch (the ann_ivf_trained recompute lesson)."""
    plan = _executed(spark, "embedding_outlier_zscore")
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


# ---------------------------------------------------------------------
# Round-5 ordered-timeseries batch: the scale-defining plan properties
# ---------------------------------------------------------------------

def test_asof_clicks_union_tag_single_exchange(spark):
    """The two-relation ASOF is the union-tag window plan: no join
    operator at all and exactly one keyed shuffle (plus whatever AQE
    adds for the pre-dedup agg on the reference stream)."""
    plan = _executed(spark, "asof_join_clicks")
    assert "Join" not in plan
    # one exchange for the reference dedup agg + one shared user-keyed
    # window shuffle; never more
    assert plan.count("Exchange") <= 2


def test_gaps_islands_single_user_shuffle(spark):
    """lag, boundary flag, running sum and the island aggregate all
    share the user partitioning — one exchange end to end."""
    plan = _executed(spark, "gaps_islands_user")
    assert plan.count("Exchange") <= 1


def test_twa_and_counter_rate_share_window_exchange(spark):
    for name in ("time_weighted_avg_daily", "counter_rate_daily"):
        plan = _executed(spark, name)
        assert plan.count("Exchange") <= 2, name
        assert "Join" not in plan, name


def test_fold_queries_are_single_shuffle_no_python(spark):
    """EWMA / CUSUM / funnel run as JVM array folds: one groupBy
    shuffle, no Python workers (no *InPandas / PythonUDF nodes), no
    joins."""
    for name in ("ewma_user_fold", "cusum_changepoint_user",
                 "funnel_steps_user"):
        plan = _executed(spark, name)
        assert plan.count("Exchange") <= 1, name
        assert "Python" not in plan and "InPandas" not in plan, name
        assert "Join" not in plan, name


def test_rolling_median_bounded_frame_single_shuffle(spark):
    plan = _executed(spark, "rolling_median_user")
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan


def test_lttb_no_cartesian_broadcast_state(spark):
    """Every per-round join broadcasts the 1-row-per-series state /
    bucket sums; the bucketed base never re-shuffles into a join."""
    plan = _executed(spark, "lttb_downsample")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_mixture_budget_broadcast_no_global_sort(spark):
    plan = _executed(spark, "mixture_token_budget")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # per-source window sort only — no global Sort outside partitioning
    assert "SortMergeJoin" not in plan


def test_pivot_explicit_values_two_tiny_exchanges(spark):
    """With the value list supplied, pivot compiles to the two-stage
    aggregate (per-(day,type) sum, then pivotfirst per day) with NO
    domain-discovery job; both exchanges carry already-reduced rows
    and both stages combine map-side."""
    plan = _executed(spark, "pivot_type_daily")
    assert plan.count("Exchange") == 2
    assert "partial_pivotfirst" in plan and "partial_sum" in plan


def test_bucket_gapfill_spine_is_broadcast(spark):
    """The day-bounds row reaches the spine via broadcast; LOCF
    windows run on the daily grain."""
    plan = _executed(spark, "bucket_gapfill_locf")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_scd2_shares_user_exchange(spark):
    plan = _executed(spark, "scd2_segment_intervals")
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan


def test_interval_overlap_no_bnlj(spark):
    """The range-predicate join runs as the day-cell grid equi-join
    (temporal twin of spatial_snap_nn), never a nested loop."""
    plan = _executed(spark, "interval_overlap_bursts")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_aqe_skew_join_engages(spark):
    """BASELINE.json's north_star names 'AQE skew-join handling' as part
    of the partitioning story; session.py enables it, but enabled is
    not engaged — this pins that a genuinely skewed join actually gets
    the skew split (skew=true on the SMJ in the FINAL adaptive plan).
    Thresholds are lowered because fixture-scale partitions never reach
    the production 256 MB default; the mechanism under test is the
    same. The join's own queryExecution must be executed (collect) —
    count() builds a different query and leaves this plan unfinalized."""
    from pyspark.sql import functions as F

    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        hot = spark.range(50_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        )
        cold = spark.range(10_000).select(
            (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(51).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        j = hot.unionByName(cold).join(right, "k")
        assert len(j.collect()) == 60_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in keep.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                # key was UNSET before; restoring by set("-1") would
                # leak AQE-broadcast-disabled into later tests
                spark.conf.unset(k)
