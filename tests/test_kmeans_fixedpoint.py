"""Fixed-point Lloyd k-means determinism (catalog_docs.py r4 redesign).

The driver-red flake of r3 was order-dependent float summation inside
the iterated Lloyd chain. The redesign snaps every value to the 1/512
power-of-two grid so each sum is EXACT in IEEE double — these tests
pin the exactness argument itself (order-independence of grid sums)
and the plan property that the chain executes once (before the plan).
"""

import numpy as np

from sentinel2_crop_trait_timeseries_spark.catalog import QUERIES

SF = "/root/testdata/sf0.001"


def _snap_np(v, q=512.0):
    return np.floor(v * q + 0.5) / q


def test_grid_sums_are_order_independent():
    """Sums of 1/512-grid values (and of grid-x-grid products) are
    exact in float64, hence bit-identical under any permutation —
    the property that makes the Lloyd chain engine-independent."""
    rng = np.random.default_rng(7)
    v = _snap_np(rng.uniform(-0.6, 0.6, size=20000))
    c = _snap_np(rng.uniform(-0.6, 0.6, size=20000))
    sums = set()
    cost_sums = set()
    for _ in range(20):
        p = rng.permutation(len(v))
        # naive sequential left-to-right fold, different order each time
        sums.add(float(np.add.reduce(v[p])))
        cost_sums.add(float(np.add.reduce(c[p] * c[p] - 2.0 * v[p] * c[p])))
    assert len(sums) == 1
    assert len(cost_sums) == 1
    # and the sums are exactly representable: scaled values are integers
    assert float(np.add.reduce(v)) * 512.0 == round(sum(v) * 512.0)


def test_snap_matches_sql_floor_convention():
    """_snap == floor(x*Q + 0.5)/Q with half-up ties, incl. negatives
    (identical formula on the DuckDB side)."""
    from sentinel2_crop_trait_timeseries_spark.catalog_docs import _KM_Q

    assert _KM_Q == 512.0
    xs = np.array([0.0, 1 / 1024.0, -1 / 1024.0, 0.4999, -0.4999, 0.25])
    got = _snap_np(xs, _KM_Q)
    assert got[0] == 0.0
    assert got[1] == 1 / 512.0  # 0.5 ties round up (floor(+0.5+0.5)=1)
    assert got[2] == 0.0  # -0.5 tie rounds toward +inf: floor(0.0)=0
    assert np.all(got * 512.0 == np.round(got * 512.0))  # all on-grid


def test_kmeans_chain_checkpointed_once(spark):
    """The Lloyd chain runs once, before any plan is built: the
    ivf_train_kmeans result is the driver-held codebook as one local
    relation, and no consumer plan re-derives any of the chain — its
    signature, the orderBy(vec_id).limit(K) init (TakeOrderedAndProject
    / GlobalLimit, or a Window over the init rows), is gone from every
    branch (r3 'recomputes the whole Lloyd chain' fix)."""
    plan = (
        QUERIES["ivf_train_kmeans"]["fn"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.startswith("LocalTableScan")
    assert "Window" not in plan  # init subtree gone — chain ran once

    plan2 = (
        QUERIES["ann_ivf_trained"]["fn"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # only the partitioned rk / topk windows remain
    assert "TakeOrderedAndProject" not in plan2
    assert "GlobalLimit" not in plan2
