"""Fused shuffle-free gapfill_tiers == cascade(gapfill(...)), is
invariant under repartitioning, and equals the pandas surfaces."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import _parse_datatype_string

from sentinel2_crop_trait_timeseries_spark.operators.gapfill import (
    DENSE_SCHEMA,
    TIER_SCHEMA,
    gapfill,
    gapfill_batch,
    gapfill_tiers,
    gapfill_tiers_batch,
)
from sentinel2_crop_trait_timeseries_spark.operators.rollup import cascade
from sentinel2_crop_trait_timeseries_spark.sources.gen import generate_sequences

KEYS = ["tier", "source", "doc_id", "bucket_ts"]
VALS = ["n", "sum_value", "mean_value", "min_value", "max_value", "sumsq_value"]


@pytest.fixture(scope="module")
def seq(spark):
    return generate_sequences(spark, 80, partitions=5).cache()


def _canon(df):
    pdf = df.select(*KEYS, *VALS).toPandas()
    return pdf.sort_values(KEYS, kind="mergesort").reset_index(drop=True)


def _assert_equal(a, b, atol):
    assert a.shape == b.shape
    for k in KEYS:
        assert (a[k].astype(str) == b[k].astype(str)).all(), k
    assert (a["n"] == b["n"]).all()
    for v in VALS[1:]:
        # aggregation order differs (numpy reduceat vs Spark partials):
        # equality is up to fp associativity, not bit-exact
        np.testing.assert_allclose(a[v], b[v], rtol=0, atol=atol, err_msg=v)


def test_fused_equals_cascade(spark, seq):
    fused = _canon(gapfill_tiers(seq, knockout=0.1))
    tiers = cascade(gapfill(seq, knockout=0.1).drop("is_obs"))
    ref = _canon(
        tiers["hourly"].unionByName(tiers["daily"]).unionByName(tiers["weekly"])
    )
    _assert_equal(fused, ref, atol=1e-9)


def test_fused_partition_invariance(spark, seq):
    a = _canon(gapfill_tiers(seq.repartition(1), knockout=0.1))
    b = _canon(gapfill_tiers(seq.repartition(7), knockout=0.1))
    # identical batch math per doc -> bit-exact across partitionings
    _assert_equal(a, b, atol=0)


def test_fused_plan_is_shuffle_free(spark, seq):
    plan = gapfill_tiers(seq)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _same_rows(got, want):
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(b.dtype, np.datetime64):
            a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
        assert np.array_equal(a, b), c


def test_array_path_matches_pandas_surfaces_on_edge_docs(spark):
    """One Arrow batch of awkward docs through the per-doc list path and
    the JVM-side inline: Spark rows equal the pandas surfaces exactly and
    in order, mean_value included (the JVM's sum / n and numpy's s / n
    are the same IEEE division)."""
    rows = [
        ("s", "dup", [100, 1000, 30, 1500, 40, 1200], 6),  # duplicated
        ("s", "dup", [200, 3000, 70, 2500], 4),             # doc_id
        ("s", "one", [100, 5000], 2),                       # single obs
        ("s", "none", [], 0),                               # no obs at all
        ("s", "dup_ts", [100, 1000, 0, 2000], 4),           # zero gap
        ("t", "many", [5, 800, 90, 1100, 200, 1900, 300, 1700], 8),
    ]
    pdf = pd.DataFrame({
        "source": [r[0] for r in rows],
        "doc_id": [r[1] for r in rows],
        "tokens": [np.array(r[2], dtype=np.int32) for r in rows],
        "n_tok": [r[3] for r in rows],
    })
    seq = spark.createDataFrame(pdf).coalesce(1)
    tiers = gapfill_tiers(seq)
    dense = gapfill(seq)
    assert tiers.schema == _parse_datatype_string(TIER_SCHEMA)
    assert dense.schema == _parse_datatype_string(DENSE_SCHEMA)
    _same_rows(tiers.toPandas(), gapfill_tiers_batch(pdf))
    _same_rows(dense.toPandas(), gapfill_batch(pdf))
