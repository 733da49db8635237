"""Checkpoint manifest: per-partition lineage + metrics, resumable runs.

The reference tracks progress with ad-hoc artifacts — per-parcel
``pixel_count.txt``, ``failed_pixels.csv``, skip-if-output-exists
guards (/root/reference/src/baseline/01_run_baseline_model.py:343-357,
/root/reference/src/02_extract_s2_traits.py:93-96). The engine replaces
those with a parquet-backed manifest table:

    (run_id, tier, partition_key, status, rows_rolled, fit_rmse,
     compression_ratio, lineage)

Resume is a LEFT ANTI join: the todo set is every partition key minus
the keys the manifest already marks done — the distributed equivalent
of skip-if-exists, and it composes with any partitioning (the anti join
broadcasts the manifest when small).

Append-only parquet keeps commits atomic-enough for a sandbox; on a
real lakehouse this table is Delta/Iceberg so concurrent writers get
snapshot isolation.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("tier", T.StringType()),
        T.StructField("partition_key", T.StringType()),
        T.StructField("status", T.StringType()),  # done | failed
        T.StructField("rows_rolled", T.LongType()),
        T.StructField("fit_rmse", T.DoubleType()),
        T.StructField("compression_ratio", T.DoubleType()),
        T.StructField("lineage", T.StringType()),  # JSON blob
    ]
)


class CheckpointManifest:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.parquet(self.path)

    def commit(self, entries: DataFrame) -> None:
        """Append per-partition entries (must match MANIFEST_SCHEMA cols)."""
        entries.select([f.name for f in MANIFEST_SCHEMA.fields]).write.mode(
            "append"
        ).parquet(self.path)

    def commit_metrics(self, tier: str, metrics: DataFrame, key_col: str,
                       run_id: str | None = None, status_col: str | None = None,
                       lineage: dict | None = None) -> str:
        """Convenience: turn a per-key metrics frame into manifest rows.

        ``metrics`` needs ``key_col`` plus optional ``rows_rolled`` /
        ``fit_rmse`` / ``compression_ratio`` columns.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        cols = set(metrics.columns)
        entry = metrics.select(
            F.lit(run_id).alias("run_id"),
            F.lit(tier).alias("tier"),
            F.col(key_col).cast("string").alias("partition_key"),
            (
                F.col(status_col) if status_col else F.lit("done")
            ).alias("status"),
            (
                F.col("rows_rolled") if "rows_rolled" in cols else F.lit(None)
            ).cast("long").alias("rows_rolled"),
            (
                F.col("fit_rmse") if "fit_rmse" in cols else F.lit(None)
            ).cast("double").alias("fit_rmse"),
            (
                F.col("compression_ratio")
                if "compression_ratio" in cols
                else F.lit(None)
            ).cast("double").alias("compression_ratio"),
            F.lit(
                json.dumps({"tier": tier, "params": lineage or {}})
            ).alias("lineage"),
        )
        self.commit(entry)
        return run_id

    def done_keys(self, tier: str) -> DataFrame:
        """Distinct partition keys already completed for a tier."""
        return (
            self.read()
            .filter((F.col("tier") == tier) & (F.col("status") == "done"))
            .select("partition_key")
            .distinct()
        )

    def todo(self, all_keys: DataFrame, tier: str, key_col: str) -> DataFrame:
        """Resume set: all_keys MINUS done keys (left anti join).

        ``all_keys`` must contain ``key_col``; comparison is on the
        string form, matching how keys were committed.
        """
        done = self.done_keys(tier)
        return all_keys.join(
            F.broadcast(done),
            all_keys[key_col].cast("string") == done["partition_key"],
            "left_anti",
        )

    def summary(self) -> DataFrame:
        """Per-tier progress: done/failed counts + metric aggregates
        (the engine's pixel_count.txt equivalent)."""
        return (
            self.read()
            .groupBy("tier", "status")
            .agg(
                F.count("*").alias("n_partitions"),
                F.sum("rows_rolled").alias("rows_rolled"),
                F.avg("fit_rmse").alias("mean_fit_rmse"),
                F.avg("compression_ratio").alias("mean_compression_ratio"),
            )
        )
