#!/usr/bin/env python
"""spark-submit entry point: the full retention pipeline, resumable.

    spark-submit --py-files s2tt_spark.zip tools/run_pipeline.py \
        --input /path/sequences --output /path/tiers \
        --manifest /path/manifest [--docs N] [--curve asymptotic] \
        [--knockout 0.1]

Stages (all per-source partitions, committed to the checkpoint manifest
so a killed run resumes where it stopped). Tiers, fits and segments are
partitioned by source and written with dynamic partition overwrite, so
a resumed run replaces only the todo sources' output:

  1. resume set      = distinct sources LEFT ANTI done manifest keys
  2. fused rollup    = gapfill_tiers over the todo sources (narrow, no
                       shuffle), written partitionBy(tier, source)
  3. curve fit       = per-doc batched-LM sigmoid params + fit_rmse,
                       written partitionBy(source)
  4. compression     = Gorilla segments per (source, doc_id), written
                       partitionBy(source)
  5. manifest commit = rows_rolled / fit_rmse / compression_ratio per source

When --input does not exist and --docs is given, the deterministic
synthetic sequences table is generated first (sandbox mode; on a real
cluster the input is the Iceberg sequences table).
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.session import get_spark
from sentinel2_crop_trait_timeseries_spark.sources.gen import generate_sequences
from sentinel2_crop_trait_timeseries_spark.operators.gapfill import gapfill_tiers
from sentinel2_crop_trait_timeseries_spark.operators.fit import fit_sigmoid
from sentinel2_crop_trait_timeseries_spark.operators.decode import decode_observations_arrow
from sentinel2_crop_trait_timeseries_spark.operators.compress import compress_segments
from sentinel2_crop_trait_timeseries_spark.operators.manifest import CheckpointManifest


def _write(writer, path: str) -> None:
    """Overwrite only the source partitions present in this run."""
    writer.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/tmp/s2tt_pipeline/sequences")
    ap.add_argument("--output", default="/tmp/s2tt_pipeline/tiers")
    ap.add_argument("--fits", default="/tmp/s2tt_pipeline/fits")
    ap.add_argument("--segments", default="/tmp/s2tt_pipeline/segments")
    ap.add_argument("--manifest", default="/tmp/s2tt_pipeline/manifest")
    ap.add_argument("--docs", type=int, default=0,
                    help="generate N synthetic docs if input is missing")
    ap.add_argument("--curve", default="asymptotic")
    ap.add_argument("--knockout", type=float, default=0.1)
    args = ap.parse_args()

    spark = get_spark("s2tt_pipeline")
    run_id = uuid.uuid4().hex[:12]

    if not os.path.exists(args.input):
        if not args.docs:
            raise SystemExit(f"--input {args.input} missing and --docs not given")
        generate_sequences(spark, args.docs).write.mode("overwrite").parquet(
            args.input
        )

    seq = spark.read.parquet(args.input)
    man = CheckpointManifest(spark, args.manifest)

    all_sources = seq.select("source").distinct()
    todo = man.todo(all_sources, tier="all", key_col="source")
    n_todo, n_all = todo.count(), all_sources.count()
    print(f"[pipeline] run={run_id} sources todo={n_todo}/{n_all}")
    if n_todo == 0:
        print("[pipeline] nothing to do; manifest complete")
        man.summary().show(truncate=False)
        spark.stop()
        return

    work = seq.join(F.broadcast(todo), "source", "left_semi")

    # fused narrow pass: gap-fill + 3 retention tiers, no shuffle
    tiers = gapfill_tiers(work, curve=args.curve, knockout=args.knockout)
    _write(tiers.write.partitionBy("tier", "source"), args.output)
    tiers_stored = spark.read.parquet(args.output)
    rows_per_src = (
        tiers_stored.groupBy("source").agg(F.sum("n").alias("rows_rolled"))
    )

    # per-doc NLS fit metrics (batched LM; failures ledgered not raised)
    fits = fit_sigmoid(work)
    _write(fits.write.partitionBy("source"), args.fits)
    fits_stored = spark.read.parquet(args.fits)
    rmse_per_src = fits_stored.filter("status = 'done'").groupBy("source").agg(
        F.avg("fit_rmse").alias("fit_rmse")
    )

    # Gorilla-compressed observation segments
    seg = compress_segments(decode_observations_arrow(work))
    _write(seg.write.partitionBy("source"), args.segments)
    comp_per_src = (
        spark.read.parquet(args.segments)
        .groupBy("source")
        .agg((F.sum("raw_bytes") / F.sum("enc_bytes")).alias("compression_ratio"))
    )

    # the stored tables also hold earlier runs' sources; commit only todo
    metrics = (
        rows_per_src.join(todo, "source", "left_semi")
        .join(rmse_per_src, "source", "left")
        .join(comp_per_src, "source", "left")
    )
    man.commit_metrics("all", metrics, key_col="source", run_id=run_id,
                       lineage={"curve": args.curve, "knockout": args.knockout})
    print(f"[pipeline] committed {metrics.count()} partitions to manifest")
    man.summary().show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
