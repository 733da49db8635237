"""The traced run: one span around each call into a layer's public
function, each run to the ``noop`` sink (or its own sink), and the
per-layer metrics read from those spans.

Layers are named after the package's modules: ``sources.gen``,
``sources.table_io`` (scan), ``operators.decode``, ``operators.gapfill``,
the parquet sink, ``operators.rollup``, ``operators.compress`` and the
``catalog`` queries.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from .workloads import CATALOG_QUERIES, KNOCKOUT, dir_stats, noop

ROLLUP_TIERS = ("hourly", "daily", "weekly")


def engine_profile(spark, tracer, fused, work: str) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the ingest path on the stored sequences of
    ``fused`` (a FusedIngest), and the output checks of the decode, rollup
    and compress layers."""
    from sentinel2_crop_trait_timeseries_spark.operators.compress import (
        compress_segments, decompress_segments)
    from sentinel2_crop_trait_timeseries_spark.operators.decode import (
        decode_observations_arrow, roundtrip_mismatches)
    from sentinel2_crop_trait_timeseries_spark.operators.gapfill import (
        gapfill, gapfill_tiers)
    from sentinel2_crop_trait_timeseries_spark.operators.rollup import cascade
    from sentinel2_crop_trait_timeseries_spark.sources.table_io import read_table

    m: dict = {}
    with tracer.span("engine"):
        with tracer.span("scan") as scan:
            noop(read_table(spark, fused.seq_path))
        m["scan.s"] = scan["seconds"]
        m["scan.bytes"] = scan["sql"]["scan_bytes"]
        seq = read_table(spark, fused.seq_path)

        with tracer.span("decode") as dec:
            noop(decode_observations_arrow(seq))
        m["decode.s"] = dec["seconds"] - scan["seconds"]
        m["decode.rows_out"] = dec["sql"]["pythonNumRowsReceived"]
        m["decode.arrow_bytes"] = dec["sql"]["pythonDataReceived"]

        with tracer.span("gapfill.dense") as dense:
            noop(gapfill(seq, knockout=KNOCKOUT))
        with tracer.span("gapfill.tiers") as tiers:
            noop(gapfill_tiers(seq, knockout=KNOCKOUT))
        m["gapfill.dense_s"] = dense["seconds"]
        m["gapfill.tiers_s"] = tiers["seconds"]
        m["gapfill.python_total_s"] = tiers["sql"]["pythonTotalTime"] / 1e3
        m["gapfill.python_init_s"] = tiers["sql"]["pythonInitTime"] / 1e3
        m["gapfill.arrow_bytes_to_jvm"] = tiers["sql"]["pythonDataReceived"]
        m["gapfill.rows_out"] = tiers["sql"]["pythonNumRowsReceived"]

        out = os.path.join(work, "profile_tiers")
        with tracer.span("sink") as sink:
            fused.run_tiers(out)
        m["sink.s"] = sink["seconds"] - tiers["seconds"]
        m["sink.bytes_written"], m["sink.files_written"] = dir_stats(out)

        obs = decode_observations_arrow(seq)
        mat = os.path.join(work, "profile_cascade")
        with tracer.span("rollup") as roll:
            cascade(obs, materialize_dir=mat, spark=spark)
        writes = [e["seconds"] for e in roll["executions"] if e["shuffle_bytes_written"]]
        if len(writes) != len(ROLLUP_TIERS):
            raise RuntimeError(f"cascade ran {len(writes)} shuffling writes, "
                               f"expected {len(ROLLUP_TIERS)}")
        points = {t: ds.dataset(f"{mat}/{t}", format="parquet").to_table(columns=["n"])
                  for t in ROLLUP_TIERS}
        for t, secs in zip(ROLLUP_TIERS, writes):
            m[f"rollup.{t}_s"] = secs
            m[f"rollup.points.{t}"] = points[t].num_rows
        m["rollup.shuffle_write_bytes"] = roll["sql"]["shuffle_bytes_written"]
        m["rollup.spill_bytes"] = roll["sql"]["spill_bytes"]

        with tracer.span("compress") as comp:
            agg = compress_segments(obs).agg(
                F.count("*").alias("segments"), F.sum("raw_bytes").alias("raw"),
                F.sum("enc_bytes").alias("enc")).collect()[0]
        m["compress.encode_s"] = comp["seconds"]
        m["compress.shuffle_bytes"] = comp["sql"]["shuffle_bytes_written"]
        m["compress.segments"] = agg["segments"]
        m["compress.ratio"] = agg["raw"] / agg["enc"]

    checks = []
    bad = roundtrip_mismatches(seq).collect()[0]["n_mismatch"]
    checks.append({"check": "decode.roundtrip_mismatches",
                   "error": None if bad == 0 else f"{bad} docs mismatch"})
    sample = obs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0)
    back = decompress_segments(compress_segments(sample)).select(*sample.columns)
    diff = back.exceptAll(sample).count() + sample.exceptAll(back).count()
    checks.append({"check": "compress.decompress_roundtrip",
                   "error": None if diff == 0 else f"{diff} points differ"})
    sums = {t: int(points[t].column("n").to_numpy().sum()) for t in ROLLUP_TIERS}
    want = m["decode.rows_out"]
    checks.append({"check": "rollup.sum_n",
                   "error": None if set(sums.values()) == {want}
                   else f"sum(n) per tier {sums}, observations {want}"})
    return m, checks


def catalog_profile(tracer, serve) -> dict:
    """Per-query metrics from one traced pass over the catalog queries."""
    m: dict = {}
    with tracer.span("catalog"):
        for q in CATALOG_QUERIES:
            with tracer.span(f"catalog.{q}") as rec:
                serve.run_query(q)
            m[f"catalog.{q}.s"] = rec["seconds"]
            m[f"catalog.{q}.jobs"] = rec["jobs"]
            m[f"catalog.{q}.stages"] = rec["stages"]
            m[f"catalog.{q}.tasks"] = rec["tasks"]
            m[f"catalog.{q}.shuffle_bytes"] = rec["sql"]["shuffle_bytes_written"]
            m[f"catalog.{q}.python_s"] = rec["sql"]["pythonTotalTime"] / 1e3
            m[f"catalog.{q}.single_partition_ops"] = rec["sql"]["single_partition_ops"]
    return m
