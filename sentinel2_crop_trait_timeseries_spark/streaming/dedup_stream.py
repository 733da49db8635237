"""Streaming incremental near-duplicate detection: newly arriving
documents probe a STATIC MinHash-LSH signature index of the existing
corpus — the production shape of continuous dedup in a training-data
ingestion pipeline (every new crawl shard is checked against the
already-accepted corpus before admission; the corpus index itself is
rebuilt offline at a slower cadence).

Spark shape: the corpus band index is computed once per run and
localCheckpoint-ed (it plays the role an Iceberg signature table would
at scale); arrivals stream in via a file source, and ``foreachBatch``
computes each microbatch's band signatures and equi-joins them against
the index on (band, sig) — the same no-all-pairs LSH candidate plan as
the batch `dedup_minhash_lsh` (catalog_docs.py), restricted to
new-vs-corpus pairs. Candidates append to a parquet sink, so repeated
triggers accumulate exactly the pairs batch dedup would emit for the
same arrival set. The sink is one scratch directory per call; the
returned frame reads it lazily, so it stays until the process exits
(see streaming/__init__.py). Reference analog: the reference's pipeline
re-processes per-parcel scenes incrementally against previously fitted
state (src/processing/process_parcels.py resume logic); this is that
concept for the dedup graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.streaming import (
    file_stream,
    run_available,
    scratch_dir,
)


def run_dedup_stream_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the arrival slice (doc_id % 10 == 0) of the documents
    table against the band index of the rest (doc_id % 10 != 0);
    returns (doc_new, doc_idx, n_shared_bands) candidate pairs.

    availableNow trigger + append parquet sink: the run drains the
    source to completion into a fresh scratch directory per call,
    which the returned frame reads lazily and which therefore stays
    until the process exits; at scale the sink is an Iceberg table
    MERGEd on (doc_new, doc_idx, batch).

    r6 scale fix: the emitted pair set is inherently quadratic in
    duplicate-class size (78M rows at sf1.0), but docs with an
    identical (sig0, sig1) band profile are interchangeable in it —
    n_shared_bands is a CLASS-pair property (the _minhash_lsh_pairs
    profile-class argument). The microbatch therefore joins and
    aggregates at class granularity (~51k band rows at sf1.0, vs 104M
    doc-level rows) and the sink stores class pairs + the batch's
    arrival membership; the returned frame fans back out to per-doc
    pairs through two narrow joins at read time. Row-identical output,
    ~1000x less sink volume: 103 s -> ~11 s at sf1.0."""
    from sentinel2_crop_trait_timeseries_spark.catalog_docs import (
        _minhash_profiles,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # corpus index at CLASS granularity: one profile pass, classes
    # keyed by min member doc_id; the doc->class map re-expands pairs
    idx_prof = (
        _minhash_profiles(d.filter(F.col("doc_id") % 10 != 0))
        .localCheckpoint(eager=True)
    )
    idx_cls = idx_prof.groupBy("sig0", "sig1").agg(
        F.min("doc_id").alias("cls")
    )
    idx_map = (
        idx_prof.join(idx_cls, ["sig0", "sig1"])
        .select(F.col("doc_id").alias("doc_idx"), "cls")
        .localCheckpoint(eager=True)
    )
    # a class's two LSH bands, one (band, sig) row each
    bands = F.inline(
        F.array(
            F.struct(F.lit(0).alias("band"), F.col("sig0").alias("sig")),
            F.struct(F.lit(1).alias("band"), F.col("sig1").alias("sig")),
        )
    )
    idx_bands = idx_cls.select("cls", bands).localCheckpoint(eager=True)

    out_path = scratch_dir("s2tt_stream_dedup_")
    pairs_path = f"{out_path}/class_pairs"
    members_path = f"{out_path}/arrival_members"
    stream = file_stream(spark, sf_dir, "documents.parquet").filter(
        F.col("doc_id") % 10 == 0
    )

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        # broadcast the ARRIVAL CLASSES (a microbatch is small); the
        # corpus index — arbitrarily large at scale — never moves
        aprof = _minhash_profiles(batch_df).localCheckpoint(eager=True)
        abands = aprof.select("sig0", "sig1").distinct().select(
            "sig0", "sig1", bands
        )
        cpairs = (
            idx_bands.join(F.broadcast(abands), ["band", "sig"])
            .groupBy("sig0", "sig1", "cls")
            .agg(F.count("*").alias("n_shared_bands"))
            .withColumn("batch", F.lit(batch_id))
        )
        cpairs.write.mode("append").parquet(pairs_path)
        aprof.withColumn("batch", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(members_path)

    run_available(stream.writeStream.foreachBatch(probe))
    # fan the class pairs back out to per-doc pairs: every arrival doc
    # of a class pairs with every member of the matched index class
    cpairs = spark.read.parquet(pairs_path)
    members = spark.read.parquet(members_path).select(
        F.col("doc_id").alias("doc_new"), "sig0", "sig1", "batch"
    )
    return (
        members.join(cpairs, ["sig0", "sig1", "batch"])
        .join(F.broadcast(idx_map), "cls")
        .select("doc_new", "doc_idx", "n_shared_bands")
    )
