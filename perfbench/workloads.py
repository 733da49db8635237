"""The benchmark's workloads. Each has a ``setup`` (inputs, warm-up,
expected outputs) and a ``job`` that is timed; every job checks its own
output, and a job that raises or fails its check counts as failed.

- ``fused_ingest``: sequences -> ``gapfill_tiers(knockout=0.1)`` -> parquet
  partitioned by tier. The headline ingest path: gap-fill kernel, the
  Python/JVM Arrow boundary and the parquet sink; no shuffle.
- ``catalog_serve``: a job is one pass over a fixed list of catalog
  queries, each built and run to the ``noop`` sink, in an order drawn
  from the seed. The read path: plan building, eager checkpoints,
  shuffles, Python kernels and streaming micro-batches.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from . import fixtures

# Slowest first: the warm-up pass hands them to its threads in this order
# (longest processing time first). The timed passes shuffle them.
CATALOG_QUERIES = (
    "ann_ivfpq", "streaming_cusum_state", "streaming_rollup_daily",
    "dedup_minhash_lsh", "gorilla_roundtrip", "rollup_hourly",
    "rollup_daily_cascade", "rollup_weekly_cascade", "gapfill_dose_response",
    "token_roundtrip", "retention_serving_union", "caggs_incremental_refresh",
    "ann_topk_bruteforce", "continuous_agg_daily", "time_travel_snapshot",
)
WARM_UP_THREADS = 5  # one of them runs the DuckDB oracles
FUSED_DOCS = 2000
# rows of the sf0.1 test tables (TESTDATA.md at the repository root)
CATALOG_EVENTS, CATALOG_DOCS, CATALOG_VECS = 100_000, 5_000, 2_000
KNOCKOUT = 0.1
TIERS = ("hourly", "daily", "weekly")
VALUE_COLUMNS = ["sum_value", "mean_value", "min_value", "max_value", "sumsq_value"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files


def reference_tiers(seq: pd.DataFrame) -> pd.DataFrame:
    """Tier rows by the unfused path: the dense hourly rows of
    ``gapfill_batch``, grouped per doc and hour, day and Monday-started
    week with pandas. It shares only the gap-fill core with the fused
    kernel, not its tier roll-up or its output assembly."""
    from sentinel2_crop_trait_timeseries_spark.operators.gapfill import (
        CHUNK_DOCS, gapfill_batch)

    dense = pd.concat([gapfill_batch(seq.iloc[lo:lo + CHUNK_DOCS], knockout=KNOCKOUT)
                       for lo in range(0, len(seq), CHUNK_DOCS)], ignore_index=True)
    doc, doc_ids = pd.factorize(dense["doc_id"].astype(str))
    rows = pd.DataFrame({"doc": doc, "value": dense["value"],
                         "sq": dense["value"] ** 2})
    day = dense["ts"].dt.floor("D")
    buckets = {"hourly": dense["ts"].dt.floor("h"), "daily": day,
               "weekly": day - pd.to_timedelta(day.dt.dayofweek, unit="D")}
    source = seq.assign(doc_id=seq["doc_id"].astype(str)).set_index("doc_id")["source"]
    parts = []
    for tier, bucket in buckets.items():
        agg = rows.assign(bucket_ts=bucket).groupby(["doc", "bucket_ts"], sort=False).agg(
            n=("value", "size"), sum_value=("value", "sum"),
            min_value=("value", "min"), max_value=("value", "max"),
            sumsq_value=("sq", "sum")).reset_index()
        ids = doc_ids[agg["doc"].to_numpy()]
        parts.append(agg.drop(columns="doc").assign(
            tier=tier, doc_id=ids, source=source.loc[ids].to_numpy(),
            mean_value=agg["sum_value"] / agg["n"]))
    return pd.concat(parts, ignore_index=True)


def codes(col: pd.Series, categories) -> np.ndarray:
    """Position of each value in ``categories``, -1 where it is missing."""
    if not isinstance(col.dtype, pd.CategoricalDtype):
        col = col.astype("category")
    return col.cat.set_categories(categories).cat.codes.to_numpy()


def tier_arrays(df: pd.DataFrame, keys: dict[str, pd.Index]) -> dict[str, np.ndarray]:
    """Tier rows as columns sorted by (tier, doc, bucket), with the tier,
    doc id and source coded by their position in ``keys``."""
    cols = {c: codes(df[c], keys[c]) for c in ("tier", "doc_id", "source")}
    cols["bucket"] = (pd.to_datetime(df["bucket_ts"], utc=True).dt.tz_localize(None)
                      .astype("datetime64[us]").to_numpy().view("int64"))
    cols.update({c: df[c].to_numpy() for c in ["n", *VALUE_COLUMNS]})
    order = np.lexsort((cols["bucket"], cols["doc_id"], cols["tier"]))
    return {c: v[order] for c, v in cols.items()}


def tier_mismatch(got: dict, want: dict) -> str | None:
    """None if the tier rows agree: keys and counts exactly, values up to
    floating-point summation order."""
    if len(got["n"]) != len(want["n"]):
        return f"{len(got['n'])} tier rows, expected {len(want['n'])}"
    for c in ("tier", "doc_id", "bucket", "source", "n"):
        bad = np.flatnonzero(got[c] != want[c])
        if len(bad):
            return f"{c} differs in {len(bad)} rows, first at sorted row {bad[0]}"
    for c in VALUE_COLUMNS:
        if not np.allclose(got[c], want[c], rtol=1e-9, atol=1e-9):
            return f"{c} differs beyond 1e-9"
    return None


def result_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``tools.check_contract.compare``, with an exact shortcut for results
    whose columns are all integers: it compares them as strings, which
    takes seconds on the millions of MinHash pairs."""
    from tools.check_contract import compare

    cols = sorted(got.columns)
    if (cols != sorted(want.columns) or len(got) != len(want)
            or not all(pd.api.types.is_integer_dtype(df[c])
                       for df in (got, want) for c in cols)):
        return compare(got, want)
    a, b = (np.stack([df[c].to_numpy(np.int64) for c in cols]) for df in (got, want))
    a, b = a[:, np.lexsort(a[::-1])], b[:, np.lexsort(b[::-1])]
    return None if np.array_equal(a, b) else "integer rows differ"


class FusedIngest:
    name = "fused_ingest"

    def __init__(self, spark, work: str, seed: int, scale: float) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.n_docs = max(int(FUSED_DOCS * scale), 10)
        self.seq_path = os.path.join(work, "sequences")
        self.partitions = 2 * spark.sparkContext.defaultParallelism
        self.keys: dict[str, pd.Index] = {}
        self.expected: dict | None = None
        self.n_jobs = 0

    def generate(self) -> None:
        from sentinel2_crop_trait_timeseries_spark.sources.gen import generate_sequences

        generate_sequences(self.spark, self.n_docs, seed=self.seed,
                           partitions=self.partitions
                           ).write.mode("overwrite").parquet(self.seq_path)

    def expect(self) -> None:
        """Tier rows of the same generator and seed by the unfused path,
        computed in this process without Spark."""
        from sentinel2_crop_trait_timeseries_spark.sources.gen import (
            generate_sequences_local)

        ref = reference_tiers(generate_sequences_local(self.n_docs, seed=self.seed))
        self.keys = {"tier": pd.Index(TIERS),
                     **{c: pd.Index(ref[c].unique()) for c in ("doc_id", "source")}}
        self.expected = tier_arrays(ref, self.keys)

    def run_tiers(self, out: str) -> None:
        from sentinel2_crop_trait_timeseries_spark.operators.gapfill import gapfill_tiers

        seq = self.spark.read.parquet(self.seq_path)
        gapfill_tiers(seq, knockout=KNOCKOUT).write.mode("overwrite"
                                                         ).partitionBy("tier").parquet(out)

    def setup(self) -> list[dict]:
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(self.expect)
            self.generate()
            expected.result()
        return self.warm_up()

    def warm_up(self) -> list[dict]:
        """Two checked jobs. The first starts the Python workers and runs
        cold; the second still runs about 25% slower than later ones, and
        timing it would make a run's median depend on its job count."""
        return [self.job() for _ in range(2)]

    def job(self) -> dict:
        """One ingest job into a fresh directory, checked, then removed."""
        self.n_jobs += 1
        out = os.path.join(self.work, f"tiers_{self.n_jobs}")
        rec = {"items": self.n_docs}
        try:
            t0 = time.perf_counter()
            self.run_tiers(out)
            rec["seconds"] = time.perf_counter() - t0
            rec["bytes"], rec["files"] = dir_stats(out)
            table = ds.dataset(out, format="parquet", partitioning="hive").to_table()
            got = tier_arrays(table.to_pandas(strings_to_categorical=True), self.keys)
            rec["points"] = len(got["n"])
            rec["error"] = tier_mismatch(got, self.expected)
        except Exception as e:  # a failed job is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"
        shutil.rmtree(out, ignore_errors=True)
        return rec


class CatalogServe:
    name = "catalog_serve"

    def __init__(self, spark, work: str, seed: int, scale: float) -> None:
        import __spark_entry__ as entry

        self.spark, self.seed = spark, seed
        self.data = os.path.join(work, "catalog")
        self.sizes = (max(int(CATALOG_EVENTS * scale), 100),
                      max(int(CATALOG_DOCS * scale), 50),
                      max(int(CATALOG_VECS * scale), 50))
        fns, sql = entry.queries(), entry.oracle_sql()
        self.fns = {q: fns[q] for q in CATALOG_QUERIES}
        self.oracle_sql = {q: sql[q] for q in CATALOG_QUERIES}
        self.oracles: dict[str, pd.DataFrame] = {}
        self.n_passes = 0

    def generate(self) -> None:
        fixtures.write_catalog_tables(self.data, self.seed, *self.sizes)

    def expect(self) -> dict[str, pd.DataFrame]:
        import duckdb

        con = duckdb.connect(config={"threads": 1})
        for t in fixtures.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        oracles = {q: con.execute(s).df() for q, s in self.oracle_sql.items()}
        con.close()
        return oracles

    def collect_checked(self, q: str, oracles) -> dict:
        """Run ``q`` once, collected to pandas, and compare its result with
        the query's oracle once ``oracles`` (a future) has them."""
        rec = {"query": q}
        try:
            t0 = time.perf_counter()
            got = self.fns[q](self.spark, self.data).toPandas()
            rec["seconds"] = time.perf_counter() - t0
            rec["error"] = result_mismatch(got, oracles.result()[q])
        except Exception as e:  # counted as a failed check
            rec["error"] = f"{type(e).__name__}: {e}"
        return rec

    def setup(self) -> list[dict]:
        self.generate()
        return self.warm_up()

    def warm_up(self) -> list[dict]:
        """DuckDB oracles, and one warm-up pass whose results are checked
        against them. The first pass runs 2-10x slower than later ones
        (JIT, Python workers), so it belongs to set-up. To keep set-up
        short it runs the queries on four threads, slowest first, while a
        fifth runs the oracles."""
        with ThreadPoolExecutor(WARM_UP_THREADS) as pool:
            oracles = pool.submit(self.expect)
            futures = [pool.submit(self.collect_checked, q, oracles)
                       for q in CATALOG_QUERIES]
            return [f.result() for f in futures]

    def run_query(self, q: str) -> None:
        noop(self.fns[q](self.spark, self.data))

    def job(self) -> dict:
        """One pass: every query once, in an order drawn from the seed,
        each built and run to ``noop``. A query that raises fails the pass."""
        qs = list(CATALOG_QUERIES)
        random.Random(self.seed * 1000 + self.n_passes).shuffle(qs)
        self.n_passes += 1
        rec = {"items": len(qs), "queries": {}, "errors": []}
        t0 = time.perf_counter()
        for q in qs:
            tq = time.perf_counter()
            try:
                self.run_query(q)
            except Exception as e:  # counted; the pass goes on
                rec["errors"].append(f"{q}: {type(e).__name__}: {e}")
            rec["queries"][q] = time.perf_counter() - tq
        rec["seconds"] = time.perf_counter() - t0
        rec["error"] = "; ".join(rec["errors"]) or None
        return rec


WORKLOADS = {w.name: w for w in (FusedIngest, CatalogServe)}
