"""Approximate-nearest-neighbor indexes over embedding columns.

Three scale paths over ``(vec_id, embedding array<float>)`` corpora, all
built so the CORPUS side never shuffles — only the (small) query side
is replicated and broadcast, and candidates meet through plain hash
equi-joins (never BroadcastNestedLoop / cartesian):

- ``brute_force_topk``: exact baseline; broadcast queries, map-side
  scoring, per-query top-k window.
- ``sign_projection_topk``: sign-random-projection buckets (Charikar
  2002) with Hamming-radius multi-probe (Lv et al., VLDB'07).
- ``ivf_topk``: inverted-file index — argmin assignment against a
  broadcast codebook, queries probe their ``nprobe`` nearest cells.

Determinism discipline (shared with the catalog contract): ranking
keys are ``round(cos, 4)`` with id tie-breaks; cell argmins use
rounded costs with centroid-id tie-breaks; plane/centroid entries are
small exact-in-double values so both Spark and any SQL oracle agree on
every sign bit and cell id.

The catalog queries (``ann_topk_bruteforce``, ``ann_multiprobe``,
``ann_ivf`` in catalog_docs.py) are thin instantiations of these
builders with seeded planes/codebooks; ``ann_recall`` measures recall
of each approximate index against the exact baseline.
"""

from __future__ import annotations

from itertools import combinations
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b) -> F.Column:
    """Sequential-fold dot product over two array columns (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _cosine() -> F.Column:
    return F.round(
        F.lit(1e-9)
        + dot(F.col("qe"), F.col("ec")) / (norm(F.col("qe")) * norm(F.col("ec"))),
        4,
    )


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cand.select("query_id", "neighbor_id", _cosine().alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _cell_topk_fn(k: int):
    """Per-cell scorer for grouped_cell_topk: dense numpy scoring with a
    LEFT-FOLD accumulation over dimensions, so every dot product / norm
    is the bit-identical IEEE-double sequence the JVM
    ``aggregate(zip_with(...))`` fold computes (acc = acc + x_j*y_j in
    index order from 0.0) — numpy GEMM's blocked summation order would
    differ in the last ulp and could flip a round(...,4) boundary.
    np.round(1e-9 + ..., 4) follows the dedup_embedding_cosine
    convention (oracle-verified there since r2)."""
    import numpy as np
    import pandas as pd

    def cell_topk(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "query_id": pd.Series([], dtype="int64"),
            "neighbor_id": pd.Series([], dtype="int64"),
            "cos": pd.Series([], dtype="float64"),
        })
        if len(cpdf) == 0 or len(qpdf) == 0:
            return empty
        C = np.stack(cpdf["ec"].to_numpy()).astype(np.float64)
        Q = np.stack(qpdf["qe"].to_numpy()).astype(np.float64)
        cid = cpdf["neighbor_id"].to_numpy().astype(np.int64)
        qid = qpdf["query_id"].to_numpy().astype(np.int64)
        nc, nq = len(cid), len(qid)
        dotm = np.zeros((nc, nq))
        cn = np.zeros(nc)
        qn = np.zeros(nq)
        for j in range(C.shape[1]):  # fold order = JVM fold order
            cj, qj = C[:, j], Q[:, j]
            dotm += cj[:, None] * qj[None, :]
            cn += cj * cj
            qn += qj * qj
        denom = np.sqrt(qn)[None, :] * np.sqrt(cn)[:, None]
        cos = np.round(1e-9 + dotm / denom, 4)
        self_mask = cid[:, None] == qid[None, :]
        cos_sel = np.where(self_mask, -np.inf, cos)
        out_q, out_n, out_c = [], [], []
        kk = min(k, nc)
        for jq in range(nq):
            col = cos_sel[:, jq]
            order = np.lexsort((cid, -col))[:kk]
            order = order[np.isfinite(col[order])]
            out_q.append(np.full(len(order), qid[jq], dtype=np.int64))
            out_n.append(cid[order])
            out_c.append(cos[order, jq])
        return pd.DataFrame({
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            "cos": np.concatenate(out_c),
        })

    return cell_topk


def grouped_cell_topk(corpus_cells: DataFrame, query_cells: DataFrame,
                      k: int) -> DataFrame:
    """Per-query exact-cosine top-k over cell-keyed candidates.

    ``corpus_cells`` is (neighbor_id, ec, cell) with each corpus row in
    exactly one cell; ``query_cells`` is (query_id, qe, cell) with one
    row per probed cell, cells distinct per query. Candidates therefore
    meet exactly once, inside their cell's cogroup, where a dense numpy
    kernel scores them and keeps the cell-local top-k (any global top-k
    candidate is in its cell's top-k); the global window then ranks the
    k-per-cell survivors. Replaces the r2-r5 shape (broadcast join +
    per-candidate interpreted fold-expression cosine + a window over
    EVERY candidate row): one keyed corpus shuffle + the tiny survivor
    window instead of a candidate-volume window, and scoring runs
    vectorized instead of per-element lambda interpretation (guide
    §4.2). Scores are bit-identical to the fold expressions (see
    _cell_topk_fn)."""
    cand = (
        corpus_cells.groupBy("cell")
        .cogroup(query_cells.groupBy("cell"))
        .applyInPandas(_cell_topk_fn(k),
                       "query_id bigint, neighbor_id bigint, cos double")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


# corpus hash blocks of the brute-force pair cover
_BF_BLOCKS = 64


def brute_force_topk(corpus: DataFrame, queries: DataFrame,
                     k: int = 3) -> DataFrame:
    """Exact cosine top-k baseline over all (query, corpus) pairs.

    The pair space is covered by hash-blocking the corpus into
    ``_BF_BLOCKS`` cells and replicating the (small) query set to every
    cell — the dedup_embedding_cosine block discipline: candidates meet
    through the cogroup's hash partitioning, each cell runs one dense
    numpy scoring kernel with a cell-local top-k, and the global window
    ranks k-per-cell survivors. The r2-r5 form (broadcast
    nested-loop + interpreted fold cosine + a window over every
    candidate row) was quadratic in interpreted-expression evaluations:
    130 s at sf1.0 vs ~2 s for this plan on identical output."""
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ec"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(_BF_BLOCKS)).cast("int")
        .alias("cell"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.explode(F.sequence(F.lit(0), F.lit(_BF_BLOCKS - 1))).alias("cell"),
    )
    return grouped_cell_topk(c, q, k)


def sign_projection_bucket(vec_col, planes: np.ndarray) -> F.Column:
    """Bucket id: bit j set iff dot(vec, planes[j]) > 0."""
    bucket = None
    for j, row in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in row])
        term = F.when(dot(vec_col, plane) > 0, F.lit(1 << j)).otherwise(0)
        bucket = term if bucket is None else bucket + term
    return bucket


def hamming_masks(n_bits: int, radius: int) -> list[int]:
    """All XOR masks within the given Hamming radius (incl. 0)."""
    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_bits), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def sign_projection_topk(corpus: DataFrame, queries: DataFrame,
                         planes: np.ndarray, k: int = 3,
                         radius: int = 1) -> DataFrame:
    """Multi-probe sign-LSH ANN: bucket the corpus once (JVM fold —
    sign bits unchanged), explode each query over every bucket within
    ``radius`` bit flips, then score candidates inside the per-bucket
    cogroup (grouped_cell_topk): buckets are disjoint per corpus row
    and distinct per query, so every candidate meets exactly once."""
    bucket = sign_projection_bucket(F.col("embedding"), planes)
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("ec"),
                      bucket.alias("cell"))
    masks = hamming_masks(len(planes), radius)
    q = (
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qe"), bucket.alias("bucket"))
        .select("query_id", "qe", "bucket",
                F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"))
        .select("query_id", "qe",
                F.col("bucket").bitwiseXOR(F.col("mask")).alias("cell"))
    )
    return grouped_cell_topk(c, q, k)


def ivf_cells(vec_col, centroids: np.ndarray) -> F.Column:
    """Sorted array of (rounded quantization cost, centroid id) —
    element 1 is the vector's cell, elements 1..nprobe the probe set.
    Cost is |c|^2 - 2 v.c (the |v|^2 term is constant per row)."""
    items = []
    for j, row in enumerate(centroids):
        c2 = float((row * row).sum())
        cen = F.array(*[F.lit(float(v)) for v in row])
        d = F.round(F.lit(1e-9) + F.lit(c2) - 2.0 * dot(vec_col, cen), 4)
        items.append(F.struct(d.alias("d"), F.lit(j).alias("c")))
    return F.array_sort(F.array(*items))


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: np.ndarray,
             k: int = 3, nprobe: int = 2) -> DataFrame:
    """IVF ANN: corpus rows live in their argmin-cost cell (JVM
    expression — cell ids unchanged); queries probe their ``nprobe``
    nearest cells; candidates are scored inside the per-cell cogroup
    (grouped_cell_topk) — one corpus row per cell, distinct probe cells
    per query, so every candidate meets exactly once."""
    cells = ivf_cells(F.col("embedding"), centroids)
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("ec"),
                      F.element_at(cells, 1)["c"].alias("cell"))
    probes = F.array(*[F.element_at(cells, i + 1)["c"] for i in range(nprobe)])
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qe"),
                       F.explode(probes).alias("cell"))
    return grouped_cell_topk(c, q, k)
