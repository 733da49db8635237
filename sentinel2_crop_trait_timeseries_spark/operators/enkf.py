"""Ensemble Kalman assimilation of observation series, batch-vectorized.

Mirrors the reference's per-pixel EnKF
(/root/reference/src/ensemble_kalman_filter.py): an ensemble of n_sim
states is propagated between observations by the cumulative
dose-response (the growth "clock"), and at each observation the
ensemble is nudged toward the (noise-perturbed) measurement with the
Kalman gain computed from ensemble spread — the scalar-state EnKF:

    forecast:  A_f = A_a(prev) + cum_response(segment) + process noise
    gain:      K   = P_f / (P_f + R),  P_f = var(ensemble)
    analysis:  A_a = A_f + K * (y_perturbed - A_f)

Two engine-critical differences from the reference:

1. **Vectorized across docs**: the reference runs one pixel at a time
   (:207-264); here the ensemble matrix is (n_docs, n_sim) and the only
   Python loop is over the <=17 observation indices. One Arrow batch of
   10k docs is ~17 numpy kernels, not 10k EnKF runs.
2. **Per-doc deterministic RNG**: the reference draws perturbations from
   one global seeded stream (:36-37 in the caller), so results depend on
   pixel iteration order. Here every doc's noise stream is seeded by
   splitmix64(doc_id-hash, obs-index) — identical output under ANY
   partitioning (tested).

Output per observation: assimilated ensemble mean/std at the obs time —
the reference reads out exactly these (:456-469 in
04_reconstruct_s2_traits.py) before its diff>=0 filter + interpolation.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.response import PARAMS
from ..sources.gen import EPOCH_UNIX, splitmix64
from .gapfill import (
    HOUR,
    HOURS_PER_PERIOD,
    VALUE_SCALE,
    _dense_batches,
    _dense_rows,
    _doc_key_hash,
    _response_lut,
    _tier_batches,
    _tier_rows,
    decode_batch,
)

ENKF_SCHEMA = (
    "source string, doc_id string, ts timestamp, value double, "
    "assim_mean double, assim_std double, pos int"
)


def _gauss_from_u64(u: np.ndarray) -> np.ndarray:
    """Deterministic standard normals from uint64 via Box-Muller on two
    splitmix64 substreams (no global RNG state)."""
    a = (splitmix64(u) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    b = (splitmix64(u ^ np.uint64(0xDEADBEEFCAFEF00D)) >> np.uint64(11)).astype(
        np.float64
    ) / float(1 << 53)
    a = np.clip(a, 1e-12, 1.0)
    return np.sqrt(-2.0 * np.log(a)) * np.cos(2.0 * np.pi * b)


def enkf_batch(pdf: pd.DataFrame, curve: str = "asymptotic",
               params: dict | None = None, n_sim: int = 50,
               obs_unc: float = 0.1, proc_unc: float = 0.05,
               seed: int = 42) -> pd.DataFrame:
    """EnKF over one Arrow batch of sequence rows."""
    if len(pdf) == 0:
        return pd.DataFrame(
            {c: [] for c in ["source", "doc_id", "ts", "value", "assim_mean",
                             "assim_std", "pos"]}
        ).astype({"ts": "datetime64[us]", "pos": "int32"})
    doc_of_obs, hours, vals, n_obs = decode_batch(pdf)
    n = len(pdf)
    m = int(n_obs.max()) if len(n_obs) else 0
    key = _doc_key_hash(pdf["doc_id"].to_numpy(), seed)

    # pad to (n, m)
    idx_in_doc = np.arange(len(doc_of_obs)) - np.repeat(
        np.concatenate(([0], np.cumsum(n_obs)[:-1])), n_obs
    )
    H = np.zeros((n, m), dtype=np.int64)
    Y = np.zeros((n, m), dtype=np.float64)
    mask = np.zeros((n, m), dtype=bool)
    H[doc_of_obs, idx_in_doc] = hours
    Y[doc_of_obs, idx_in_doc] = vals
    mask[doc_of_obs, idx_in_doc] = True

    lut = _response_lut(curve, params)
    cum_lut = np.concatenate(([0.0], np.cumsum(lut)))  # prefix sums of one period

    def cum_response(h0, h1):
        """sum of response over integer hours [h0, h1), vectorized, using
        periodicity: whole periods + prefix-sum remainder."""
        span = h1 - h0
        full = span // HOURS_PER_PERIOD
        a = np.mod(h0, HOURS_PER_PERIOD)
        b = a + (span - full * HOURS_PER_PERIOD)
        wrap = b > HOURS_PER_PERIOD
        lo = cum_lut[a]
        hi = np.where(wrap, cum_lut[HOURS_PER_PERIOD] + cum_lut[b - HOURS_PER_PERIOD],
                      cum_lut[b])
        return full * cum_lut[HOURS_PER_PERIOD] + (hi - lo)

    # init ensemble around the first obs (reference: uniform spread)
    y0 = Y[:, 0]
    u0 = splitmix64(
        key[:, None] ^ splitmix64(np.arange(n_sim, dtype=np.uint64))[None, :]
    )
    unif = (u0 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    A = y0[:, None] * (1.0 + obs_unc * (2.0 * unif - 1.0))

    out_mean = np.zeros((n, m))
    out_std = np.zeros((n, m))
    out_mean[:, 0] = A.mean(axis=1)
    out_std[:, 0] = A.std(axis=1)

    for k2 in range(1, m):
        active = mask[:, k2]
        if not active.any():
            break
        c = cum_response(H[:, k2 - 1], H[:, k2])  # deterministic growth
        # process noise per member, keyed by (doc, obs index, member)
        with np.errstate(over="ignore"):  # uint64 wraparound is the mixer
            uk = splitmix64(
                (key + np.uint64(k2) * np.uint64(0x9E3779B97F4A7C15))[:, None]
                ^ splitmix64(np.arange(n_sim, dtype=np.uint64) + np.uint64(1))[None, :]
            )
        A_f = A + c[:, None] * (1.0 + proc_unc * _gauss_from_u64(uk))
        # perturbed observations, keyed by (doc, obs index, member, stream 2)
        up = splitmix64(uk ^ np.uint64(0xA5A5A5A5A5A5A5A5))
        y = Y[:, k2]
        obs_sd = np.abs(y) * obs_unc + 1e-9
        D = y[:, None] + obs_sd[:, None] * _gauss_from_u64(up)
        P = A_f.var(axis=1)
        K = P / (P + obs_sd**2)
        A_a = A_f + K[:, None] * (D - A_f)
        A = np.where(active[:, None], A_a, A)
        out_mean[:, k2] = np.where(active, A.mean(axis=1), 0.0)
        out_std[:, k2] = np.where(active, A.std(axis=1), 0.0)

    keep = mask[doc_of_obs, idx_in_doc]  # all true; shape alignment
    src = pdf["source"].to_numpy()
    did = pdf["doc_id"].to_numpy()
    return pd.DataFrame(
        {
            "source": src[doc_of_obs],
            "doc_id": did[doc_of_obs],
            "ts": pd.to_datetime(
                (EPOCH_UNIX + hours * HOUR) * 1_000_000, unit="us"
            ),
            "value": vals,
            "assim_mean": out_mean[doc_of_obs, idx_in_doc],
            "assim_std": out_std[doc_of_obs, idx_in_doc],
            "pos": idx_in_doc.astype(np.int32),
        }
    )


def enkf_assimilate(seq: DataFrame, curve: str = "asymptotic",
                    params: dict | None = None, n_sim: int = 50,
                    obs_unc: float = 0.1, proc_unc: float = 0.05,
                    seed: int = 42) -> DataFrame:
    """sequences -> per-obs assimilated (mean, std) series. Narrow
    mapInPandas; the ensemble lives only inside the Arrow batch."""

    chunk = 8192

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for lo in range(0, len(pdf), chunk):
                yield enkf_batch(pdf.iloc[lo:lo + chunk], curve=curve,
                                 params=params, n_sim=n_sim, obs_unc=obs_unc,
                                 proc_unc=proc_unc, seed=seed)

    return seq.mapInPandas(fn, schema=ENKF_SCHEMA)


def reconstruct_assimilated(seq: DataFrame, curve: str = "asymptotic",
                            params: dict | None = None, n_sim: int = 50,
                            obs_unc: float = 0.1, proc_unc: float = 0.05,
                            knockout: float = 0.0, seed: int = 42,
                            tiers: bool = False) -> DataFrame:
    """Full reference pipeline A per doc: EnKF assimilation -> drop
    observations whose assimilated diff is negative
    (/root/reference/src/04_reconstruct_s2_traits.py:481-502) ->
    dose-response interpolation between the surviving assimilated
    anchors. One narrow mapInArrow, whose tier or dense rows are
    assembled and exploded exactly as in ``gapfill_tiers``/``gapfill``;
    with tiers=True the per-doc hourly/daily/weekly rollups are fused in
    (still shuffle-free).

    Assimilated anchor values are re-quantized through the token codec
    (1e-3), matching the engine's storage precision.
    """
    def rebuild_tokens(res: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        res = res.sort_values(["doc_id", "pos"], kind="mergesort")
        # monotone filter: the reference forces diff=0 for BOTH the first
        # and the last measurement point (04_reconstruct_s2_traits.py:
        # 480-492), so the last observation is always retained as an
        # interpolation anchor even if its assimilated diff is negative.
        prev = res.groupby("doc_id")["assim_mean"].shift()
        last_pos = res.groupby("doc_id")["pos"].transform("max")
        keep = (
            res["pos"].eq(0)
            | res["pos"].eq(last_pos)
            | (res["assim_mean"] - prev >= 0)
        )
        res = res[keep]
        hrs = (
            res["ts"].astype("datetime64[s]").astype("int64") - EPOCH_UNIX
        ) // HOUR
        v = np.round(res["assim_mean"].to_numpy() * VALUE_SCALE).astype(np.int64)
        rows = []
        for doc, grp_idx in res.groupby("doc_id", sort=False).indices.items():
            h = hrs.to_numpy()[grp_idx]
            dts = np.diff(h, prepend=0)
            toks = np.empty(2 * len(h), dtype=np.int32)
            toks[0::2] = dts
            toks[1::2] = v[grp_idx]
            rows.append((doc, toks, len(toks)))
        out = pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok"])
        src = pdf[["doc_id", "source"]].drop_duplicates("doc_id")
        return out.merge(src, on="doc_id")

    kernel = _tier_batches if tiers else _dense_batches

    def batches(pdf: pd.DataFrame):
        res = enkf_batch(pdf, curve=curve, params=params, n_sim=n_sim,
                         obs_unc=obs_unc, proc_unc=proc_unc, seed=seed)
        # outlier filtering belongs BEFORE assimilation (reference
        # prepare_lai_ts runs pre-EnKF); the anchors here are already
        # assimilated, so only interpolate
        return kernel(rebuild_tokens(res, pdf), curve=curve, params=params,
                      knockout=knockout, seed=seed, outlier_filter=False)

    return (_tier_rows if tiers else _dense_rows)(seq, batches)
