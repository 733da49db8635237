"""Dose-response gap-fill: sparse token sequences -> dense hourly series.

Semantics follow the reference's reconstruction loop
(/root/reference/src/04_reconstruct_s2_traits.py):

- sort obs by time; optional deterministic knockout of 10% of points
  (reference ``prepare_lai_ts`` :131-136 — but per-key seeded instead of
  the order-dependent global RNG)
- outlier filter: values below mean - std are dropped, first point
  exempt (reference :142-155; mean/std are population stats over the
  surviving points — the reference's version NaN-poisons mean when
  knockout ran first, a bug we do not reproduce)
- between consecutive surviving obs, the value is the cumulative
  dose-response of the covariate rescaled onto [y_i, y_{i+1}]
  (reference ``interpolate_between_assimilated_points`` :162-213:
  in_min = cumsum at the left anchor, in_max = cumsum at the right
  anchor). If the response is flat over a segment (in_max == in_min,
  division by zero in the reference) we fall back to time-linear
  interpolation.

Execution shape (the scale-critical part): one ``sequences`` row holds a
full per-doc series, so this runs as ``mapInArrow`` over the sequence
scan — a NARROW op, no shuffle, no groupBy. All math is vectorized
numpy across the entire Arrow batch (docs are processed flat via
offset arithmetic, not a Python per-doc loop). The reference processes
one pixel at a time in a Python loop (:416); here a 10k-doc batch is a
handful of numpy kernels.

Output: dense hourly rows ``(source, doc_id, ts, value, is_obs)`` or,
fused, the per-doc tier rollups (hourly/daily/weekly) without any
shuffle at all. The worker returns one Arrow row per doc (per (tier,
doc) for tiers) whose numeric columns are list arrays built straight
from the kernel's numpy output; ``inline`` explodes them JVM-side. The
strings cross the Python/JVM socket once per doc, not once per point.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.response import PARAMS, response_np, temperature_np
from ..sources.gen import EPOCH_UNIX, VALUE_SCALE, splitmix64

DENSE_SCHEMA = "source string, doc_id string, ts timestamp, value double, is_obs boolean"
HOUR = 3600
HOURS_PER_PERIOD = 8760  # covariate period: seasonal year; 24 | 8760

_LUT_CACHE: dict = {}


def _response_lut(curve: str, params: dict | None) -> np.ndarray:
    """response(temperature(EPOCH + h hours)) for h in [0, 8760).

    Bit-exact stand-in for the direct computation at integer hours:
    temperature_np is periodic in 8760 h (and its diurnal term in 24 h,
    a divisor), and float64 mod of integer-valued inputs is exact, so
    LUT[hr % 8760] feeds sin/exp the same operands as temperature_np(hr).
    """
    p = params or PARAMS.get(curve)
    key = (curve, tuple(sorted((p or {}).items())))
    lut = _LUT_CACHE.get(key)
    if lut is None:
        hrs = np.arange(HOURS_PER_PERIOD, dtype=np.float64)
        lut = response_np(curve, temperature_np(EPOCH_UNIX + hrs * HOUR), p)
        _LUT_CACHE[key] = lut
    return lut


def _fnv1a_scalar(doc_ids) -> np.ndarray:
    """Byte-by-byte FNV-1a twin (kept for the equivalence pytest)."""
    out = np.empty(len(doc_ids), dtype=np.uint64)
    mask = (1 << 64) - 1
    for j, d in enumerate(doc_ids):
        h = 14695981039346656037
        for ch in d.encode():
            h = ((h ^ ch) * 1099511628211) & mask
        out[j] = h
    return out


def _fnv1a_batch(doc_ids) -> np.ndarray:
    """Vectorized FNV-1a over a batch of doc_id strings.

    FNV is sequential per byte, so the loop runs over BYTE POSITIONS
    (max doc_id length, ~tens) with all docs updated per step — not over
    docs; the per-doc Python of the scalar twin is gone. uint64 multiply
    wraps mod 2^64 in numpy, matching the scalar ``& mask``.
    """
    n = len(doc_ids)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bs = [d.encode() for d in doc_ids]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    flat = np.frombuffer(b"".join(bs), dtype=np.uint8)
    maxlen = int(lens.max()) if n else 0
    buf = np.zeros((n, maxlen), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens[:-1])))
    buf[np.repeat(np.arange(n), lens),
        np.arange(len(flat)) - np.repeat(starts, lens)] = flat
    h = np.full(n, 14695981039346656037, dtype=np.uint64)
    prime = np.uint64(1099511628211)
    with np.errstate(over="ignore"):
        for j in range(maxlen):
            h = np.where(
                lens > j, (h ^ buf[:, j].astype(np.uint64)) * prime, h
            )
    return h


def _doc_key_hash(doc_ids: np.ndarray, seed: int) -> np.ndarray:
    """Stable per-doc uint64 from the doc_id string (FNV-1a + splitmix)."""
    out = _fnv1a_batch(doc_ids)
    return splitmix64(out ^ splitmix64(np.full(len(doc_ids), seed, dtype=np.uint64)))


def decode_batch(pdf: pd.DataFrame):
    """Vectorized token decode for a batch: flat (doc_idx, hour, value)."""
    toks = pdf["tokens"].to_numpy()
    n_tok = pdf["n_tok"].to_numpy().astype(np.int64)
    flat = np.concatenate(toks).astype(np.int64) if len(toks) else np.empty(0, np.int64)
    n_obs = n_tok // 2
    starts = np.zeros(len(pdf), dtype=np.int64)
    np.cumsum(n_tok[:-1], out=starts[1:]) if len(pdf) > 1 else None
    doc_of_tok = np.repeat(np.arange(len(pdf)), n_tok)
    rel = np.arange(len(flat)) - np.repeat(starts, n_tok)
    dts = flat[rel % 2 == 0]
    vals = flat[rel % 2 == 1].astype(np.float64) / VALUE_SCALE
    doc_of_obs = doc_of_tok[rel % 2 == 0]
    # per-doc cumsum of dts -> absolute hour offsets
    g = np.cumsum(dts)
    obs_starts = np.zeros(len(pdf), dtype=np.int64)
    np.cumsum(n_obs[:-1], out=obs_starts[1:]) if len(pdf) > 1 else None
    # cumsum before each doc's first obs; docs without obs have none
    has = n_obs > 0
    base = np.repeat((g - dts)[obs_starts[has]], n_obs[has])
    hours = g - base
    return doc_of_obs, hours, vals, n_obs


def _knockout_mask(key_hash: np.ndarray, doc_of_obs: np.ndarray,
                   n_obs: np.ndarray, frac: float) -> np.ndarray:
    """True = keep. Removes floor(n*frac) obs per doc, deterministically.

    Rank obs within each doc by splitmix64(doc_key, obs_index); the
    lowest floor(n*frac) ranks are dropped. Identical under any
    partitioning (unlike reference np.random.choice on a global seed).
    """
    if frac <= 0:
        return np.ones(len(doc_of_obs), dtype=bool)
    idx_in_doc = np.arange(len(doc_of_obs)) - np.repeat(
        np.concatenate(([0], np.cumsum(n_obs)[:-1])), n_obs
    )
    r = splitmix64(key_hash[doc_of_obs] ^ splitmix64(idx_in_doc.astype(np.uint64)))
    n_drop = (n_obs * frac).astype(np.int64)
    # rank within doc: argsort r within segments (docs are contiguous)
    order = np.lexsort((r, doc_of_obs))
    rank = np.empty_like(idx_in_doc)
    rank[order] = idx_in_doc  # 0..n-1 within doc in r-order
    return rank >= n_drop[doc_of_obs]


# Peak bytes for the padded (segment x gap-width) cumsum matrix. Above
# this the column-blocked path runs instead — bit-identical output, so
# one pathological long-gap doc cannot OOM an executor (the width is
# data-dependent: the longest obs-to-obs span in the Arrow chunk).
_SEG_MATRIX_CAP = 256 << 20

# Docs per kernel chunk. Output is per-doc, so ANY chunking yields
# identical results; the size is a pure malloc-behavior knob. It must
# keep the chunk's working arrays (~470k dense points -> ~4 MB each)
# UNDER glibc's 32 MB mmap threshold: with 4096-doc chunks every
# temporary was a fresh multi-hundred-MB mmap/munmap, and at 32
# concurrent workers the munmap TLB-shootdown IPIs + page zeroing put
# ~22 of 32 cores into SYSTEM time (measured /proc/stat split 6.0 user
# / 22.5 sys during a 100k-doc local[32] run — the 32-thread job ran
# SLOWER than 8 threads). Small chunks let glibc recycle the heap:
# same bytes touched, no kernel churn. Measured at 100k docs, local[32],
# noop sink: chunk 4096 -> 108 s (22 sys cores); 512 -> 8.8 s;
# 256 -> 5.8 s with 26 user / 2.7 sys cores. 256 holds the optimum
# (128 is equal); the single-thread kernel is unchanged (>450k points
# per call keeps the numpy fixed costs amortized).
CHUNK_DOCS = 256


def _segment_cum_blocked(n_segs, seg_ord, pos, r, right_pos, r_right,
                         mem_cap=_SEG_MATRIX_CAP):
    """Per-segment sequential cumsum with bounded memory.

    Identical (bit-for-bit) to ``np.cumsum`` over the one-shot padded
    matrix: each column block seeds column 0 with the carry (the running
    cumsum at the block boundary), so the float addition ORDER matches
    the unblocked sequential scan exactly — this is what preserves the
    tiny-response-range precision the padded form exists for.

    Returns (cum over spine entries, in_min per segment, in_max per
    segment).
    """
    bw = max(64, int(mem_cap // (16 * max(n_segs, 1))))
    # bound the SEGMENT dimension too: when bw bottoms out at its 64
    # floor (huge n_segs, modest widths), Mb = n_segs x 65 doubles can
    # itself exceed the cap. Segments are independent and seg_ord is
    # nondecreasing along the spine, so split into stripes (a
    # searchsorted slice each) and run the same scan per stripe —
    # still bit-exact (any blocking is). Striping engages ONLY while
    # the bw floor is active (bw > 64 already means Mb ~ mem_cap/2 by
    # construction); per-stripe bw then recomputes above the floor, so
    # the recursion terminates at depth 1.
    stripe = max(1, int(mem_cap // (16 * 65)))
    if bw == 64 and n_segs > stripe:
        cum = np.empty(len(pos), dtype=np.float64)
        in_min_s = np.empty(n_segs, dtype=np.float64)
        in_max_s = np.empty(n_segs, dtype=np.float64)
        for s0 in range(0, n_segs, stripe):
            s1 = min(n_segs, s0 + stripe)
            e0, e1 = np.searchsorted(seg_ord, (s0, s1))
            c, mn, mx = _segment_cum_blocked(
                s1 - s0, seg_ord[e0:e1] - s0, pos[e0:e1], r[e0:e1],
                right_pos[s0:s1], r_right[s0:s1], mem_cap,
            )
            cum[e0:e1] = c
            in_min_s[s0:s1] = mn
            in_max_s[s0:s1] = mx
        return cum, in_min_s, in_max_s
    width = int(right_pos.max()) + 1
    n_blocks = (width + bw - 1) // bw
    cum = np.empty(len(pos), dtype=np.float64)
    in_max_s = np.empty(n_segs, dtype=np.float64)
    # group spine entries by column block once (O(total log total))
    blk = pos // bw
    order = np.argsort(blk, kind="stable")
    blk_sorted = blk[order]
    b_starts = np.searchsorted(blk_sorted, np.arange(n_blocks))
    b_ends = np.searchsorted(blk_sorted, np.arange(n_blocks) + 1)
    rblk = right_pos // bw
    carry = np.zeros(n_segs, dtype=np.float64)
    Mb = np.empty((n_segs, bw + 1), dtype=np.float64)
    seg_ids = np.arange(n_segs)
    for k in range(n_blocks):
        lo = k * bw
        Mb[:] = 0.0
        Mb[:, 0] = carry
        idx = order[b_starts[k]:b_ends[k]]
        Mb[seg_ord[idx], pos[idx] - lo + 1] = r[idx]
        rsel = rblk == k
        Mb[seg_ids[rsel], right_pos[rsel] - lo + 1] = r_right[rsel]
        np.cumsum(Mb, axis=1, out=Mb)
        cum[idx] = Mb[seg_ord[idx], pos[idx] - lo + 1]
        in_max_s[rsel] = Mb[seg_ids[rsel], right_pos[rsel] - lo + 1]
        carry = Mb[:, bw].copy()
    # cum at offset 0 is the left anchor's own response value — the
    # scatter writes it, so cum(0) == r(left) exactly (in_min of the
    # one-shot path's cumM[:, 0])
    in_min_s = np.empty(n_segs, dtype=np.float64)
    at0 = pos == 0
    in_min_s[seg_ord[at0]] = cum[at0]
    return cum, in_min_s, in_max_s


def _gapfill_core(pdf: pd.DataFrame, curve: str = "asymptotic",
                  params: dict | None = None, knockout: float = 0.0,
                  outlier_filter: bool = True, seed: int = 42):
    """Gap-fill one Arrow batch -> flat (doc_idx, hour, value, is_obs)
    arrays, doc-contiguous and time-ascending within doc. The array form
    feeds both the dense-frame surface (gapfill_batch) and the fused
    tier rollup (gapfill_tiers_batch) without materializing the
    intermediate frame."""
    if len(pdf) == 0:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, np.zeros(0), np.zeros(0, dtype=bool)
    doc_of_obs, hours, vals, n_obs = decode_batch(pdf)
    key_hash = _doc_key_hash(pdf["doc_id"].to_numpy(), seed)

    keep = _knockout_mask(key_hash, doc_of_obs, n_obs, knockout)
    if outlier_filter:
        # population mean/std per doc over kept points; first kept point exempt
        d = doc_of_obs[keep]
        v = vals[keep]
        cnt = np.bincount(d, minlength=len(pdf)).astype(np.float64)
        cnt_safe = np.maximum(cnt, 1.0)
        mean = np.bincount(d, weights=v, minlength=len(pdf)) / cnt_safe
        var = np.bincount(d, weights=v * v, minlength=len(pdf)) / cnt_safe - mean**2
        std = np.sqrt(np.maximum(var, 0.0))
        first_of_doc = np.zeros(len(v), dtype=bool)
        if len(d):
            first_of_doc[np.unique(d, return_index=True)[1]] = True
        ok = first_of_doc | (v >= (mean - std)[d])
        keep2 = keep.copy()
        keep2[np.flatnonzero(keep)] = ok
        keep = keep2

    d = doc_of_obs[keep]
    h = hours[keep]
    y = vals[keep]
    # docs with <2 surviving obs emit just their obs rows
    n_keep = np.bincount(d, minlength=len(pdf))

    # ---- dense spine (flat across all docs with >=2 anchors)
    multi = n_keep >= 2
    anchor_first = np.full(len(pdf), -1, dtype=np.int64)
    anchor_last = np.full(len(pdf), -1, dtype=np.int64)
    if d.size:
        uniq, first_idx = np.unique(d, return_index=True)
        last_idx = np.concatenate((first_idx[1:], [len(d)])) - 1
        anchor_first[uniq] = h[first_idx]
        anchor_last[uniq] = h[last_idx]
    span = np.where(multi, anchor_last - anchor_first + 1, 0).astype(np.int64)
    total = int(span.sum())

    doc_of_hr = np.repeat(np.arange(len(pdf)), span)
    hr_rel = np.arange(total) - np.repeat(np.concatenate(([0], np.cumsum(span)[:-1])), span)
    hr = hr_rel + anchor_first[doc_of_hr]

    # covariate + response over the flat spine. The covariate is
    # periodic with period 8760 h (seasonal) and 24 | 8760 (diurnal),
    # and the spine samples integer hours, so response(t(hr)) ==
    # LUT[hr % 8760] BIT-EXACTLY (integer float64 mod; same sin/exp
    # inputs). The 70 KB LUT stays cache-resident — this removes the
    # dominant DRAM passes (sin/exp temporaries) from the hot loop,
    # which is what lets 32 concurrent workers scale (memory-bandwidth
    # profile, see tools/bench_scaling_calibrated.py).
    r = _response_lut(curve, params)[np.mod(hr, HOURS_PER_PERIOD)]
    doc_start_pos = np.concatenate(([0], np.cumsum(span)[:-1]))

    # segment assignment: for each spine hour, the left anchor index
    BIG = np.int64(1) << np.int64(40)
    h_keyed = h.astype(np.int64) + d.astype(np.int64) * BIG
    hr_keyed = hr + doc_of_hr.astype(np.int64) * BIG
    seg = np.searchsorted(h_keyed, hr_keyed, side="right") - 1
    # clamp right-endpoint to last segment (h == last anchor)
    obs_start = np.concatenate(([0], np.cumsum(n_keep)[:-1]))
    last_seg = obs_start[doc_of_hr] + n_keep[doc_of_hr] - 1
    seg = np.minimum(seg, last_seg - 1)
    seg = np.maximum(seg, obs_start[doc_of_hr])

    pos_in_spine = lambda ai: h[ai] - anchor_first[d[ai]] + doc_start_pos[d[ai]]

    # ---- exact per-segment cumulative response (reference semantics:
    # cumsum restarts at each left anchor, fresh accumulation — a padded
    # (segment x offset) matrix keeps it sequential/bit-exact; the
    # global-cumsum-minus-offset trick loses precision catastrophically
    # when a segment's response range is tiny (wang_engels cold spells))
    # contiguous global segment id: every doc with obs has one segment
    # fewer than obs (a doc without obs has neither)
    docs_before = np.cumsum(n_keep > 0) - 1
    seg_ord = seg - docs_before[doc_of_hr]
    pos = hr - h[seg]  # offset within segment, 0-based
    value = np.empty(total, dtype=np.float64)
    if total:
        n_segs = int(seg_ord.max()) + 1
        # obs index of each segment's left anchor: all obs except each
        # doc's last obs; seg_left[s] for s = obs_idx - doc_idx
        is_last = np.zeros(len(d), dtype=bool)
        if d.size:
            uq, fi = np.unique(d, return_index=True)
            li = np.concatenate((fi[1:], [len(d)])) - 1
            is_last[li] = True
        seg_left = np.flatnonzero(~is_last)[:n_segs]
        a_r_s = seg_left + 1
        right_pos = (h[a_r_s] - h[seg_left]).astype(np.int64)
        width = int(right_pos.max()) + 1
        r_right = r[pos_in_spine(a_r_s)]
        if n_segs * width * 8 <= _SEG_MATRIX_CAP:
            M = np.zeros((n_segs, width), dtype=np.float64)
            M[seg_ord, pos] = r
            M[np.arange(n_segs), right_pos] = r_right
            cumM = np.cumsum(M, axis=1, out=M)  # in-place: no second matrix
            in_min_s = cumM[:, 0].copy()
            in_max_s = cumM[np.arange(n_segs), right_pos]
            value = cumM[seg_ord, pos]  # cum, reused as the output buffer
        else:
            # one doc with a multi-year gap must not OOM the executor:
            # same sequential cumsum, column-blocked with a carry
            value, in_min_s, in_max_s = _segment_cum_blocked(
                n_segs, seg_ord, pos, r, right_pos, r_right
            )
        rng_s = in_max_s - in_min_s
        # fused fractional-progress math, minimal temporaries:
        # frac = (cum - in_min) / rng, with the (rare) flat-response
        # segments patched to time-linear afterwards
        np.subtract(value, in_min_s[seg_ord], out=value)
        with np.errstate(invalid="ignore", divide="ignore"):
            np.divide(value, rng_s[seg_ord], out=value)
        flat_segs = np.flatnonzero(~(rng_s > 0))
        if flat_segs.size:
            in_flat = np.isin(seg_ord, flat_segs)
            value[in_flat] = (
                pos[in_flat] / np.maximum(right_pos[seg_ord[in_flat]], 1)
            )
        y_l = y[seg]
        np.multiply(value, y[seg + 1] - y_l, out=value)
        np.add(value, y_l, out=value)

    is_obs_hr = np.zeros(total, dtype=bool)
    if d.size:
        is_obs_hr[pos_in_spine(np.arange(len(d)))[multi[d]]] = True

    # docs with <2 anchors: emit their surviving obs directly
    lone = ~multi[d]
    out_doc = np.concatenate((doc_of_hr, d[lone]))
    out_hr = np.concatenate((hr, h[lone]))
    out_val = np.concatenate((value, y[lone]))
    out_obs = np.concatenate((is_obs_hr, np.ones(int(lone.sum()), dtype=bool)))
    return out_doc, out_hr, out_val, out_obs


# ---------------------------------------------------------------------
# Kernel output -> Arrow, and back to rows JVM-side
# ---------------------------------------------------------------------

def _run_starts(*keys: np.ndarray) -> np.ndarray:
    """Index where each run of equal consecutive key tuples starts."""
    if len(keys[0]) == 0:
        return np.zeros(0, dtype=np.int64)
    chg = np.zeros(len(keys[0]) - 1, dtype=bool)
    for k in keys:
        chg |= k[1:] != k[:-1]
    return np.concatenate(([0], np.flatnonzero(chg) + 1))


def _micros(sec: np.ndarray) -> np.ndarray:
    return (sec * 1_000_000).astype("datetime64[us]")


def _doc_strings(pdf: pd.DataFrame) -> dict[str, pa.Array]:
    return {c: pa.array(pdf[c], pa.string()) for c in ("source", "doc_id")}


def _arrow_batch(doc: np.ndarray, strings: dict[str, pa.Array],
                 columns: dict[str, np.ndarray], lists: bool) -> pa.RecordBatch:
    """Kernel arrays -> one Arrow batch: the one place gap-fill, decode
    and dense output is assembled.

    ``doc[i]`` is the row of element i in each per-doc ``strings`` array;
    strings are gathered with ``take``, so no per-row Python object is
    built (pandas Categorical columns would be cast back to per-row
    strings before Arrow). With ``lists`` each run of equal ``doc``
    becomes ONE row whose numeric columns are Arrow lists, exploded
    JVM-side by ``_inline``; without it, one row per element.
    """
    if lists:
        starts = _run_starts(doc)
        offsets = pa.array(np.append(starts, len(doc)), pa.int32())
        doc = doc[starts]
    rows = pa.array(doc)
    out = {k: v.take(rows) for k, v in strings.items()}
    for k, v in columns.items():
        a = pa.array(v)
        out[k] = pa.ListArray.from_arrays(offsets, a) if lists else a
    return pa.RecordBatch.from_pydict(out)


def _explode(batches: list[pa.RecordBatch]) -> pd.DataFrame:
    """The rows ``_inline`` makes of ``batches`` on the JVM, as one pandas
    frame: list columns flattened, the others repeated per element."""
    flat = []
    for b in batches:
        is_list = [pa.types.is_list(t) for t in b.schema.types]
        lengths = b.column(is_list.index(True)).value_lengths().to_numpy()
        rows = pa.array(np.repeat(np.arange(b.num_rows), lengths))
        flat.append(pa.RecordBatch.from_arrays(
            [c.flatten() if lst else c.take(rows)
             for c, lst in zip(b.columns, is_list)],
            names=b.schema.names))
    return pa.Table.from_batches(flat).to_pandas()


def _map_chunks(seq: DataFrame, batches, schema: str) -> DataFrame:
    """``batches(pdf)`` over CHUNK_DOCS-doc slices of every input batch,
    as one narrow ``mapInArrow``."""
    chunk = CHUNK_DOCS

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            pdf = batch.to_pandas()
            for lo in range(0, len(pdf), chunk):
                yield from batches(pdf.iloc[lo:lo + chunk])

    return seq.mapInArrow(fn, schema)


def _inline(df: DataFrame, keys: list[str]) -> DataFrame:
    """JVM-side explode of ``_arrow_batch(lists=True)`` rows: one row per
    list element, the key columns repeated."""
    lists = [c for c in df.columns if c not in keys]
    return df.select(*keys, F.inline(F.arrays_zip(*lists)))


# ---------------------------------------------------------------------
# Dense hourly reconstruction
# ---------------------------------------------------------------------

_DENSE_LISTS = ("source string, doc_id string, ts array<timestamp>, "
                "value array<double>, is_obs array<boolean>")


def _dense_batches(pdf: pd.DataFrame, **kw) -> list[pa.RecordBatch]:
    """One Arrow row per doc: its dense hourly points as list columns."""
    out_doc, out_hr, out_val, out_obs = _gapfill_core(pdf, **kw)
    return [_arrow_batch(out_doc, _doc_strings(pdf), {
        "ts": _micros(EPOCH_UNIX + out_hr * HOUR),
        "value": out_val,
        "is_obs": out_obs,
    }, lists=True)]


def _dense_rows(seq: DataFrame, batches) -> DataFrame:
    """``_dense_batches``-shaped output of ``batches`` -> DENSE_SCHEMA."""
    return _inline(_map_chunks(seq, batches, _DENSE_LISTS), ["source", "doc_id"])


def gapfill_batch(pdf: pd.DataFrame, curve: str = "asymptotic",
                  params: dict | None = None, knockout: float = 0.0,
                  outlier_filter: bool = True, seed: int = 42) -> pd.DataFrame:
    """Gap-fill one Arrow batch of sequence rows -> dense hourly frame
    (the rows ``gapfill`` returns for it)."""
    return _explode(_dense_batches(
        pdf, curve=curve, params=params, knockout=knockout,
        outlier_filter=outlier_filter, seed=seed))


def gapfill(seq: DataFrame, curve: str = "asymptotic", params: dict | None = None,
            knockout: float = 0.0, outlier_filter: bool = True,
            seed: int = 42) -> DataFrame:
    """sequences -> dense hourly reconstruction, as a narrow mapInArrow."""
    return _dense_rows(seq, partial(
        _dense_batches, curve=curve, params=params, knockout=knockout,
        outlier_filter=outlier_filter, seed=seed))


# ---------------------------------------------------------------------
# Fused gap-fill + per-doc tier rollup (shuffle-free)
# ---------------------------------------------------------------------

TIER_SCHEMA = (
    "tier string, source string, doc_id string, bucket_ts timestamp, "
    "n long, sum_value double, mean_value double, min_value double, "
    "max_value double, sumsq_value double"
)
_TIER_LISTS = (
    "tier string, source string, doc_id string, bucket_ts array<timestamp>, "
    "n array<long>, sum_value array<double>, min_value array<double>, "
    "max_value array<double>, sumsq_value array<double>"
)

_DAY = 86400
_WEEK_SHIFT = 3 * _DAY  # epoch day 0 is a Thursday; Monday alignment


def _tier_rollup_np(doc, sec, val):
    """Per-(doc, bucket) aggregates for hourly/daily/weekly, vectorized.

    Equivalent to cascade(rollup_tier(...)) on the dense rows, but
    computed inside the Arrow batch: a sequence row holds its entire
    doc, so per-doc tiers never need a shuffle.

    Rows arrive doc-major and time-ascending within doc (the dense
    spine), so every tier's (doc, bucket) key is ALREADY nondecreasing
    along the row axis: no argsort, no np.unique — run boundaries come
    from one vectorized neighbor-compare. Three structural wins vs the
    sort-based form (~3x on the kernel):
    - hourly is an IDENTITY map (the spine has exactly one row per
      (doc, hour)) — zero grouping work;
    - daily reduceats the dense rows once, over contiguous runs;
    - weekly composes daily's algebraic partials (sum/min/max/count
      are associative), reduceat over ~1/24th the rows.
    """
    out = {}
    doc = doc.astype(np.int64)
    vv = val * val
    # hourly: one dense row per (doc, hour) — identity
    out["hourly"] = (
        doc, sec, np.ones(len(sec), dtype=np.int64), val, val, val, vv
    )
    # daily: contiguous runs of (doc, day)
    day = (sec // _DAY) * _DAY
    starts = _run_starts(doc, day)
    n_d = np.diff(np.concatenate((starts, [len(day)])))
    d_doc = doc[starts]
    d_sum = np.add.reduceat(val, starts)
    d_min = np.minimum.reduceat(val, starts)
    d_max = np.maximum.reduceat(val, starts)
    d_ss = np.add.reduceat(vv, starts)
    out["daily"] = (d_doc, day[starts], n_d, d_sum, d_min, d_max, d_ss)
    # weekly: compose the daily partials
    week = ((day[starts] + _WEEK_SHIFT) // (7 * _DAY)) * (7 * _DAY) - _WEEK_SHIFT
    s2 = _run_starts(d_doc, week)
    out["weekly"] = (
        d_doc[s2],
        week[s2],
        np.add.reduceat(n_d, s2),
        np.add.reduceat(d_sum, s2),
        np.minimum.reduceat(d_min, s2),
        np.maximum.reduceat(d_max, s2),
        np.add.reduceat(d_ss, s2),
    )
    return out


def _tier_batches(pdf: pd.DataFrame, **kw) -> list[pa.RecordBatch]:
    """Gap-fill + per-doc tier rollup of one chunk: one batch per tier,
    hourly then daily then weekly, each with one row per (tier, doc)."""
    out_doc, out_hr, val, _ = _gapfill_core(pdf, **kw)
    tiers = _tier_rollup_np(out_doc, EPOCH_UNIX + out_hr * HOUR, val)
    strings = _doc_strings(pdf)
    return [
        _arrow_batch(doc, {"tier": pa.repeat(tier, len(pdf)), **strings}, {
            "bucket_ts": _micros(bucket), "n": n, "sum_value": s,
            "min_value": mn, "max_value": mx, "sumsq_value": ss,
        }, lists=True)
        for tier, (doc, bucket, n, s, mn, mx, ss) in tiers.items()
    ]


def _tier_rows(seq: DataFrame, batches) -> DataFrame:
    """``_tier_batches``-shaped output of ``batches`` -> TIER_SCHEMA; the
    mean is derived JVM-side (the same IEEE division as numpy's s / n)."""
    df = _inline(_map_chunks(seq, batches, _TIER_LISTS), ["tier", "source", "doc_id"])
    mean = (F.col("sum_value") / F.col("n")).alias("mean_value")
    return df.select(*df.columns[:6], mean, *df.columns[6:])


def gapfill_tiers_batch(pdf: pd.DataFrame, curve: str = "asymptotic",
                        params: dict | None = None, knockout: float = 0.0,
                        outlier_filter: bool = True, seed: int = 42) -> pd.DataFrame:
    """Tier rows of one batch of sequence rows (the rows ``gapfill_tiers``
    returns for it)."""
    df = _explode(_tier_batches(
        pdf, curve=curve, params=params, knockout=knockout,
        outlier_filter=outlier_filter, seed=seed))
    df.insert(6, "mean_value", df["sum_value"] / df["n"])
    return df


def gapfill_tiers(seq: DataFrame, curve: str = "asymptotic",
                  params: dict | None = None, knockout: float = 0.0,
                  outlier_filter: bool = True, seed: int = 42) -> DataFrame:
    """sequences -> all three per-doc retention tiers, SHUFFLE-FREE.

    The scale-critical fusion: dense reconstruction and its per-doc
    hourly/daily/weekly rollups happen inside one Arrow batch, so the
    job is a pure narrow map from the sequence scan to the tier sink.
    At 10^12 sequences this removes the dominant shuffle entirely —
    only cross-doc continuous aggregates (rollup.continuous_aggregate)
    ever shuffle, and those shuffle pre-reduced rollup rows.
    Output is identical to cascade(gapfill(seq)) (tested property).
    """
    return _tier_rows(seq, partial(
        _tier_batches, curve=curve, params=params, knockout=knockout,
        outlier_filter=outlier_filter, seed=seed))
