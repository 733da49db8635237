#!/usr/bin/env python
"""Capacity-calibrated scaling measurement (BASELINE.json north_rule).

Problem this solves: the sandbox host delivers BURSTY CPU. Probing
shows two regimes — windows where a 32-way burn sustains ~4x the
8-way total (full 32 physical cores available) and minutes-long
windows where total capacity collapses to ~8 cores, during which
local[8] and local[32] necessarily tie (a well-partitioned CPU-bound
job cannot beat the silicon it is given). Unconditioned medians mix
the regimes and measure the host, not the engine.

Method: each measurement pair runs the two levels back-to-back in
alternating order (8->32, then 32->8, ...), bracketed by ~0.6 s 32-way
burn probes that record the host's instantaneous total capacity. A
pair is CLEAN when every bracketing probe is within tolerance of the
session's peak capacity — i.e. the host had its full 32 cores to give
for both halves. The scaling efficiency of the ENGINE is the median
ratio over clean pairs; all raw pairs, probes, and the throttled-pair
ratios are reported alongside so nothing is hidden.

Usage: python tools/bench_scaling_calibrated.py [n_docs] [low] [high] [pairs]

Known limitation of the session-relative peak: if the host spends the
whole session in a steady lower capacity band but ONE probe catches a
burst, the >=75%-of-peak rule can classify every steady pair as
throttled (observed in the 300k-doc 2->8 session: probes ~210 M/s
throughout, one 346 M/s spike -> 0 "clean" pairs despite raw ratios
3.49-3.96). All raw pairs are always emitted so the reader can judge;
the strict rule is reported even when it works against the headline.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sentinel2_crop_trait_timeseries_spark.session import get_spark  # noqa: E402
from sentinel2_crop_trait_timeseries_spark.sources.gen import generate_sequences  # noqa: E402
from sentinel2_crop_trait_timeseries_spark.operators.gapfill import gapfill_tiers  # noqa: E402

SEQ_PATH = "/tmp/scaling_seq_cal.parquet"
PROBE_PROCS = 32
PROBE_SEC = 0.6


def _burn(dur: float) -> int:
    end = time.perf_counter() + dur
    x = 0
    while time.perf_counter() < end:
        x += 1
    return x


def probe_capacity(pool: mp.Pool, settle: float = 2.5) -> float:
    """Total host capacity right now: M iters/s across a 32-way burn.

    The settle sleep lets the just-stopped Spark session's JVM/worker
    teardown threads drain; probing immediately after spark.stop()
    under-reads capacity by ~40% (teardown contention, not host state).
    """
    time.sleep(settle)
    t0 = time.perf_counter()
    res = pool.map(_burn, [PROBE_SEC] * PROBE_PROCS)
    wall = time.perf_counter() - t0
    return sum(res) / wall / 1e6


def _read_stat() -> tuple[int, int]:
    """(busy, steal) jiffies from /proc/stat's aggregate cpu line."""
    parts = open("/proc/stat").readline().split()
    user, nice, system, _idle, _iow, irq, softirq, steal = map(
        int, parts[1:9]
    )
    return user + nice + system + irq + softirq, steal


def run_once(cores: int) -> dict:
    """One timed flagship run at `cores` (noop sink).

    The fresh context's Python workers cold-import pandas/numpy inside
    the first job (~2 s across all slots) — a per-SESSION cost that a
    long-lived cluster pays once, so an untimed tiny warm job (same
    Python worker path, every slot touched) runs first and the timed run
    measures steady-state engine throughput.

    /proc/stat is read around the timed job: `busy_cores` is the average
    cores actually executing, `steal_cores` the average stolen by the
    hypervisor DURING the run — this catches mid-run throttles the
    bracketing probes cannot see (they only sample between runs).

    CPU AFFINITY: each run executes in a SUBPROCESS that pins
    sched_setaffinity(cores) BEFORE creating its SparkSession, so the
    freshly spawned JVM and its forked Python workers inherit the mask.
    (Pinning in-process after a prior session existed is a no-op: the
    py4j gateway JVM persists across spark.stop() and keeps its original
    all-CPU affinity — caught by this harness's own busy_cores column
    reading ~12 on a "local[8]" run.) Without pinning, local[8] is NOT
    an 8-core proxy: JVM helper threads (GC, Arrow IPC, ColumnarToRow)
    run beside the 8 task slots. busy_cores in the output verifies the
    mask held for each run."""
    # SCALING_JOB selects the measured pipeline: 'fused' (default) is
    # the zero-Exchange narrow flagship; 'hourly_shuffle' is the
    # SHUFFLING twin — decode raw observations into the central
    # groupBy(source, doc_id, hour) rollup (engine_rollup_cascade's
    # first stage: the ONE place raw rows cross the wire) — so executor
    # scaling is evidenced for both plan classes, not just the
    # embarrassingly parallel one. (Rolling up GAPFILLED points would
    # shuffle the full 193M dense rows with no map-side reduction —
    # a 100x-overweight non-representative job; measured 7+ min/run
    # before this was corrected to the raw-observation shape.)
    job = os.environ.get("SCALING_JOB", "fused")
    if job == "hourly_shuffle":
        job_lines = (
            "from sentinel2_crop_trait_timeseries_spark.operators.decode"
            " import decode_observations_arrow\n"
            "from sentinel2_crop_trait_timeseries_spark.operators.rollup"
            " import rollup_tier\n"
            "def _job(df):\n"
            "    return rollup_tier(decode_observations_arrow(df), 'hourly')\n"
        )
    else:
        job_lines = (
            "from sentinel2_crop_trait_timeseries_spark.operators.gapfill"
            " import gapfill_tiers\n"
            "def _job(df):\n"
            "    return gapfill_tiers(df, knockout=0.1)\n"
        )
    script = (
        "import os, sys, json, time\n"
        f"os.sched_setaffinity(0, set(range({cores})))\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})\n"
        "from sentinel2_crop_trait_timeseries_spark.session import get_spark\n"
        + job_lines +
        "def _stat():\n"
        "    p = open('/proc/stat').readline().split()\n"
        "    u, n, s, _i, _io, irq, sirq, st = map(int, p[1:9])\n"
        "    return u + n + s + irq + sirq, st\n"
        f"spark = get_spark('s2tt_cal_{cores}', master='local[{cores}]',"
        f" shuffle_partitions={cores * int(os.environ.get('SCALING_SHUFFLE_MULT', '1'))})\n"
        f"seq = spark.read.parquet({SEQ_PATH!r})\n"
        f"warm = seq.limit({cores * 4}).repartition({cores})\n"
        "_job(warm).write.format('noop')"
        ".mode('overwrite').save()\n"
        "b0, s0 = _stat()\n"
        "t0 = time.perf_counter()\n"
        "_job(seq).write.format('noop')"
        ".mode('overwrite').save()\n"
        "sec = time.perf_counter() - t0\n"
        "b1, s1 = _stat()\n"
        "spark.stop()\n"
        "hz = os.sysconf('SC_CLK_TCK')\n"
        "print('RUNJSON ' + json.dumps({'sec': sec,"
        " 'busy_cores': (b1 - b0) / hz / sec,"
        " 'steal_cores': (s1 - s0) / hz / sec}))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True
    )
    for line in res.stdout.splitlines():
        if line.startswith("RUNJSON "):
            return json.loads(line[len("RUNJSON "):])
    raise RuntimeError(
        f"run_once({cores}) subprocess failed: {res.stderr[-2000:]}"
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    n_pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 12

    gen = get_spark("s2tt_cal_gen", master=f"local[{high}]",
                    shuffle_partitions=high)
    # SCALING_GEN_PARTS overrides input partitioning (default 2 task
    # waves at the high level) — raising it tests the stage-tail
    # granularity attribution: more waves should amortize the barrier
    gen_parts = int(os.environ.get("SCALING_GEN_PARTS", str(high * 2)))
    generate_sequences(gen, n_docs, partitions=gen_parts).write.mode(
        "overwrite"
    ).parquet(SEQ_PATH)
    seq = gen.read.parquet(SEQ_PATH)
    n_points = sum(
        r["count"]
        for r in gapfill_tiers(seq, knockout=0.1).groupBy("tier").count().collect()
    )
    gen.stop()

    pool = mp.Pool(PROBE_PROCS)
    probe_capacity(pool)  # warm the pool
    run_once(low)         # warm-up pair (JIT, worker pools, page cache)
    run_once(high)

    pairs = []
    for i in range(n_pairs):
        first, second = (low, high) if i % 2 == 0 else (high, low)
        c0 = probe_capacity(pool)
        r_first = run_once(first)
        c1 = probe_capacity(pool)
        r_second = run_once(second)
        c2 = probe_capacity(pool)
        r_low, r_high = (r_first, r_second) if first == low else (r_second, r_first)
        t_low, t_high = r_low["sec"], r_high["sec"]
        pairs.append({
            "order": f"{first}->{second}",
            "low_sec": round(t_low, 2), "high_sec": round(t_high, 2),
            "ratio": round(t_low / t_high, 3),
            "probes_M_per_s": [round(c0, 1), round(c1, 1), round(c2, 1)],
            "low_busy_cores": round(r_low["busy_cores"], 1),
            "high_busy_cores": round(r_high["busy_cores"], 1),
            "low_steal_cores": round(r_low["steal_cores"], 2),
            "high_steal_cores": round(r_high["steal_cores"], 2),
        })
        print(f"pair {i + 1}/{n_pairs} [{first}->{second}]: "
              f"{low}c {t_low:.1f}s  {high}c {t_high:.1f}s  "
              f"ratio {t_low / t_high:.2f}  probes "
              f"{c0:.0f}/{c1:.0f}/{c2:.0f} M/s  busy "
              f"{r_low['busy_cores']:.0f}/{r_high['busy_cores']:.0f}  steal "
              f"{r_low['steal_cores']:.1f}/{r_high['steal_cores']:.1f}",
              file=sys.stderr, flush=True)
    pool.close()

    peak = max(max(p["probes_M_per_s"]) for p in pairs)
    tol = 0.75
    ideal = high / low
    # Clean-pair criteria, each targeting a distinct failure mode the
    # bursty host exhibits:
    #  (1) bracketing probes >= tol*peak — host had full capacity at
    #      the pair's boundaries;
    #  (2) ratio <= 1.02*ideal — a super-ideal ratio is physically
    #      impossible and means a throttle landed MID-RUN on the
    #      low-core half, between probes (2% timer-noise headroom);
    #  (3) per-run /proc/stat steal DURING each half < 1 core — direct
    #      evidence the hypervisor didn't take cores away mid-run
    #      (catches throttles in either half that (1) cannot see).
    superideal = ideal * 1.02
    clean = [
        p for p in pairs
        if min(p["probes_M_per_s"]) >= tol * peak
        and p["ratio"] <= superideal
        and max(p["low_steal_cores"], p["high_steal_cores"]) < 1.0
    ]
    throttled = [p for p in pairs if p not in clean]

    def med(ps):
        return round(statistics.median(x["ratio"] for x in ps), 3) if ps else None

    clean_med = med(clean)
    out = {
        "job": (
            "decode -> central groupBy(source,doc_id,hour) rollup "
            "(ONE shuffle of raw observations, noop sink)"
            if os.environ.get("SCALING_JOB") == "hourly_shuffle"
            else "fused gapfill + per-doc 3-tier rollup (narrow, noop sink)"
        ),
        "methodology": "back-to-back alternating-order pairs; 32-way burn "
                       "probes bracket each run; CLEAN pair = all probes >= "
                       f"{tol:.0%} of session peak capacity AND ratio <= "
                       "1.02*ideal (super-ideal ratios imply a mid-run "
                       "throttle on the low-core half and are excluded); "
                       "engine efficiency = median clean-pair ratio / ideal",
        "n_superideal_excluded": sum(
            1 for p in pairs
            if min(p["probes_M_per_s"]) >= tol * peak
            and p["ratio"] > superideal
        ),
        "n_docs": n_docs,
        "rolled_points": n_points,
        "low_cores": low,
        "high_cores": high,
        "peak_capacity_M_per_s": round(peak, 1),
        "pairs": pairs,
        "n_clean": len(clean),
        "n_throttled": len(throttled),
        "median_ratio_clean": clean_med,
        "median_ratio_throttled": med(throttled),
        "median_ratio_all": med(pairs),
        "ideal_speedup": ideal,
        "scaling_efficiency_clean": (
            round(clean_med / ideal, 3) if clean_med else None
        ),
        "scaling_efficiency_all": round(med(pairs) / ideal, 3),
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
