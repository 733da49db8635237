#!/usr/bin/env python3
"""Benchmark of the time-series engine: one workload, one closed-loop client
on ``local[nproc]``, inputs made from the seed.

    python3 perfbench/run.py --workload fused_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. With ``--trace 0`` it times jobs untraced
and reports the end-to-end metrics; with ``--trace 1`` it makes the traced
run and reports the per-layer metrics (see perfbench/README.md). Either
way the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
print every metric by name with its unit. Spark's own log goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sentinel2_crop_trait_timeseries_spark"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["fused_ingest", "catalog_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="job time to measure; whole jobs, at least one")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test uses a small one)")
    return p.parse_args(argv)


def configure(work: str, cpus: int) -> dict:
    """Size the run for this host before the JVM starts: every path inside
    ``work``, a driver heap that fits the machine, and the repository on
    the Python workers' path (they do not inherit ``sys.path``)."""
    from perfbench.host import mem_total_mb

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    driver_mb = min(4096, max(1024, mem_total_mb() // 6))
    pypath = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + pypath if pypath else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads job/stage info back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    closes); the Python workers are the JVM's children and go first."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


def measure(wl, seconds: float) -> list[dict]:
    """Closed loop, one client: run whole jobs until the next one would
    take the timed total past ``seconds``; at least one job runs."""
    recs: list[dict] = []
    wall0 = time.perf_counter()
    while True:
        recs.append(wl.job())
        times = [r["seconds"] for r in recs if "seconds" in r]
        if (sum(times) + statistics.median(times or [0.0]) > seconds
                or time.perf_counter() - wall0 > 2 * seconds + 60):
            return recs


def summarize(wl, setup_s: float, recs: list[dict], rss) -> tuple[dict, list[str]]:
    ok = [r for r in recs if r.get("error") is None]
    if not ok:
        raise RuntimeError(f"every job failed: {recs[0].get('error')}")
    secs = [r["seconds"] for r in ok]
    total = sum(secs)
    items = sum(r["items"] for r in ok)
    m = {
        "setup_s": setup_s,
        "job_s": statistics.median(secs),
        "peak_worker_rss_mb": rss.peak_mb,
    }
    fail_ratio = (len(recs) - len(ok)) / len(recs)
    lines = [f"samples {len(ok)} jobs ({len(recs)} attempted), "
             f"rss samples {rss.samples}",
             "job_times " + " ".join(f"{s:.3f}" for s in secs) + " s",
             f"fail_ratio {fail_ratio:.4f} ratio"]
    if wl.name == "fused_ingest":
        points = sum(r["points"] for r in ok)
        lines += [f"seq_per_s {items / total:.2f} 1/s",
                  f"points_per_s {points / total:.1f} 1/s",
                  "stored_bytes_per_point "
                  f"{sum(r['bytes'] for r in ok) / points:.3f} B"]
    else:
        lines.append(f"queries_per_min {60 * items / total:.3f} 1/min")
        for q in sorted(ok[0]["queries"]):
            med = statistics.median(r["queries"][q] for r in ok)
            lines.append(f"query {q} {med:.4f} s")
    return m, lines


def traced_run(args, spark, session, work) -> tuple[dict, list[dict], object]:
    """The traced run. It is the same whichever workload is named, so its
    per-layer figures compare across every traced run. Ingest jobs are
    warmed up, then timed untraced and traced in turn; the ratio of their
    times is the tracing overhead. Then every layer is traced: the engine
    layers on the fused_ingest sequences, and one pass over the catalog
    queries. That pass is the first one of the run, so it runs cold."""
    from perfbench.layers import catalog_profile, engine_profile
    from perfbench.spans import Tracer
    from perfbench.workloads import CatalogServe, FusedIngest

    tracer = Tracer(spark, f"{args.workload}-s{args.seed}-{os.getpid()}")
    tracer.record("session", *session)
    fused = FusedIngest(spark, work, args.seed, args.scale)
    serve = CatalogServe(spark, work, args.seed, args.scale)
    with ThreadPoolExecutor(1) as pool:
        expected = pool.submit(fused.expect)
        with tracer.span("gen") as gen:
            fused.generate()
            serve.generate()
        expected.result()

    ops = fused.warm_up()
    times: dict[bool, list[float]] = {False: [], True: []}
    for traced in (False, True, True, False):  # the order cancels a drift
        if traced:
            tracer.enable_sql_metrics()
            with tracer.span("fused_ingest.job"):
                rec = fused.job()
            tracer.disable_sql_metrics()
        else:
            rec = fused.job()
        ops.append(rec)
        if rec.get("error") is None:
            times[traced].append(rec["seconds"])
    if not (times[False] and times[True]):
        raise RuntimeError("no untraced or no traced ingest job passed")
    ratio = statistics.median(times[True]) / statistics.median(times[False])

    tracer.enable_sql_metrics()
    engine, checks = engine_profile(spark, tracer, fused, work)
    layers = catalog_profile(tracer, serve)
    tracer.disable_sql_metrics()
    m = {"session.start_s": session[1], "gen.s": gen["seconds"],
         **engine, **layers, "trace.overhead_ratio": ratio}
    return m, ops + checks, tracer


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # not perfbench/: its module names must not shadow others
    from perfbench.host import WorkerRss, probe_host, usable_cpus

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    cpus = usable_cpus()
    out_root = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=out_root)
    spark = None
    try:
        conf = configure(work, cpus)
        host = probe_host(cpus)
        from sentinel2_crop_trait_timeseries_spark.session import get_spark

        from perfbench.workloads import WORKLOADS

        t0 = time.perf_counter()
        start = time.time()
        spark = get_spark("perfbench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus, extra_conf=conf)
        session = (start, time.perf_counter() - t0)
        meta = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                "host_probe": host, "spark": spark.version,
                "conf": dict(spark.sparkContext.getConf().getAll())}
        if args.trace:
            metrics, ops, tracer = traced_run(args, spark, session, work)
            trace_dir = os.path.join(out_root, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{tracer.run_id}.json")
            tracer.write(trace_path, meta)
            lines = [f"trace written to {os.path.relpath(trace_path, ROOT)}"]
        else:
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
            ops = wl.setup()
            setup_s = time.perf_counter() - t0
            lines = [f"session_start_s {session[1]:.3f} s",
                     *(f"warm_up {o.get('query', 'job')} {o['seconds']:.3f} s"
                       for o in ops if "seconds" in o)]
            with WorkerRss() as rss:
                recs = measure(wl, args.seconds)
            metrics, summary = summarize(wl, setup_s, recs, rss)
            lines += summary
            ops += recs
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in ops if o.get("error") is not None]
    lines.append(f"host probe {host['m_iter_per_s']:.1f} M iter/s over "
                 f"{host['procs']} processes")
    for o in failed:
        lines.append(f"FAILED {o.get('query') or o.get('check') or 'job'}: {o['error']}")
    missing = [d["name"] for d in declared if d["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    out = {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]} for d in declared}
    for name, v in out.items():
        lines.append(f"{name} {v['value']} {v['unit']}")
    print("\n".join(lines))
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
