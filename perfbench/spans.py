"""Spans around calls into the engine's layers, with Spark's own counters.

A span records name, start, end, parent and run id. While it is open it
is the Spark job group of the calling thread, so ``statusTracker`` can
attribute jobs, stages and tasks to it. After ``enable_sql_metrics``, a
``QueryExecutionListener`` (a py4j callback) hands over every query
execution that finishes while the span is open, and the span sums the
SQL metrics of each executed plan's nodes. Spans stay in memory and are
written as one JSON file by ``Tracer.write``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

PYTHON_METRICS = ("pythonTotalTime", "pythonInitTime", "pythonBootTime",
                  "pythonDataSent", "pythonDataReceived",
                  "pythonNumRowsReceived")
SQL_KEYS = ("nodes", "python_nodes", "single_partition_ops",
            "shuffle_bytes_written", "shuffle_records_written", "spill_bytes",
            "scan_bytes", "rows_out", *PYTHON_METRICS)


def _scala_map(m) -> dict:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _children(plan) -> list:
    """Physical children, looking through AQE wrappers and query stages."""
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids.append(plan.executedPlan())
    elif cls.endswith("QueryStageExec"):
        kids.append(plan.plan())
    return kids


def _single_partition(plan, cls: str) -> bool:
    """An Exchange to one partition, or a Window with no partition spec."""
    if cls == "ShuffleExchangeExec":
        return plan.outputPartitioning().toString() == "SinglePartition"
    if cls.startswith("Window"):
        return plan.partitionSpec().isEmpty()
    return False


def plan_metrics(plan) -> dict:
    """Sum SQL metrics over every node of an executed plan."""
    acc = dict.fromkeys(SQL_KEYS, 0)
    top = True
    stack = [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        vals = {k: int(v.value()) for k, v in _scala_map(p.metrics()).items()}
        acc["nodes"] += 1
        acc["single_partition_ops"] += _single_partition(p, cls)
        if "pythonTotalTime" in vals:
            acc["python_nodes"] += 1
        for k in PYTHON_METRICS:
            acc[k] += vals.get(k, 0)
        acc["shuffle_bytes_written"] += vals.get("shuffleBytesWritten", 0)
        acc["shuffle_records_written"] += vals.get("shuffleRecordsWritten", 0)
        acc["spill_bytes"] += vals.get("spillSize", 0)
        acc["scan_bytes"] += vals.get("filesSize", 0)
        if top and "numOutputRows" in vals:
            acc["rows_out"] = vals["numOutputRows"]
            top = False
        if cls != "ReusedExchangeExec":  # its target is counted where it ran
            stack.extend(reversed(_children(p)))
    return acc


class _ExecutionListener:
    """py4j implementation of Spark's ``QueryExecutionListener``."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.events: list[tuple[str, object, int | None]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        with self.lock:
            self.events.append((func_name, qe, int(duration_ns)))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        with self.lock:
            self.events.append((func_name, qe, None))

    def drain(self) -> list:
        with self.lock:
            out, self.events = self.events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Collects spans for one run. Not shared between threads."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._listener = None

    def enable_sql_metrics(self) -> None:
        """From now on, attach the SQL metrics of executed plans to spans."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _ExecutionListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def disable_sql_metrics(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        self._listener = None

    def record(self, name: str, start: float, seconds: float) -> None:
        """Add a span for work timed before the tracer existed."""
        self.spans.append({"id": next(self._ids), "name": name,
                           "run_id": self.run_id, "parent": None, "start": start,
                           "end": start + seconds, "seconds": seconds})

    def _wait_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        """Open a span, nested in the open one if any; yields its record,
        finished (and counted) on exit. Jobs count toward the innermost
        open span."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None}
        group = f"{self.run_id}/{rec['id']}"
        if self._listener is not None:
            self._wait_listeners()
            if parent is not None:
                parent.setdefault("_events", []).extend(self._listener.drain())
            else:
                self._listener.drain()
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"])
            else:
                self.sc.setJobGroup(f"{self.run_id}/-", "outside spans")
            rec.update(self._job_counts(group))
            if self._listener is not None:
                self._wait_listeners()
                self._add_sql(rec, rec.pop("_events", []) + self._listener.drain())
            self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        st = self.sc._jsc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages, tasks = set(), 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds() if info is not None else []):
                sinfo = st.getStageInfo(s)
                if sinfo is not None and s not in stages:
                    stages.add(s)
                    tasks += sinfo.numTasks()
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def _add_sql(self, rec: dict, events: list) -> None:
        execs = []
        for func_name, qe, duration_ns in events:
            m = plan_metrics(qe.executedPlan())
            m["action"] = func_name
            m["seconds"] = None if duration_ns is None else duration_ns / 1e9
            execs.append(m)
        rec["executions"] = execs
        rec["sql"] = {k: sum(e[k] for e in execs) for k in SQL_KEYS}

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "meta": meta,
                       "spans": self.spans}, f, indent=1, default=str)
