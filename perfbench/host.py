"""Host facts recorded with every run: a CPU probe sized to the cores the
process may use, and the peak RSS of Spark's Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

PROBE_SECONDS = 0.5


def usable_cpus() -> int:
    """Cores this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


# Sleeps until the given wall-clock start, spins for the given seconds,
# prints its loop count: one copy per core, all spinning at once.
_BURN = """
import sys, time
start, seconds = float(sys.argv[1]), float(sys.argv[2])
time.sleep(max(start - time.time(), 0.0))
end, n = time.perf_counter() + seconds, 0
while time.perf_counter() < end:
    n += 1
print(n)
"""


def probe_host(procs: int) -> dict:
    """Millions of loop iterations per second, summed over ``procs``
    processes that spin at once. Run metadata, not a gated metric: it lets
    a reader tell a slow host window from a slow program. Errors raise."""
    start = time.time() + 0.5  # after every interpreter has started
    burners = [subprocess.Popen([sys.executable, "-c", _BURN, str(start),
                                 str(PROBE_SECONDS)], stdout=subprocess.PIPE,
                                text=True) for _ in range(procs)]
    counts = []
    for p in burners:
        out, _ = p.communicate(timeout=60)
        if p.returncode != 0:
            raise RuntimeError(f"host probe process exited {p.returncode}")
        counts.append(int(out))
    return {"procs": procs, "seconds": PROBE_SECONDS,
            "m_iter_per_s": sum(counts) / PROBE_SECONDS / 1e6}


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _python_rss_mb(pid: int) -> float:
    """RSS of ``pid`` if it is a Python worker (forked by
    ``pyspark.daemon``, whose command line it keeps), else 0."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            if b"pyspark.daemon" not in f.read():
                return 0.0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass  # the worker exited between listing and reading
    return 0.0


class WorkerRss:
    """Samples the largest RSS of any Spark Python worker below this
    process, every ``interval`` seconds while started."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = [_python_rss_mb(p) for p in _descendants(me)]
            self.peak_mb = max([self.peak_mb, *rss])
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "WorkerRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
