"""Host-side measurement helpers: run settings, host drift, process-tree
RSS, and the in-memory span recorder used by traced runs.

Everything here reads ``/proc`` directly (psutil is not a dependency of
the engine), so it works on Linux only.
"""

from __future__ import annotations

import json
import os
import platform
import threading
import time
from contextlib import contextmanager


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


def host_sample() -> dict:
    """Load average and cumulative CPU ticks at one instant."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    total, steal = _cpu_ticks()
    return {"loadavg": load, "cpu_ticks": total, "steal_ticks": steal}


def host_drift(start: dict, end: dict) -> dict:
    """Load averages at both ends and the CPU steal share between them, so
    runs disturbed by other tenants on the host can be picked out."""
    dt = end["cpu_ticks"] - start["cpu_ticks"]
    steal = end["steal_ticks"] - start["steal_ticks"]
    return {
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "steal_pct": round(100.0 * steal / dt, 3) if dt > 0 else 0.0,
    }


def _mem_kb(pid: int, comm: str) -> int:
    """Proportional set size of one process, so pages that forked Python
    workers share are counted once. The JVM's memory is private, so its
    VmRSS is used instead: reading its smaps would walk gigabytes of page
    tables under the JVM's mmap lock on every sample."""
    path, key = (("status", "VmRSS:") if comm == "java" else ("smaps_rollup", "Pss:"))
    with open(f"/proc/{pid}/{path}") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def _tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants: the driver
    Python, the JVM it launched, and the Python workers the JVM forks."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue  # exited while we were walking /proc
        pid = int(name)
        comm[pid] = head.split("(", 1)[1]
        parent[pid] = int(tail.split()[1])
    total = 0
    for pid in parent:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            try:
                total += _mem_kb(pid, comm[pid])
            except (FileNotFoundError, ProcessLookupError, PermissionError):
                continue
    return total


class RssSampler:
    """Peak RSS of this process tree, sampled every ``interval`` seconds on
    a daemon thread between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def run_settings(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", None),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "cpus": cpu_count(),
        "python": platform.python_version(),
        "spark": spark.version,
    }


class Tracer:
    """In-memory spans (name, start, end, parent); written out once, at the
    end of the run. Start/end are seconds since the tracer was created."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0, "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
