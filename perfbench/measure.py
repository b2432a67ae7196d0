"""Measurement helpers that sit outside the program.

- ``Tracer``: in-memory spans (name, start, end, parent) with self time.
- ``wrap``: replace a module attribute with a span-recording wrapper,
  so calls the program makes through that module are traced without
  editing the program.
- ``ProcTree``: CPU seconds and peak resident memory of this process
  and all its descendants (the Spark JVM and its Python workers), read
  from ``/proc``.
- ``spark_history``: every job and stage Spark's in-process status
  store holds, fetched in one JVM call each.
- ``host_calibration_s`` / ``host_cpu_pressure``: code-independent
  readings that show when a run was taken under host contention.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans kept in memory, on one stack: the benchmark is a single
    closed-loop client, so spans nest in call order."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part covered by its direct children."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - covered.get(s["id"], 0.0) for s in self.spans}


def wrap(tracer: Tracer, module, attr: str, span_name: str) -> None:
    """Trace every later call to ``module.attr``. The program imports
    these functions function-locally or calls them as module globals,
    so the patched attribute is what it reaches at call time."""
    orig = getattr(module, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    setattr(module, attr, traced)


# --------------------------------------------------------------------------
# /proc process tree
# --------------------------------------------------------------------------
def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / _CLK_TCK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """CPU and memory of the process tree rooted at this process.

    ``cpu_s()`` sums user+system time (live processes plus children they
    have reaped, e.g. finished Python workers). ``start()`` runs a
    sampler thread that keeps the peak of the summed resident set."""

    def __init__(self, root: int | None = None, interval: float = 0.2) -> None:
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    parent[int(name)] = st[0]
        kids: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu_s(self) -> float:
        return sum(st[1] for st in map(_stat, self.pids()) if st is not None)

    def rss_kb(self) -> int:
        return sum(_rss_kb(p) for p in self.pids())

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_kb = max(self.peak_kb, self.rss_kb())

    def start(self) -> None:
        self.peak_kb = self.rss_kb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_kb = max(self.peak_kb, self.rss_kb())


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------
# Raise the status store's retention so per-operation counts never read
# evicted jobs (the default keeps 1,000 jobs; one pass of the bench.py
# fleet alone runs more).
RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def spark_history(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts the status store holds, as dicts.

    Serialised to JSON inside the JVM (Jackson with the Scala module,
    as Spark's REST API does) so the cost is two gateway calls, not one
    per field. Dates come back as epoch milliseconds."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        )
    )
    return jobs, stages


def host_calibration_s(reps: int = 3) -> float:
    """Median time of a fixed pure-Python loop: moves with host CPU
    contention, never with the program under test."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


def host_cpu_pressure() -> float:
    """``some avg10`` of /proc/pressure/cpu, as a fraction (0 if absent)."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    kv = dict(p.split("=") for p in line.split()[1:])
                    return float(kv["avg10"]) / 100.0
    except OSError:
        pass
    return 0.0


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return total, files
