"""Measurement probes: host steal, process-tree CPU and RSS, JVM live
heap, Spark event-log totals and in-memory spans.

Process accounting reads /proc. The Python driver launches the JVM; the
JVM forks the PySpark daemon and its workers. Workers are found by
walking every thread's ``children`` list under /proc/<pid>/task/, since
the daemon is not always a child of the JVM's main thread.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:  # thread exited between glob and open
            continue
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.append(p)
            todo.extend(_children(p))
    return seen


def _proc_cpu_s(pid: int) -> float:
    """utime+stime plus reaped children's cutime+cstime, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(x) for x in fields[11:15]) / _TICK


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcessTree:
    """CPU seconds and peak RSS of the driver, the JVM and the Python
    workers under the JVM."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return {
            "driver": ru.ru_utime + ru.ru_stime,
            "jvm": _proc_cpu_s(self.jvm_pid),
            "pyworkers": sum(_proc_cpu_s(p) for p in descendants(self.jvm_pid)),
        }

    def peak_rss_mb(self) -> dict[str, float]:
        return {
            "driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm": _peak_rss_mb(self.jvm_pid),
            "pyworkers": sum(_peak_rss_mb(p) for p in descendants(self.jvm_pid)),
        }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def heap_live_mb(spark, tries: int = 40) -> float:
    """JVM heap in use after full GCs, repeated every 0.25 s until eight
    consecutive readings (2 s) agree within 0.5 MB. Python's collector
    runs first: JVM objects stay reachable while their py4j proxies
    live. Even then a few hundred MB can stay live for about a second
    after the first GCs (Spark's ContextCleaner frees broadcasts and
    shuffles asynchronously), so a short plateau is not the answer."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(tries):
        jvm.java.lang.System.gc()
        time.sleep(0.25)
        readings.append(bean.getHeapMemoryUsage().getUsed() / (1 << 20))
        last = readings[-8:]
        if len(last) == 8 and max(last) - min(last) < 0.5:
            break
    return readings[-1]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def event_log_totals(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Totals over jobs submitted and tasks finished inside [t0, t1]
    (epoch ms), read with stdlib json from uncompressed event logs."""
    tot = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "executor_cpu_s": 0.0,
           "gc_s": 0.0, "python_bytes": 0}
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                        tot["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not t0_ms <= info.get("Finish Time", 0) <= t1_ms:
                        continue
                    tot["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    tot["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in _PY_METRICS:
                            tot["python_bytes"] += int(acc.get("Update", 0) or 0)
    return tot


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op). Disabled tracers
    record nothing; ``span`` still returns a usable context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()  # the stream's callback thread adds too

    def span(self, name: str, op: int | None = None):
        return _Span(self, name, op)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s is not None and s["name"] == name]

    def add(self, name: str, start: float, end: float, op: int | None,
            parent: int | None = None) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append({"id": len(self.spans), "name": name,
                                   "start": start, "end": end,
                                   "parent": parent, "op": op})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: int | None):
        self.t, self.name, self.op = tracer, name, op

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.enabled:
            self.parent = self.t._stack[-1] if self.t._stack else None
            with self.t._lock:
                self.id = len(self.t.spans)
                self.t.spans.append(None)  # reserve the id for children
            self.t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.t.enabled:
            self.t._stack.pop()
            self.t.spans[self.id] = {"id": self.id, "name": self.name,
                                     "start": self.start, "end": self.end,
                                     "parent": self.parent, "op": self.op}
        return False
