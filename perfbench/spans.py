"""Measurement helpers: spans, Spark status counters, /proc readings.

Spans are recorded from the benchmark's side of each layer boundary:
:func:`instrument` wraps the public functions of the engine's
top-level modules so a call into a layer opens a span and its return
closes it. Spans stay in memory and are written out once, at the end
of the run. Nothing here changes what the wrapped functions do.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: str = ""
    children_s: float = field(default=0.0)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    """In-memory span recorder. Each thread keeps its own span stack, so
    spans opened from an engine-side thread pool nest under nothing in
    their thread and do not corrupt the caller's stack. A disabled
    tracer's :meth:`span` costs one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op = ""
        self.overhead_s = 0.0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> int:
        t0 = time.perf_counter()
        stack = self._stack()
        span = Span(name, 0.0, parent=stack[-1] if stack else -1, op=self.op)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        t1 = time.perf_counter()
        span.start = t1
        with self._lock:
            self.overhead_s += t1 - t0
        return idx

    def close(self, idx: int) -> None:
        t0 = time.perf_counter()
        span = self.spans[idx]
        span.end = t0
        stack = self._stack()
        # pop to idx: a span whose body raised is closed with its parent
        while stack and stack[-1] != idx:
            stack.pop()
        if stack:
            stack.pop()
        with self._lock:
            if span.parent >= 0:
                self.spans[span.parent].children_s += span.dur
            self.overhead_s += time.perf_counter() - t0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = s.self_s
                f.write(json.dumps(row) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.idx = -1

    def __enter__(self):
        if self.tracer.enabled:
            self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx >= 0:
            self.tracer.close(self.idx)
        return False


def instrument(tracer: Tracer, package: str, layers: list[str]) -> int:
    """Wrap every public function defined in ``package.<layer>`` (and
    its submodules) so calls open a span named ``<layer>.<function>``.

    Modules that imported a function by name hold their own reference,
    so every loaded module of the package is re-pointed at the wrapper.
    Returns the number of functions wrapped.
    """
    wrapped: dict[int, object] = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package + "."):
            continue
        layer = mod_name[len(package) + 1:].split(".")[0]
        if layer not in layers:
            continue
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod_name or id(fn) in wrapped):
                continue
            wrapped[id(fn)] = _wrap(tracer, f"{layer}.{attr}", fn)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, fn in list(vars(mod).items()):
            w = wrapped.get(id(fn))
            if w is not None and inspect.isfunction(fn):
                setattr(mod, attr, w)
    return len(wrapped)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        idx = tracer.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.close(idx)

    return wrapper


class SparkCounters:
    """Jobs, stages, tasks and bytes of the Spark jobs started since the
    last :meth:`take`, read from the status store over py4j. Jobs are
    found by id, so jobs started from an engine-side thread pool (which
    do not inherit the caller's job group) are counted too."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._last = max((j.jobId() for j in self._jobs()), default=-1)

    def _jobs(self):
        return self._conv.asJava(self._store.jobsList(None))

    def group(self, op: str) -> None:
        """Tag the jobs of one operation with their own job group."""
        self._sc.setJobGroup(op, op)

    def take(self) -> dict[str, float]:
        try:  # the status store is fed asynchronously by the listener bus
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            pass
        new = [j for j in self._jobs() if j.jobId() > self._last]
        self._last = max((j.jobId() for j in new), default=self._last)
        stages: set[int] = set()
        for j in new:
            stages.update(int(s) for s in self._conv.asJava(j.stageIds()))
        out = {"jobs": len(new), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "input_mb": 0.0, "shuffle_write_mb": 0.0,
               "job_busy_s": _union_s(self._interval(j) for j in new)}
        for s in stages:
            try:
                sd = self._store.lastStageAttempt(s)
            except Exception:
                continue  # evicted from the store, or never submitted
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["input_mb"] += sd.inputBytes() / 1e6
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        return out

    @staticmethod
    def _interval(job) -> tuple[int, int] | None:
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            return sub.get().getTime(), done.get().getTime()
        return None


def _union_s(intervals) -> float:
    """Seconds covered by at least one of the (start_ms, end_ms) intervals."""
    total, end = 0, None
    for a, b in sorted(i for i in intervals if i):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants, including the
    reaped children each has waited for (so exited Python workers
    still count through the daemon that forked them)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks since boot, from /proc/stat. On a shared
    virtual machine the stolen share explains most run-to-run spread."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def reset_hwm(pid: int) -> None:
    """Restart the peak-resident-set count (VmHWM) of one process."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_memory_mb(spark) -> dict[str, float]:
    """JVM heap in use after a full collection (the live set) and
    non-heap in use, from the JVM's own memory beans."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {
        "heap_live_mb": bean.getHeapMemoryUsage().getUsed() / 2**20,
        "nonheap_mb": bean.getNonHeapMemoryUsage().getUsed() / 2**20,
    }
