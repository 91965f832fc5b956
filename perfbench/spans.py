"""Measurement plumbing: spans, Spark stage metrics, /proc samplers.

Spans are kept in memory and written with the run record.  Each span
has a name, a layer, start and end (seconds since process start), the
id of its parent span and the id of the op it belongs to.  A layer's
self time is its spans' durations minus the time their child spans
cover.  With tracing off every span call is a no-op.
"""

from __future__ import annotations

import functools
import inspect
import os
import threading
import time
from contextlib import contextmanager, nullcontext

T0 = time.perf_counter()
EPOCH0 = time.time() - (time.perf_counter() - T0)  # epoch of T0


def now() -> float:
    return time.perf_counter() - T0


def _age_at_t0() -> float:
    """Seconds from the start of this process to T0, from /proc (clock
    ticks, 10 ms)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return max(0.0, up - start / os.sysconf("SC_CLK_TCK") - (time.perf_counter() - T0))


AGE_AT_T0 = _age_at_t0()


def since_process_start() -> float:
    return AGE_AT_T0 + now()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []

    def span(self, layer: str, name: str):
        return self._span(layer, name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, layer: str, name: str):
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op, "start": now(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Self time per layer over the spans of the given ops."""
        spans = [s for s in self.spans if s["op"] in op_ids]
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out


def instrument(module, layer: str, tracer: Tracer) -> int:
    """Wrap the module's public functions in spans of ``layer``.

    The wrapper keeps the wrapped function's module and qualified name,
    so cloudpickle still ships it to Python workers by reference, and
    workers run the plain function."""
    n = 0
    for name, fn in list(vars(module).items()):
        if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != module.__name__:
            continue

        def wrapper(*a, __fn=fn, __name=f"{layer}.{name}", **kw):
            with tracer.span(layer, __name):
                return __fn(*a, **kw)

        setattr(module, name, functools.wraps(fn)(wrapper))
        n += 1
    return n


# -- Spark executor layer, read from the status store -------------------


class SparkStages:
    """Per-op job/stage metrics from the application status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.last_job = self._max_job()

    def _max_job(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def storage_mem_bytes(self) -> int:
        """Storage memory held by cached and persisted RDD blocks."""
        return sum(info.memSize() for info in self.sc._jsc.sc().getRDDStorageInfo())

    def new_jobs(self) -> list[dict]:
        """Jobs (with their executed stages) submitted since the last call."""
        self.bus.waitUntilEmpty()
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                continue
            sub = j.submissionTime()
            rec = {"job": j.jobId(), "submitted": sub.get().getTime() / 1e3 - EPOCH0 if sub.isDefined() else None,
                   "stages": []}
            it = j.stageIds().iterator()
            while it.hasNext():
                s = self.store.lastStageAttempt(it.next())
                if s.status().toString() == "SKIPPED":
                    continue
                st, ct = s.submissionTime(), s.completionTime()
                rec["stages"].append({
                    "stage": s.stageId(), "tasks": s.numTasks(),
                    "start": st.get().getTime() / 1e3 - EPOCH0 if st.isDefined() else None,
                    "end": ct.get().getTime() / 1e3 - EPOCH0 if ct.isDefined() else None,
                    "run_s": s.executorRunTime() / 1e3, "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3, "peak_mem_bytes": s.peakExecutionMemory(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(), "shuffle_read_bytes": s.shuffleReadBytes(),
                    "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3, "spill_disk_bytes": s.diskBytesSpilled(),
                    "input_bytes": s.inputBytes(),
                })
            out.append(rec)
        self.last_job = max([self.last_job] + [r["job"] for r in out])
        return sorted(out, key=lambda r: r["job"])


# -- host ---------------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_probe() -> float:
    """Seconds a fixed pure-Python loop takes: a reference for the speed
    of one host core.  Steal time does not show every slowdown of a
    shared host; this does."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def contention(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"steal_frac": d[7] / total, "iowait_frac": d[4] / total}


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes sharing them, so a child forked from the JVM or the Python
    worker daemon is not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [root], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


class RssSampler(threading.Thread):
    """Peak resident memory (summed PSS) of a process tree, the driver JVM
    and the Python workers it forks, sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.pid: int | None = None
        self.peak_kb = 0
        self.samples: list[tuple[float, int]] = []  # (seconds since start, kB)
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            if self.pid is not None:
                kb = sum(_pss_kb(p) for p in _descendants(self.pid))
                self.samples.append((now(), kb))
                self.peak_kb = max(self.peak_kb, kb)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)
