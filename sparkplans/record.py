"""One run record per query execution.

``run(spark, name)`` wraps a block (build a frame, run its action)
and on exit fills the yielded dict with what the block did::

    with record.run(spark, "pagerank") as rec:
        df = build(spark)
        with record.action():
            df.write.format("noop").mode("overwrite").save()
    rec["jobs"], rec["action_s"], rec["notes"]["pagerank"]["path"]

Fields (times in seconds, sizes in bytes):

- ``wall_s``; ``action_s`` (time inside ``action()`` blocks) and
  ``build_s`` (the rest: frame construction and its eager jobs);
- ``jobs``, ``stages``, ``tasks``: every job submitted inside the
  block, its executed (not skipped) stages and their tasks;
  ``job_times`` gives each job's ``id``, ``submit_s`` and
  ``complete_s`` relative to the block's start;
- ``run_s``, ``cpu_s``, ``gc_s``: executor run, CPU and JVM GC time
  summed over those stages (``run_s - cpu_s`` is off-CPU time);
- ``shuffle_read_bytes``, ``shuffle_write_bytes``, ``spill_disk_bytes``;
- ``notes``: what operators report through :func:`note`,
  :func:`tally` and :func:`note_plan` (the pagerank path, the ssjoin
  auto-slice decision, ``observed()`` timeouts, ...).  These are
  no-ops outside a record, at the cost of one ``ContextVar`` lookup.

Jobs are found with a job-id cursor over the application status store
(readable with ``spark.ui.enabled=false``) after draining the listener
bus, so jobs other threads submit inside the block count too.  The
store keeps ``spark.ui.retainedJobs``/``retainedStages`` (default
1000) entries, which bounds one record.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from contextvars import ContextVar

from py4j.protocol import Py4JJavaError

from sparkplans import plans

_active: ContextVar[dict | None] = ContextVar("sparkplans_record", default=None)


def note(key: str, value) -> None:
    """Record ``value`` under ``notes[key]`` of the active record."""
    rec = _active.get()
    if rec is not None:
        rec["notes"][key] = value


def tally(key: str) -> None:
    """Add one to the count ``notes[key]`` of the active record."""
    rec = _active.get()
    if rec is not None:
        rec["notes"][key] = rec["notes"].get(key, 0) + 1


def note_plan(key: str, df) -> None:
    """Note the exchanges and sorts ``df`` executes under ``notes[key]``.

    Cached subtrees are excluded; a plan walk, no job."""
    if _active.get() is not None:
        try:
            note(key, {"exchanges": plans.live_exchanges(df), "sorts": plans.live_sorts(df)})
        except Exception:
            pass


@contextmanager
def action():
    """Count the block's wall time as the active record's action wall."""
    rec = _active.get()
    t0 = time.perf_counter()
    try:
        yield
    finally:
        if rec is not None:
            rec["action_s"] += time.perf_counter() - t0


@contextmanager
def run(spark, name: str):
    """Yield a dict that, on exit, records every job the block ran."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # newest first
    cursor = jobs.apply(0).jobId() if jobs.size() else -1
    rec: dict = {"name": name, "wall_s": 0.0, "build_s": 0.0, "action_s": 0.0, "notes": {}}
    epoch0, t0 = time.time(), time.perf_counter()
    token = _active.set(rec)
    try:
        yield rec
    finally:
        _active.reset(token)
        rec["wall_s"] = time.perf_counter() - t0
        rec["build_s"] = rec["wall_s"] - rec["action_s"]
    jsc.listenerBus().waitUntilEmpty()
    rec.update(_jobs_since(jsc.statusStore(), cursor, epoch0))


def summary(rec: dict) -> str:
    """The record's scalar fields and notes on one line."""
    parts = [
        f"{k}={round(v, 3) if isinstance(v, float) else v}"
        for k, v in rec.items()
        if isinstance(v, (int, float))
    ]
    if rec["notes"]:
        parts.append(f"notes={rec['notes']}")
    return f"record {rec['name']}: " + ", ".join(parts)


def _jobs_since(store, cursor: int, epoch0: float) -> dict:
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "job_times": [],
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_disk_bytes": 0,
    }

    def rel(opt_date):
        return opt_date.get().getTime() / 1e3 - epoch0 if opt_date.isDefined() else None

    seen: set[int] = set()
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        job_id = j.jobId()
        if job_id <= cursor:
            break
        out["jobs"] += 1
        out["job_times"].append(
            {"id": job_id, "submit_s": rel(j.submissionTime()),
             "complete_s": rel(j.completionTime())}
        )
        it = j.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            seen.add(sid)
            try:
                s = store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
            except Py4JJavaError:  # evicted: a reused stage of an older job
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_disk_bytes"] += s.diskBytesSpilled()
    out["job_times"].reverse()
    return out
