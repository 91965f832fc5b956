"""Seeded closed-loop benchmark of sparkplans.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 10 --trace 0

One process is the single client: it submits one op at a time to a
``local[<cores>]`` session over generated tables, first one cold pass
(each op's output is checked right after its timed section), then warm
passes until they have taken ``--seconds`` (at least two).  ``setup_s``
runs from process start to a built and warm session.  After every op,
outside its timed section, the Spark listener bus is drained and the
op's jobs are read from the status store, traced or not.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones, from spans and the Spark status store.
Each run writes its full per-op record (and, traced, its spans) to
``perfbench/runs/<run id>.json``.  The last stdout line is the result.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402  (starts the process clock)
import inputs  # noqa: E402
from spans import Tracer, now  # noqa: E402
from workloads import SF, WORKLOADS, Ctx  # noqa: E402

MIN_WARM = 2  # one warm pass of a Python-stage workload spreads ~16% run to run
# A fixed, pre-touched driver heap, so peak RSS moves with off-heap and
# Python-worker memory rather than with when G1 grows the heap.  Over
# seeds at sf0.01, a heap free to grow spread peak RSS 23% (IQR/median)
# on olap_sql with a 2g ceiling, and ranged 3.4-4.6 GB with the session's
# 8g default.  Cached blocks are reported as exec.storage_mem_bytes.
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> dict:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and make the repository importable in every worker."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(cores()),
        PYTHONPATH=path,
        PYSPARK_PYTHON=sys.executable,
    )
    tempfile.tempdir = None
    return {
        "spark.executorEnv.PYTHONPATH": path,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                                         f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def build(conf: dict, tracer: Tracer, wl, sf_dir: str):
    from sparkplans.session import EngineOptions, build_session
    from sparkplans.sources import load_table

    with tracer.span("session", "session.build"):
        t = time.perf_counter()
        spark = build_session(
            EngineOptions(target_partitions=cores(), extra_conf=conf),
            app_name="perfbench", master=f"local[{cores()}]",
        )
        spark.sparkContext.setLogLevel("ERROR")
        build_s = time.perf_counter() - t
    with tracer.span("sources", "session.warmup"):
        t = time.perf_counter()
        frames = [load_table(spark, sf_dir, name) for name in wl.tables]  # footers
        frames[0].limit(1).collect()  # first job
        warm_s = time.perf_counter() - t
    return spark, build_s, warm_s


def instrument_program(tracer: Tracer) -> None:
    """Span the materialize and operators layers, which queries call
    from inside frame construction.  Done before sparkplans.queries is
    imported, so its ``from ... import`` bindings get the wrappers."""
    import sparkplans.materialize
    import sparkplans.operators

    spans.instrument(sparkplans.materialize, "materialize", tracer)
    for m in pkgutil.iter_modules(sparkplans.operators.__path__):
        mod = importlib.import_module(f"sparkplans.operators.{m.name}")
        spans.instrument(mod, "operators", tracer)


def run_op(ctx, op, op_id: int, pass_no: int, check: bool, stages: spans.SparkStages) -> dict:
    ctx.tracer.op, ctx.notes = op_id, {}
    rec = {"id": op_id, "pass": pass_no, "name": op.name, "ok": True}
    cpu0 = spans.cpu_times()
    start = now()
    try:
        with ctx.span("op", op.name):
            out = op.run(ctx)
    except Exception as e:  # an op that raises is counted, the run goes on
        out = None
        rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:2000], traceback=traceback.format_exc()[-4000:])
    end = now()
    rec.update(start=start, end=end, wall_s=end - start, **spans.contention(cpu0, spans.cpu_times()), **ctx.notes)
    rec["jobs"] = stages.new_jobs()
    rec["persisted_rdds"] = stages.persisted_rdds()
    rec["storage_mem_bytes"] = stages.storage_mem_bytes()
    st = [s for j in rec["jobs"] for s in j["stages"]]
    run_s = sum(s["run_s"] for s in st)
    rec["offcpu_ratio"] = (run_s - sum(s["cpu_s"] for s in st)) / run_s if run_s else 0.0
    if check and op.expect is not None:
        try:
            got = None if out is None else inputs.spark_signature(out)
        except Exception as e:
            got = f"{type(e).__name__}: {e}"[:500]
        rec["check"] = {"ok": got == op.expect, "got": got, "want": op.expect}
        rec["ok"] = rec["ok"] and got == op.expect
        stages.new_jobs()  # the check's own jobs belong to no op
    return rec


def measure(spark, wl, sf: str, sf_dir: str, work: str, seed: int, seconds: float, tracer: Tracer) -> dict:
    """The cold pass, then warm passes until they have taken ``seconds``
    (at least ``MIN_WARM``)."""
    ctx = Ctx(spark, sf_dir, work, tracer)
    stages = spans.SparkStages(spark)
    state = wl.prepare(ctx, seed, sf)
    passes, ops, checks = [], [], []
    cpu0, t0 = spans.cpu_times(), time.perf_counter()
    while True:
        p = len(passes)
        recs = [run_op(ctx, op, len(ops) + i, p, p == 0, stages)
                for i, op in enumerate(wl.ops(ctx, state, p))]
        ops += recs
        passes.append({"pass": p, "wall_s": sum(r["wall_s"] for r in recs), "ops": [r["id"] for r in recs],
                       "cpu_probe_s": spans.cpu_probe()})
        if p == 0:
            checks = [r["check"] for r in recs if "check" in r]
            final = wl.final_check(ctx, state)
            if final is not None:
                checks.append(final)
                stages.new_jobs()
            warm0 = time.perf_counter()
        if len(passes) > MIN_WARM and time.perf_counter() - warm0 >= seconds:
            break
    return {"passes": passes, "ops": ops, "checks": checks,
            "window_s": time.perf_counter() - t0, **spans.contention(cpu0, spans.cpu_times())}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec: dict) -> dict:
    ops, passes = rec["ops"], rec["passes"]
    warm = passes[1:]
    warm_ops = [o for o in ops if o["pass"] > 0]
    failed = sum(not o["ok"] for o in ops)
    return {
        "setup_s": (rec["setup"]["setup_s"], "s", 1),
        "cold_pass_s": (passes[0]["wall_s"], "s", 1),
        "warm_pass_s": (_median([p["wall_s"] for p in warm]), "s", len(warm)),
        "op_p50_s": (_median([o["wall_s"] for o in warm_ops]), "s", len(warm_ops)),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024, "MB", len(rec["rss_kb"])),
        "ops_ok_frac": (1 - failed / len(ops), "ratio", len(ops)),
    }


LAYER_SPANS = {
    "queries.build_s": "queries.build", "action.wall_s": "action.noop", "plans.audit_s": "plans.audit",
    "table.append_s": "table.append", "table.merge_s": "table.merge", "table.delete_s": "table.delete",
    "table.compact_s": "table.compact", "table.vacuum_s": "table.vacuum",
    "table.read_pruned_s": "table.read_pruned", "sinks.write_sorted_s": "sinks.write_sorted",
    "catalog.read_range_s": "engine.read_range",
}
STAGE_SUMS = {
    "exec.cpu_s": "cpu_s", "exec.run_s": "run_s", "exec.gc_s": "gc_s",
    "shuffle.write_bytes": "shuffle_write_bytes", "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.fetch_wait_s": "fetch_wait_s", "spill.disk_bytes": "spill_disk_bytes", "input.bytes": "input_bytes",
}
SELF_LAYERS = ("op", "queries", "operators", "materialize", "plans", "action", "sources", "table", "sinks", "engine")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _pass_layers(rec: dict, tracer: Tracer, pass_rec: dict) -> dict:
    ids = set(pass_rec["ops"])
    ops = [o for o in rec["ops"] if o["id"] in ids]
    sp = [s for s in tracer.spans if s["op"] in ids]
    m = {k: sum(s["end"] - s["start"] for s in sp if s["name"] == name) for k, name in LAYER_SPANS.items()}
    within = {layer: [(s["start"], s["end"]) for s in sp if s["layer"] == layer] for layer in ("queries", "action")}

    def in_layer(t, layer):
        return t is not None and any(a <= t <= b for a, b in within[layer])

    jobs = [j for o in ops for j in o.get("jobs", [])]
    stages = [s for j in jobs for s in j["stages"]]
    action_jobs = [j for j in jobs if in_layer(j["submitted"], "action")]
    m.update({k: sum(s[f] for s in stages) for k, f in STAGE_SUMS.items()})
    m.update({
        "queries.build_jobs": sum(in_layer(j["submitted"], "queries") for j in jobs),
        "action.jobs": len(action_jobs),
        "action.stages": sum(len(j["stages"]) for j in action_jobs),
        "action.tasks": sum(s["tasks"] for j in action_jobs for s in j["stages"]),
        "exec.offcpu_s": m["exec.run_s"] - m["exec.cpu_s"],
        "exec.offcpu_ratio": (m["exec.run_s"] - m["exec.cpu_s"]) / m["exec.run_s"] if m["exec.run_s"] else 0.0,
        "exec.peak_mem_bytes": max((s["peak_mem_bytes"] for s in stages), default=0),
        "materialize.persisted_rdds_after_op": max((o.get("persisted_rdds", 0) for o in ops), default=0),
        "exec.storage_mem_bytes": max((o.get("storage_mem_bytes", 0) for o in ops), default=0),
        "driver.gap_s": sum(
            o["wall_s"] - _covered([(s["start"], s["end"]) for j in o.get("jobs", []) for s in j["stages"]
                                    if s["start"] is not None and s["end"] is not None], o["start"], o["end"])
            for o in ops),
        "plans.exchanges": sum(o.get("exchanges", 0) for o in ops),
        "plans.broadcasts": sum(o.get("broadcasts", 0) for o in ops),
        "plans.sorts": sum(o.get("sorts", 0) for o in ops),
        "table.bytes_written": sum(o.get("bytes_written", 0) for o in ops),
        "table.live_bytes": sum(o.get("live_bytes", 0) for o in ops),
        "table.versions": max((o.get("versions", 0) for o in ops), default=0),
    })
    ratios = [o["files_kept_ratio"] for o in ops if "files_kept_ratio" in o]
    m["table.files_kept_ratio"] = statistics.mean(ratios) if ratios else 0.0
    own = tracer.self_times(ids)
    m.update({f"self.{layer}_s": own.get(layer, 0.0) for layer in SELF_LAYERS})
    return m


def per_layer(rec: dict, tracer: Tracer) -> dict:
    """Per-layer metrics: per-pass sums, median over the warm passes."""
    per_pass = [_pass_layers(rec, tracer, p) for p in rec["passes"][1:]]
    out = {k: (_median([m[k] for m in per_pass]), _unit(k), len(per_pass)) for k in per_pass[0]}
    out["session.build_s"] = (rec["setup"]["build_s"], "s", 1)
    out["session.warmup_s"] = (rec["setup"]["warmup_s"], "s", 1)
    out["host.steal_frac"] = (rec["steal_frac"], "ratio", 1)
    out["host.iowait_frac"] = (rec["iowait_frac"], "ratio", 1)
    out["host.cpu_probe_s"] = (_median([p["cpu_probe_s"] for p in rec["passes"]]), "s", len(rec["passes"]))
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "ratio" if name.endswith(("ratio", "_frac")) else "count"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkplans", "__init__.py")):
        print(f"perfbench: no sparkplans package at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    conf = isolate(work)
    tracer = Tracer(bool(args.trace))
    gen0 = now()
    sf_dir = inputs.ensure_data(SF, env=dict(os.environ))
    gen_s = now() - gen0
    if tracer.enabled:
        instrument_program(tracer)
    sampler = spans.RssSampler()
    sampler.start()
    spark = None
    try:
        spark, build_s, warm_s = build(conf, tracer, wl, sf_dir)
        sampler.pid = spark.sparkContext._gateway.proc.pid
        # from process start, less the one-off table generation of a fresh checkout
        setup = {"setup_s": spans.since_process_start() - gen_s, "build_s": build_s, "warmup_s": warm_s}
        rec = measure(spark, wl, SF, sf_dir, work, args.seed, args.seconds, tracer)
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    rec.update(run_id=run_id, workload=wl.name, seed=args.seed, seconds=args.seconds, trace=args.trace,
               sf=SF, cores=cores(), setup=setup, datagen_s=gen_s,
               peak_rss_kb=sampler.peak_kb, rss_kb=sampler.samples)
    metrics = per_layer(rec, tracer) if tracer.enabled else end_to_end(rec)
    failed = sum(not o["ok"] for o in rec["ops"])
    correct = bool(rec["checks"]) and all(c["ok"] for c in rec["checks"])
    rec["metrics"] = {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in metrics.items()}
    rec["ops_failed_frac"] = failed / len(rec["ops"])
    if tracer.enabled:
        rec["spans"] = tracer.spans
    os.makedirs(os.path.join(HERE, "runs"), exist_ok=True)
    with open(os.path.join(HERE, "runs", f"{run_id}.json"), "w") as f:
        json.dump(rec, f, default=str)
    for k, (v, u, n) in metrics.items():
        print(f"{k:40s} {v:14.6g} {u:6s} n={n}")
    print(f"{'ops_failed_frac':40s} {rec['ops_failed_frac']:14.6g} {'ratio':6s} n={len(rec['ops'])}")
    print(f"run record: perfbench/runs/{run_id}.json")
    print(json.dumps({
        "correct": correct, "attempted": len(rec["ops"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
