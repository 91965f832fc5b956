#!/usr/bin/env python
"""Measure PageRank's BROADCAST vs SHUFFLE path on the same graph::

    python examples/pagerank_path_probe.py [sf_dir] [--paths both|broadcast|shuffle] [--parity]

The operator auto-routes on |V| vs ``spark.sparkplans.
pagerankBroadcastNodes`` (default 8M): below it, ranks broadcast into
the dst-partitioned edges with ZERO exchanges per iteration; above
it, each iteration shuffles the |V|-row ranks side plus the one
corpus groupBy(dst) exchange (operators/graph.py:57-75).  The
broadcast path has measured rungs to sf30; this harness measures the
shuffle path on the SAME data by forcing ``pagerankBroadcastNodes=0``
— the configuration that IS the plan at 100x scale (sf100-class
graphs run ~20M nodes, past any sane broadcast ceiling), previously
exercised only by the toy-scale parity test.

Per path it reports the run record (``sparkplans.record``): build vs
action wall, scheduler jobs with each job's submit/complete time (the
per-iteration jobs are the ones that multiply at scale), executor
run vs CPU time (their gap shows a noisy-neighbor burst instead of
silently inflating a path), and the operator's own note (path taken,
|V|, one iteration's live exchanges).  ``--parity``
additionally joins the two paths' ranks and asserts max |Δ| <= 1e-9
(route choice is a physical-plan decision; the fixed point must not
move).  Prints one JSON line for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    parity = "--parity" in sys.argv
    paths = "both"
    if "--paths" in sys.argv:
        paths = sys.argv[sys.argv.index("--paths") + 1]

    from sparkplans import record
    from sparkplans.session import EngineOptions, build_session
    import sparkplans.queries as Q

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = build_session(
        EngineOptions(
            target_partitions=cpus,
            extra_conf={
                "spark.driver.memory": os.environ.get(
                    "SPARK_GRAFT_DRIVER_MEM", "24g"
                ),
                # big-SF checkpoint stages can stall the (single) local
                # JVM >120 s in one GC/unroll storm; at the default
                # heartbeat timeout the HeartbeatReceiver then expires
                # the local executor and the context unravels mid-leg
                # (observed at sf30: 139 s stall -> expiry -> wedged
                # scheduler).  Same dial a real cluster sets for
                # heavy-GC executors.
                "spark.network.timeout": "600s",
                "spark.executor.heartbeatInterval": "20s",
            },
        ),
        app_name="pagerank-path-probe",
        master=f"local[{cpus}]",
    )
    fn = Q.REGISTRY["pagerank_copurchase"].fn
    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "paths": {}}
    results: dict = {}

    for leg in ["broadcast", "shuffle"] if paths == "both" else [paths]:
        if leg == "shuffle":
            spark.conf.set("spark.sparkplans.pagerankBroadcastNodes", "0")
        else:
            spark.conf.unset("spark.sparkplans.pagerankBroadcastNodes")
        with record.run(spark, f"pagerank_{leg}") as rec:
            df = fn(spark, sf_dir)
            with record.action():
                df.write.format("noop").mode("overwrite").save()
        out["paths"][leg] = rec
        if parity:
            results[leg] = df
        print(f"# {leg}: {record.summary(rec)}", file=sys.stderr)

    if parity and len(results) == 2:
        from pyspark.sql import functions as F

        a, b = results["broadcast"].alias("a"), results["shuffle"].alias("b")
        row = (
            a.join(b, F.col("a.node") == F.col("b.node"), "full")
            .agg(
                F.coalesce(F.max(F.abs(F.col("a.rank") - F.col("b.rank"))), F.lit(0.0)),
                F.count(F.when(F.col("a.node").isNull() | F.col("b.node").isNull(), 1)),
            )
            .collect()[0]
        )
        # an empty graph has no max: coalesced to 0.0 above
        out["parity"] = {"max_abs_diff": float(row[0]), "unmatched_nodes": int(row[1])}

    print(json.dumps(out))
    spark.stop()
    # SystemExit, not assert, so the gates survive python -O
    p = out.get("parity", {})
    if p.get("unmatched_nodes"):
        raise SystemExit("PARITY FAIL: node sets diverge between paths")
    if p.get("max_abs_diff", 0.0) > 1e-9:
        raise SystemExit(f"PARITY FAIL: rank daylight {p['max_abs_diff']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
