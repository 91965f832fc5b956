#!/usr/bin/env python
"""Decompose tdigest_weekly_rollup's wall into its phases::

    python examples/tdigest_phase_profile.py [sf_dir]

Round-8 measured the GROUPED weekly rollup at 3.5x the UNGROUPED
price-quantiles sibling (sf100: 553.4 s vs 158.5 s) and explained the
premium qualitatively (extra key columns through Arrow, per-group
state, the week-merge pass, the per-week audit join) without
decomposing it.  This harness times each phase as its own job over
the same data so the premium is attributed, not argued:

* ``build_ungrouped`` — tdigest_build(x), no group_cols: the Arrow
  ingestion + numpy compress floor.
* ``build_grouped``   — tdigest_build(x, [day, week]): adds the
  grouped-dispatch routing + per-group buffer state + 2 key columns
  through Arrow + the keyed partial-merge shuffle.
* ``merge_week``      — tdigest_merge of the (materialized) daily
  digests up to week: digest-row arithmetic only, ~2.5k -> ~360 rows.
* ``audit``           — the exact corpus rank check: one lineitem
  scan + broadcast of the per-week medians + two-phase agg.
* ``full_query``      — the registered query end-to-end (sanity:
  should be ~ build_grouped + merge_week + audit; the phases share
  nothing but page cache).

Prints ONE JSON line for SCALE.md: each phase's run record
(``sparkplans.record``: wall, jobs, executor run vs CPU time — their
gap makes host noise visible in the artifact).  Phases are
single-shot on a cold session (same protocol as engine_sweep's cold
single-shot numbers).
"""

from __future__ import annotations

import json
import os
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/repo/.localdata/sf10"

    from sparkplans import record
    from sparkplans.session import EngineOptions, build_session
    from sparkplans.materialize import materialize
    from sparkplans.operators.sketches import (
        tdigest_build,
        tdigest_merge,
        tdigest_quantiles,
    )
    from pyspark.sql import functions as F
    import sparkplans.queries as Q

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = build_session(
        EngineOptions(
            target_partitions=cpus,
            extra_conf={
                "spark.driver.memory": os.environ.get(
                    "SPARK_GRAFT_DRIVER_MEM", "24g"
                ),
                "spark.network.timeout": "600s",
                "spark.executor.heartbeatInterval": "20s",
            },
        ),
        app_name="tdigest-phase-profile",
        master=f"local[{cpus}]",
    )

    # the registry's CPU-stage loader (fan_out): small-file scans
    # spread to session parallelism, a no-op at real scale — without
    # it the sf0.1 single-file scan runs the Python build stage on a
    # handful of partitions and the phase walls measure serialization,
    # not the operator
    from sparkplans.queries import _t_cpu

    li = _t_cpu(spark, sf_dir, "lineitem")
    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "phases": {}}

    def phase(name, build):
        with record.run(spark, name) as rec:
            df = build()
            with record.action():
                df.write.format("noop").mode("overwrite").save()
        out["phases"][name] = rec
        return df

    phase("build_ungrouped", lambda: tdigest_build(
        li.select(F.col("l_extendedprice").alias("x")), "x"))
    day_src = li.select(
        F.col("l_shipdate").cast("date").alias("day"),
        F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week"),
        F.col("l_extendedprice").alias("x"),
    )
    dig_day = phase("build_grouped", lambda: materialize(
        tdigest_build(day_src, "x", group_cols=["day", "week"])))
    dig_week = phase("merge_week", lambda: materialize(
        tdigest_merge(dig_day, group_cols=["week"])))
    out["n_day_digests"], out["n_week_digests"] = dig_day.count(), dig_week.count()

    est = tdigest_quantiles(dig_week, [0.5]).select(
        "week", F.col("est").alias("med")
    )
    li_wk = li.select(
        F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("week"),
        F.col("l_extendedprice").alias("x"),
    )
    phase("audit", lambda: (
        li_wk.join(F.broadcast(est), "week")
        .groupBy("week")
        .agg(
            F.count("*").alias("n_l"),
            F.sum(F.when(F.col("x") < F.col("med"), 1).otherwise(0)).alias("blo"),
            F.sum(F.when(F.col("x") <= F.col("med"), 1).otherwise(0)).alias("bhi"),
        )
    ))
    phase("full_query", lambda: Q.REGISTRY["tdigest_weekly_rollup"].fn(spark, sf_dir))
    walls = {k: r["wall_s"] for k, r in out["phases"].items()}
    out["grouped_over_ungrouped_build"] = (
        round(walls["build_grouped"] / walls["build_ungrouped"], 2)
        if walls["build_ungrouped"]
        else None
    )
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
