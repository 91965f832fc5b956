#!/usr/bin/env python
"""Per-query cost decomposition: one run record per rep through a
noop sink — the measure-first step of the optimization guide (§1).
Job count × ~0.1 s driver overhead vs wall tells whether a query is
compute-bound or driver-bound.

    python examples/query_profile.py <query> [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkplans import record  # noqa: E402
from sparkplans.session import EngineOptions, build_session  # noqa: E402
import sparkplans.queries as Q  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    reps = int(os.environ.get("REPS", "3"))
    spark = build_session(
        EngineOptions(target_partitions=cpus),
        app_name="query-profile",
        master=f"local[{cpus}]",
    )
    # warmup
    Q.REGISTRY["agg_count_star"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    for name in sys.argv[1:]:
        for _ in range(reps):
            with record.run(spark, name) as rec:
                df = Q.REGISTRY[name].fn(spark, sf_dir)
                with record.action():
                    df.write.format("noop").mode("overwrite").save()
            print(record.summary(rec))
    spark.stop()


if __name__ == "__main__":
    main()
