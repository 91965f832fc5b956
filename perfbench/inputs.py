"""Benchmark inputs and output signatures.

The base tables are generated inside the checkout by the repository's
own generator (``examples/generate_sf.py``), once per scale factor, into
``perfbench/.data/sf<sf>``; later runs reuse them.  Values are pure
functions of row ids, so every checkout gets identical tables.

An output signature is (row count, sorted column names, order-insensitive
value hash), the same normalisation the query oracle tests use.  The
signatures of the registered queries are frozen in ``signatures.json``;
``python3 perfbench/inputs.py --freeze`` re-derives them from DuckDB.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
FROZEN = os.path.join(HERE, "signatures.json")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def data_dir(sf: str) -> str:
    return os.path.join(DATA, f"sf{sf}")


def ensure_data(sf: str, env: dict | None = None) -> str:
    """Generate the sf tables once per checkout (in a child process with
    its own Spark session); an interrupted generation leaves no dir."""
    out = data_dir(sf)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--generate", sf, tmp],
        check=True, timeout=600, env=env,
        stdout=subprocess.DEVNULL,
    )
    os.rename(tmp, out)
    return out


def _generate(sf: str, out: str) -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "examples"))
    from generate_sf import generate
    from sparkplans.session import EngineOptions, build_session

    spark = build_session(
        EngineOptions(target_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"}),
        app_name="perfbench-datagen", master="local[4]",
    )
    try:
        generate(spark, float(sf), out, partitions=4)
    finally:
        spark.stop()


def parquet_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(sf_dir, f"{table}.parquet", "*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


# -- signatures ---------------------------------------------------------


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0" if v == 0.0 else f"{v:.6g}"  # signed zero differs by engine
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def signature(cols: list[str], rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return [len(lines), sorted(cols), digest]


def spark_signature(df) -> list:
    return signature(df.columns, [tuple(r) for r in df.collect()])


def duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet', '*.parquet')}')"
        )
    return con


def duck_signature(con, sql: str) -> list:
    cur = con.execute(sql)
    return signature([d[0] for d in cur.description], cur.fetchall())


def frozen(sf: str) -> dict[str, list]:
    with open(FROZEN) as f:
        return json.load(f)[f"sf{sf}"]


def derive(sf: str, names) -> dict[str, list]:
    """Signatures of the named registered queries, computed by DuckDB
    from each query's oracle SQL over the generated sf tables."""
    sys.path.insert(0, ROOT)
    import sparkplans.queries as Q

    con = duck(data_dir(sf))
    return {n: duck_signature(con, Q.REGISTRY[n].oracle) for n in names}


def main(argv: list[str]) -> None:
    if argv[:1] == ["--generate"]:
        _generate(argv[1], argv[2])
        return
    if argv[:1] == ["--freeze"]:
        from workloads import QUERY_WORKLOADS, SCALES

        names = sorted({n for w in QUERY_WORKLOADS for n in w.queries})
        out = {}
        for sf in SCALES:
            ensure_data(sf)
            out[f"sf{sf}"] = derive(sf, names)
        with open(FROZEN, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        return
    sys.exit("usage: inputs.py --freeze | --generate SF OUT")


if __name__ == "__main__":
    main(sys.argv[1:])
