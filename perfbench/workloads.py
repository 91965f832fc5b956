"""The benchmark's workloads.  README.md gives why each exists, which
layers it exercises and which per-layer metric should move which
end-to-end metric on it.

An op is one closed-loop request: it calls into the layers inside
spans, ends with one action, and returns the frame that action ran on
(or None) so the harness can check its signature outside the timings.
A workload's seed fixes the op order of every pass and, for
table_writes, the batch boundaries, update keys and read ranges.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Callable

import inputs

SF = "0.01"  # the benchmark's scale
TEST_SF = "0.001"  # the scale of the benchmark's own tests
SCALES = (SF, TEST_SF)  # scales with frozen signatures


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work: str
    tracer: object
    notes: dict = field(default_factory=dict)

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name)

    def note(self, **kv) -> None:
        self.notes.update(kv)


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], object]
    expect: list | None = None  # output signature, checked in the cold pass


def noop_action(ctx: Ctx, df) -> None:
    with ctx.span("action", "action.noop"):
        df.write.format("noop").mode("overwrite").save()


# -- query workloads ----------------------------------------------------


@dataclass
class QueryWorkload:
    name: str
    queries: tuple[str, ...]
    audit: bool
    tables: tuple[str, ...]

    def order(self, seed: int, pass_no: int) -> list[str]:
        names = list(self.queries)
        random.Random(f"{self.name}:{seed}:{pass_no}").shuffle(names)
        return names

    def prepare(self, ctx: Ctx, seed: int, sf: str) -> dict:
        return {"seed": seed, "expect": inputs.frozen(sf)}

    def ops(self, ctx: Ctx, state: dict, pass_no: int) -> list[Op]:
        return [Op(n, self._op(n), state["expect"].get(n)) for n in self.order(state["seed"], pass_no)]

    def _op(self, name: str):
        def run(ctx: Ctx):
            import sparkplans.queries as Q

            with ctx.span("queries", "queries.build"):
                df = Q.REGISTRY[name].fn(ctx.spark, ctx.sf_dir)
            if self.audit:
                from sparkplans import plans

                with ctx.span("plans", "plans.audit"):
                    a = plans.audit(df)
                ctx.note(exchanges=a["exchanges"], broadcasts=a["broadcasts"], sorts=a["sorts"])
            noop_action(ctx, df)
            return df

        return run

    def final_check(self, ctx: Ctx, state: dict) -> dict | None:
        return None


OLAP_SQL = QueryWorkload(
    "olap_sql",
    (
        "pricing_summary", "tpch_q3_topk_revenue", "tpch_q5_local_supplier",
        "tpch22_q2_min_cost_supplier", "tpch22_q6_forecast_revenue",
        "broadcast_join_agg", "merge_join", "window_rank", "flagship_datebin",
    ),
    audit=True,
    tables=("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
)
PYTHON_PIPELINE = QueryWorkload(
    "python_pipeline",
    (
        "pca_whitening", "tdigest_weekly_rollup", "video_shot_boundaries",
        "pagerank_copurchase",
    ),
    audit=False,
    tables=("orders", "lineitem", "events", "documents", "embeddings"),
)
QUERY_WORKLOADS = (OLAP_SQL, PYTHON_PIPELINE)


# -- table_writes -------------------------------------------------------

BATCHES = 8


def table_plan(seed: int, n_orders: int) -> dict:
    """Seeded parameters of a table_writes pass over orders keys
    [0, n_orders): append batch boundaries, the pruned-read range after
    each append, merge/delete keys, the time-travel version and the
    write_sorted slice of lineitem with its read range."""
    rng = random.Random(f"table_writes:{seed}")
    w = [rng.uniform(0.5, 1.5) for _ in range(BATCHES)]
    cut = [round(n_orders * sum(w[:i]) / sum(w)) for i in range(BATCHES + 1)]
    width = n_orders // 10
    reads = [(lo, lo + width) for lo in (rng.randrange(0, cut[i + 1]) for i in range(BATCHES))]
    sorted_lo = rng.randrange(0, n_orders - n_orders // 4)
    range_lo = sorted_lo + rng.randrange(0, n_orders // 4 - n_orders // 16)
    delete_lo = rng.randrange(0, n_orders - n_orders // 20)
    return {
        "n": n_orders,
        "cuts": cut,
        "reads": reads,
        "merge_mod": 97, "merge_rem": rng.randrange(97),
        "insert_lo": rng.randrange(0, n_orders - 200), "insert_n": 200,
        "delete": (delete_lo, delete_lo + n_orders // 20),
        "travel_version": rng.randrange(BATCHES),
        "sorted": (sorted_lo, sorted_lo + n_orders // 4 - 1),
        "range": (range_lo, range_lo + n_orders // 16),
    }


def _updates_sql(p: dict) -> str:
    cols = "o_custkey, o_orderstatus, o_orderdate, o_orderpriority"
    return (
        f"SELECT o_orderkey, {cols}, o_totalprice + 1.0 AS o_totalprice FROM orders "
        f"WHERE o_orderkey % {p['merge_mod']} = {p['merge_rem']} "
        f"UNION ALL BY NAME SELECT o_orderkey + {p['n']} AS o_orderkey, {cols}, o_totalprice FROM orders "
        f"WHERE o_orderkey BETWEEN {p['insert_lo']} AND {p['insert_lo'] + p['insert_n'] - 1}"
    )


def end_state_sql(p: dict) -> str:
    return (
        f"WITH upd AS ({_updates_sql(p)}), merged AS ("
        f"SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd) "
        f"UNION ALL BY NAME SELECT * FROM upd) "
        f"SELECT * FROM merged WHERE NOT (o_orderkey BETWEEN {p['delete'][0]} AND {p['delete'][1]})"
    )


class TableWrites:
    name = "table_writes"
    tables = ("orders", "lineitem")

    def prepare(self, ctx: Ctx, seed: int, sf: str) -> dict:
        from sparkplans.engine import Engine

        p = table_plan(seed, inputs.parquet_rows(ctx.sf_dir, "orders"))
        con = inputs.duck(ctx.sf_dir)
        sig = lambda sql: inputs.duck_signature(con, sql)  # noqa: E731
        cuts = p["cuts"]
        lo_s, hi_s = p["sorted"]
        return {
            "plan": p,
            "engine": Engine(spark=ctx.spark),
            "read_expect": [
                sig(f"SELECT * FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi} AND o_orderkey < {cuts[i + 1]}")
                for i, (lo, hi) in enumerate(p["reads"])
            ],
            "travel_expect": sig(f"SELECT * FROM orders WHERE o_orderkey < {cuts[p['travel_version'] + 1]}"),
            "range_expect": sig(
                f"SELECT * FROM lineitem WHERE l_orderkey BETWEEN {lo_s} AND {hi_s} "
                f"AND l_orderkey BETWEEN {p['range'][0]} AND {p['range'][1]}"
            ),
            "end_expect": sig(end_state_sql(p)),
        }

    def ops(self, ctx: Ctx, state: dict, pass_no: int) -> list[Op]:
        from pyspark.sql import functions as F

        from sparkplans import sinks
        from sparkplans.sources import load_table
        from sparkplans.table import VersionedTable

        p, spark = state["plan"], ctx.spark
        root = os.path.join(ctx.work, f"pass{pass_no}")
        key = F.col("o_orderkey")
        state["table"] = vt = VersionedTable(spark, os.path.join(root, "orders_vt"))

        def append(i):
            def run(c):
                with c.span("sources", "sources.load_table"):
                    batch = load_table(spark, c.sf_dir, "orders").filter(
                        (key >= p["cuts"][i]) & (key < p["cuts"][i + 1]))
                with c.span("table", "table.append"):
                    vt.append(batch, stats_cols=["o_orderkey"])
            return Op(f"append[{i}]", run)

        def read_pruned(i):
            lo, hi = p["reads"][i]

            def run(c):
                with c.span("table", "table.read_pruned"):
                    df = vt.read_pruned("o_orderkey", lo, hi)
                noop_action(c, df)
                if c.tracer.enabled:
                    kept = len(vt.pruned_files("o_orderkey", lo, hi))
                    c.note(files_kept_ratio=kept / max(len(vt.pruned_files("o_orderkey")), 1),
                           versions=len(vt.versions()))
                return df
            return Op(f"read_pruned[{i}]", run, state["read_expect"][i])

        def merge(c):
            o = load_table(spark, c.sf_dir, "orders")
            ins_lo = p["insert_lo"]
            upd = o.filter(key % p["merge_mod"] == p["merge_rem"]).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1.0
            ).unionByName(
                o.filter(key.between(ins_lo, ins_lo + p["insert_n"] - 1)).withColumn("o_orderkey", key + p["n"])
            )
            with c.span("table", "table.merge"):
                vt.merge(upd, "o_orderkey")

        def delete(c):
            with c.span("table", "table.delete"):
                vt.delete(key.between(*p["delete"]))

        def compact(c):
            with c.span("table", "table.compact"):
                vt.compact(target_files=1)

        def travel(c):
            with c.span("table", "table.read_version"):
                df = vt.read(version=p["travel_version"])
            noop_action(c, df)
            return df

        def vacuum(c):
            data = os.path.join(vt.root, "data")
            if c.tracer.enabled:
                c.note(bytes_written=_parquet_bytes(data))
            with c.span("table", "table.vacuum"):
                vt.vacuum(keep_versions=1)
            if c.tracer.enabled:
                c.note(live_bytes=_parquet_bytes(data))

        def write_sorted(c):
            lo, hi = p["sorted"]
            li = load_table(spark, c.sf_dir, "lineitem").filter(F.col("l_orderkey").between(lo, hi))
            with c.span("sinks", "sinks.write_sorted"):
                sinks.write_sorted(li, os.path.join(root, "li_sorted"), "l_orderkey", num_files=4,
                                   catalog=state["engine"].catalog, register_as="li_sorted")

        def read_range(c):
            with c.span("engine", "engine.read_range"):
                df = state["engine"].read_range("li_sorted", "l_orderkey", *p["range"]).df
            noop_action(c, df)
            return df

        ops = []
        for i in range(BATCHES):
            ops += [append(i), read_pruned(i)]
        return ops + [
            Op("merge", merge), Op("delete", delete), Op("compact", compact),
            Op("time_travel", travel, state["travel_expect"]), Op("vacuum", vacuum),
            Op("write_sorted", write_sorted), Op("read_range", read_range, state["range_expect"]),
        ]

    def final_check(self, ctx: Ctx, state: dict) -> dict:
        df = state["table"].read()
        got = inputs.spark_signature(df)
        unique = df.select("o_orderkey").distinct().count() == got[0]
        return {"ok": unique and got == state["end_expect"], "unique_keys": unique,
                "got": got, "want": state["end_expect"]}


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


WORKLOADS = {w.name: w for w in (OLAP_SQL, PYTHON_PIPELINE, TableWrites())}
