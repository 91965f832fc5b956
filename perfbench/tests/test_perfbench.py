"""The benchmark's own tests, at sf0.001 (the CLI test at the benchmark's
own scale).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SF = workloads.TEST_SF
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
END_TO_END = {m["name"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"] for m in BENCH["per_layer"]}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    conf = run.isolate(work)
    sf_dir = inputs.ensure_data(SF, env=dict(os.environ))
    spark, _, _ = run.build(conf, spans.Tracer(False), workloads.OLAP_SQL, sf_dir)
    yield spark, sf_dir, work
    run.stop_spark(spark)


def _measure(session, wl, trace: bool):
    """A run's shortest measurement: the cold pass and MIN_WARM warm passes."""
    spark, sf_dir, work = session
    tracer = spans.Tracer(trace)
    rec = run.measure(spark, wl, SF, sf_dir, work, seed=1, seconds=0, tracer=tracer)
    rec.update(setup={"setup_s": 1.0, "build_s": 0.5, "warmup_s": 0.5}, peak_rss_kb=1, rss_kb=[(0.0, 1)])
    return rec, tracer


@pytest.mark.parametrize("name", [w["name"] for w in BENCH["workloads"]])
def test_workload_metrics_match_benchmark_json(session, name):
    rec, tracer = _measure(session, workloads.WORKLOADS[name], trace=True)
    assert rec["checks"] and all(c["ok"] for c in rec["checks"]), rec["checks"]
    assert all(o["ok"] for o in rec["ops"]), [o.get("error") for o in rec["ops"]]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    for metrics, names in ((run.end_to_end(rec), END_TO_END), (run.per_layer(rec, tracer), PER_LAYER)):
        assert set(metrics) == names
        assert {k: u for k, (_, u, _) in metrics.items()} == {k: units[k] for k in names}
    for s in tracer.spans:
        assert {"name", "layer", "start", "end", "parent", "op"} <= set(s) and s["end"] >= s["start"]


def test_raising_op_is_counted_not_fatal(session):
    wl = workloads.QueryWorkload("olap_sql", ("no_such_query", "pricing_summary"), audit=False, tables=())
    rec, _ = _measure(session, wl, trace=False)
    by_name = {o["name"]: o for o in rec["ops"] if o["pass"] == 0}
    assert len(rec["ops"]) == 2 * (1 + run.MIN_WARM)
    assert not by_name["no_such_query"]["ok"] and "KeyError" in by_name["no_such_query"]["error"]
    assert by_name["pricing_summary"]["ok"] and rec["checks"][0]["ok"]
    assert run.end_to_end(rec)["ops_ok_frac"][0] == 0.5


def test_same_seed_same_order_and_batches():
    for wl in workloads.QUERY_WORKLOADS:
        assert wl.order(7, 3) == wl.order(7, 3)
        assert sorted(wl.order(7, 3)) == sorted(wl.queries)
        assert any(wl.order(7, p) != wl.order(8, p) for p in range(4))
    plan = workloads.table_plan(7, 15000)
    assert plan == workloads.table_plan(7, 15000) != workloads.table_plan(8, 15000)
    cuts = plan["cuts"]
    assert cuts[0] == 0 and cuts[-1] == 15000 and cuts == sorted(cuts)


def test_each_workload_document_lists_why_layers_and_metric_map():
    with open(os.path.join(BENCH_DIR, "README.md")) as f:
        sections = re.split(r"^## ", f.read(), flags=re.M)
    mapped = set()
    for w in BENCH["workloads"]:
        body = next(s for s in sections if s.startswith(w["name"] + "\n"))
        assert f"**Why:** {w['why']}\n" in body
        assert "**Layers:**" in body
        rows = re.findall(r"^\| `([^`]+)` \| (.+) \|$", body, flags=re.M)
        assert rows, w["name"]
        for metric, moves in rows:
            assert metric in PER_LAYER, metric
            assert moves.startswith("none") or moves.strip("`") in END_TO_END, moves
            mapped.add(metric)
    assert mapped == PER_LAYER


def test_frozen_signatures_rederive_from_duckdb():
    names = sorted({n for w in workloads.QUERY_WORKLOADS for n in w.queries})
    for sf in workloads.SCALES:
        inputs.ensure_data(sf)
        frozen = inputs.frozen(sf)
        assert inputs.derive(sf, names) == {n: frozen[n] for n in names}


def test_cli_runs_from_another_directory(tmp_path):
    """Python-stage ops import sparkplans in their workers wherever the
    client was started; the last line is the result object.  Runs at the
    benchmark's own scale."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "python_pipeline",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout
    assert set(result["metrics"]) == END_TO_END


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".work", "runs", "__pycache__"))
    out = subprocess.run(BENCH["command"] + ["--workload", "olap_sql", "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
