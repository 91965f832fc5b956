"""The run record (``sparkplans.record``) and its one-record rule: no
module-global state anywhere in the package, checked mechanically."""

import ast
from pathlib import Path

import sparkplans
from sparkplans import record


def test_record_covers_the_block_jobs(spark):
    spark.range(10).count()  # a job before the block is not counted
    with record.run(spark, "probe") as rec:
        df = spark.range(0, 2000, numPartitions=4).repartition(3, "id")
        record.note("k", "v")
        with record.action():
            assert df.groupBy("id").count().count() == 2000
    assert rec["jobs"] >= 1 and rec["stages"] >= 2 and rec["tasks"] >= 4
    ids = [j["id"] for j in rec["job_times"]]
    assert ids == sorted(ids) and len(ids) == rec["jobs"]
    for j in rec["job_times"]:
        assert -0.01 <= j["submit_s"] <= j["complete_s"] <= rec["wall_s"] + 0.01
    assert 0 < rec["action_s"] <= rec["wall_s"]
    assert abs(rec["build_s"] + rec["action_s"] - rec["wall_s"]) < 1e-9
    assert rec["run_s"] >= rec["gc_s"] >= 0 and rec["cpu_s"] >= 0
    assert rec["shuffle_write_bytes"] > 0 and rec["shuffle_read_bytes"] > 0
    assert rec["notes"] == {"k": "v"}
    line = record.summary(rec)
    assert line.startswith("record probe: ") and f"jobs={rec['jobs']}" in line


def test_record_without_jobs_and_nested_notes(spark):
    record.note("outside", 1)  # no active record: a no-op
    record.tally("outside")
    with record.run(spark, "outer") as outer:
        record.tally("n")
        with record.run(spark, "inner") as inner:
            record.tally("n")
            record.tally("n")
        record.note("after", True)
    assert outer["notes"] == {"n": 1, "after": True}
    assert inner["notes"] == {"n": 2}
    assert outer["jobs"] == inner["jobs"] == 0 and outer["job_times"] == []


def test_no_global_statements_in_package():
    """Per-run state lives in the active run record, never in module
    globals that a later run (or another thread) overwrites."""
    root = Path(sparkplans.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Global)
    ]
    assert offenders == []
