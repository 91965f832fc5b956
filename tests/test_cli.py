"""The CLI is the engine's face (every reference doc is a
datafusion-cli transcript) — pipe a session through it and pin the
box-table output, catalog commands, SET, timing, and error recovery."""

import os
import re
import subprocess
import sys

from sparkplans.cli import format_table


def test_format_table_box_and_null():
    out = format_table(["id", "name"], [[1, "alpha"], [2, None]])
    assert out.splitlines()[0] == "+----+-------+"
    assert "| 1  | alpha |" in out
    assert "| 2  | NULL  |" in out


def test_format_table_truncates():
    out = format_table(["x"], [[i] for i in range(50)], max_rows=5)
    assert "45 more row(s) not shown" in out


def test_cli_session_end_to_end():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "SELECT n_name FROM nation WHERE n_nationkey = 0;\n"
        "\\d nation\n"
        "\\timing\n"
        "SELECT count(*) AS n FROM region;\n"
        "SELECT bogus FROM nation;\n"
        "SELECT 1 AS still_alive;\n"
        "\\analyze SELECT count(*) AS n FROM region;\n"
        "\\q\n"
    )
    proc = subprocess.run(
        [sys.executable, "-m", "sparkplans.cli"],
        input=script, capture_output=True, text=True, timeout=300,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout
    assert "| NATION_0 |" in out
    assert "| n_nationkey | int" in out
    assert "timing is on" in out
    assert "row(s) in" in out           # timing line
    assert "Error:" in out              # bad query reported...
    assert "| still_alive |" in out     # ...and the session survived
    assert "numOutputRows=" in out      # \analyze shows SQLMetrics
    assert re.search(r"record analyze: .*jobs=[1-9]\d*, stages=[1-9]\d*, tasks=[1-9]", out)


def test_run_sql_limits_driver_collect(spark):
    """run_sql must not collect the full result set just to print 40
    rows — a limit(41) sentinel detects truncation without pulling a
    `SELECT * FROM lineitem` into driver memory.  Regression for the
    unconditional df.collect()."""
    import io

    from sparkplans.cli import MAX_DISPLAY_ROWS, run_sql
    from sparkplans.engine import Engine

    eng = Engine(spark=spark)
    buf = io.StringIO()
    run_sql(eng, "SELECT id FROM range(1000)", out=buf)
    out = buf.getvalue()
    assert f"{MAX_DISPLAY_ROWS}+ (truncated) row(s)" in out
    # box table shows exactly MAX_DISPLAY_ROWS data rows
    assert sum(1 for ln in out.splitlines() if ln.startswith("| ")) \
        == MAX_DISPLAY_ROWS + 1  # header + 40 rows

    buf2 = io.StringIO()
    run_sql(eng, "SELECT id FROM range(3)", out=buf2)
    assert "3 row(s)" in buf2.getvalue()
