"""Summarise run records: per workload and metric, the median and
quartiles over runs, and the tracing overhead (median warm pass of
traced runs minus that of untraced runs).

    python3 perfbench/report.py [perfbench/runs/*.json ...]
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main(paths: list[str]) -> None:
    paths = paths or glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "runs", "*.json"))
    runs: dict[tuple[str, int], list[dict]] = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    for (wl, trace), rs in sorted(runs.items()):
        print(f"{wl} trace={trace} runs={len(rs)}")
        for name in rs[0]["metrics"]:
            q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in rs])
            spread = (q3 - q1) / med if med else 0.0
            print(f"  {name:40s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  iqr/median {spread:.3f}")
    for wl in sorted({w for w, _ in runs}):
        warm = {t: statistics.median(statistics.median(p["wall_s"] for p in r["passes"][1:]) for r in runs[(wl, t)])
                for t in (0, 1) if (wl, t) in runs}
        if len(warm) == 2:
            print(f"{wl}: tracing overhead {warm[1] - warm[0]:+.3f} s per warm pass "
                  f"({(warm[1] - warm[0]) / warm[0]:+.1%} of {warm[0]:.3f} s untraced)")


if __name__ == "__main__":
    main(sys.argv[1:])
