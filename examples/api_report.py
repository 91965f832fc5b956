#!/usr/bin/env python
"""Generate API.md: the public API index — every module's exported
functions/classes with their signature and first docstring line.
Regenerate after adding operators::

    python examples/api_report.py
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MODULES = [
    "sparkplans.session",
    "sparkplans.engine",
    "sparkplans.materialize",
    "sparkplans.catalog",
    "sparkplans.ordering",
    "sparkplans.plans",
    "sparkplans.record",
    "sparkplans.sinks",
    "sparkplans.table",
    "sparkplans.slt",
    "sparkplans.cli",
    "sparkplans.sources",
    "sparkplans.functions.text",
    "sparkplans.functions.vectors",
    "sparkplans.functions.datetime",
    "sparkplans.operators.asof",
    "sparkplans.operators.bloom",
    "sparkplans.operators.bpe",
    "sparkplans.operators.dedup",
    "sparkplans.operators.diff",
    "sparkplans.operators.expectations",
    "sparkplans.operators.graph",
    "sparkplans.operators.multimodal",
    "sparkplans.operators.packing",
    "sparkplans.operators.pca",
    "sparkplans.operators.profile",
    "sparkplans.operators.quality",
    "sparkplans.operators.rollup",
    "sparkplans.operators.sampling",
    "sparkplans.operators.sketches",
    "sparkplans.operators.similarity",
    "sparkplans.operators.skew",
    "sparkplans.operators.zorder",
    "sparkplans.streaming",
]


def first_line(obj) -> str:
    doc = inspect.getdoc(obj) or ""
    return doc.splitlines()[0] if doc else ""


def main() -> None:
    out = ["# API — public surface index", "",
           "Generated by `python examples/api_report.py`.", ""]
    total = 0
    for modname in MODULES:
        try:
            mod = importlib.import_module(modname)
        except Exception as ex:  # noqa: BLE001
            out.append(f"## {modname}\n\n_import failed: {ex!r}_\n")
            continue
        names = getattr(mod, "__all__", None) or [
            n for n, o in vars(mod).items()
            if not n.startswith("_")
            and (inspect.isfunction(o) or inspect.isclass(o))
            and getattr(o, "__module__", "") == modname
        ]
        rows = []
        for n in sorted(set(names)):
            o = getattr(mod, n, None)
            if o is None:
                continue
            if inspect.isclass(o):
                rows.append(f"- **class `{n}`** — {first_line(o)}")
                for mn, mo in sorted(vars(o).items()):
                    if mn.startswith("_") or not inspect.isfunction(mo):
                        continue
                    try:
                        sig = str(inspect.signature(mo))
                    except (TypeError, ValueError):
                        sig = "(...)"
                    rows.append(f"  - `{mn}{sig}` — {first_line(mo)}")
                    total += 1
            elif inspect.isfunction(o):
                try:
                    sig = str(inspect.signature(o))
                except (TypeError, ValueError):
                    sig = "(...)"
                rows.append(f"- `{n}{sig}` — {first_line(o)}")
                total += 1
        if rows:
            out.append(f"## {modname}")
            out.append("")
            out.extend(rows)
            out.append("")
    out.insert(3, f"**{total} public functions/methods across "
                  f"{len(MODULES)} modules.**")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "API.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote API.md ({total} entries)")


if __name__ == "__main__":
    main()
