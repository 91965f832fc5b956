"""Boundary lint: every Python stage in ``operators/multimodal`` goes
through its one helper, ``_per_clip``, so batch handling lives in one
place where batch sizing or a switch to ``mapInArrow`` can be made and
measured once.  Checked mechanically: exactly one ``.mapInPandas(``
call, inside ``_per_clip``; no ``.mapInArrow(``; no ``iterrows``.
"""

import ast
from pathlib import Path

from sparkplans.operators import multimodal

_TREE = ast.parse(Path(multimodal.__file__).read_text())


def _calls_to(attr: str) -> list[str]:
    """Names of the top-level functions holding a ``.<attr>(...)`` call."""
    return [
        fn.name
        for fn in _TREE.body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    ]


def test_single_map_in_pandas_inside_per_clip():
    assert _calls_to("mapInPandas") == ["_per_clip"]


def test_no_map_in_arrow_and_no_iterrows():
    assert _calls_to("mapInArrow") == []
    assert not any(
        isinstance(node, ast.Attribute) and node.attr == "iterrows"
        for node in ast.walk(_TREE)
    )
