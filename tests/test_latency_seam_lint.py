"""The simlat<N>:// filesystem seam (sources/fs.py) is the package's
only latency model: it charges object-store first-byte latency on the
exact code path a real remote read takes. A reader that sleeps on its
own models a store no real read resembles, so this AST guard fails on
any ``time.sleep`` call in the package outside sources/fs.py —
``time.sleep``, an aliased ``import time as t`` / ``t.sleep``, and
``from time import sleep`` alike."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "polars_readstat_spark")
SEAM = os.path.normpath(os.path.join(PKG, "sources", "fs.py"))


def _sleep_calls(tree: ast.AST) -> list[int]:
    """Line numbers of calls that resolve to time.sleep."""
    mods, funcs = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == "time":
                    mods.add(a.asname or "time")
        elif isinstance(node, ast.ImportFrom) and node.module == "time":
            for a in node.names:
                if a.name == "sleep":
                    funcs.add(a.asname or "sleep")
    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr == "sleep"
            and isinstance(f.value, ast.Name)
            and f.value.id in mods
        ) or (isinstance(f, ast.Name) and f.id in funcs):
            lines.append(node.lineno)
    return lines


def test_detector_sees_every_spelling():
    src = (
        "import time\nimport time as _t\nfrom time import sleep as zz\n"
        "def f():\n    time.sleep(1)\n    _t.sleep(1)\n    zz(1)\n"
        "    other.sleep(1)\n"
    )
    assert _sleep_calls(ast.parse(src)) == [5, 6, 7]


def test_no_sleep_outside_the_latency_seam():
    offenders = []
    for f in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        if os.path.normpath(f) == SEAM:
            continue
        with open(f) as fh:
            tree = ast.parse(fh.read())
        offenders += [
            f"{os.path.relpath(f, PKG)}:{ln}" for ln in _sleep_calls(tree)
        ]
    assert not offenders, offenders
