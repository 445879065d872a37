"""Lint: every top-level public function and class of the package is used
in code somewhere outside its own definition.

A use is one of four things in the package, ``tests/``, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``, outside the
symbol's own definition: a ``Name``, an ``Attribute`` (``mod.name``), an
import alias (``from mod import name``), or a string constant exactly equal
to the name (a ``getattr`` table).  A word in a docstring or a comment is
not a use, and neither is this file's allowlist.  ``@query`` builders are
exempt: the registry decorator is their caller.
No Spark session is needed.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "datapipeline_omnichanneltobigquery_spark"

# name -> why it stays without a caller
ALLOWED = {
    "write_bigquery": "the adapter for the paper's named sink; a deployment with the "
    "spark-bigquery connector calls it, and this repository ships no such deployment",
}


def _searched_files() -> list[Path]:
    dirs = (PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench")
    files = [p for d in dirs for p in sorted(d.rglob("*.py"))]
    # this file's allowlist names symbols without using them
    files.remove(Path(__file__).resolve())
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _is_query_builder(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "query":
            return True
    return False


def _uses(tree: ast.AST) -> Counter:
    """Each name ``tree`` uses in code, with how often."""
    uses: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            uses[node.id] += 1
        elif isinstance(node, ast.Attribute):
            uses[node.attr] += 1
        elif isinstance(node, ast.alias):
            uses[node.name.rpartition(".")[2]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            uses[node.value] += 1
    return uses


def dead_symbols(allowed=ALLOWED) -> list[str]:
    """``module.py::name`` of every public top-level definition that is
    used nowhere outside itself and not in ``allowed``."""
    trees = {p: ast.parse(p.read_text()) for p in _searched_files()}
    uses: Counter = Counter()
    for tree in trees.values():
        uses += _uses(tree)
    dead = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_") or node.name in allowed or _is_query_builder(node):
                continue
            if uses[node.name] == _uses(node)[node.name]:
                dead.append(f"{path.relative_to(PACKAGE)}::{node.name}")
    return sorted(dead)


def test_no_dead_symbols():
    assert dead_symbols() == []


def test_allowlist_names_only_unused_symbols():
    """An allowlisted symbol that gains a caller, or is deleted, leaves the
    allowlist."""
    unused = {s.split("::")[1] for s in dead_symbols(allowed={})}
    assert set(ALLOWED) <= unused
