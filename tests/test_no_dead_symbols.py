"""Lint: every top-level public function and class of the package is named
somewhere outside its own definition.

A symbol counts as used when its name appears as a word in the package,
``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``, anywhere but the lines of its own definition (this
file's allowlist does not count).  ``@query`` builders are exempt: the
registry decorator is their caller.
No Spark session is needed.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "datapipeline_omnichanneltobigquery_spark"
WORD = re.compile(r"\w+")

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


def dead_symbols(allowed=ALLOWED) -> list[str]:
    """``module.py::name`` of every public top-level definition that is
    named nowhere outside itself and not in ``allowed``."""
    texts = {p: p.read_text() for p in _searched_files()}
    words = Counter(w for t in texts.values() for w in WORD.findall(t))
    dead = []
    for path, text in texts.items():
        if PACKAGE not in path.parents:
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_") or node.name in allowed or _is_query_builder(node):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "\n".join(lines[start - 1 : node.end_lineno])
            if words[node.name] == WORD.findall(own).count(node.name):
                dead.append(f"{path.relative_to(PACKAGE)}::{node.name}")
    return sorted(dead)


def test_no_dead_symbols():
    assert dead_symbols() == []


def test_allowlist_names_only_unused_symbols():
    """An allowlisted symbol that gains a caller, or is deleted, leaves the
    allowlist."""
    unused = {s.split("::")[1] for s in dead_symbols(allowed={})}
    assert set(ALLOWED) <= unused
