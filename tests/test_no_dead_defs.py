"""Dead-definition guard: every top-level ``def`` in ``mimir_spark/``
and ``jobs/*.py`` must be used as a name somewhere other than its own
``def`` line — in the package, the jobs, the tests, the benchmark or
``__spark_entry__.py``. Mentions inside strings, docstrings and
comments do not count: a helper only a docstring names is dead, and is
deleted rather than kept "just in case"."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SEARCH = ["mimir_spark", "jobs", "tests", "perfbench", "bench.py",
          "__spark_entry__.py"]


def _sources(root):
    for name in SEARCH:
        p = root / name
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _names(tree):
    """Every name the code uses: loads, attributes, imported names."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rpartition(".")[2]


def dead_defs(root=ROOT):
    """``path:line name`` of each unreferenced top-level def."""
    uses, defs = set(), []
    for f in _sources(root):
        tree = ast.parse(f.read_text())
        uses.update(_names(tree))
        if (root / "mimir_spark") in f.parents or f.parent == root / "jobs":
            defs += [(node.name, f"{f.relative_to(root)}:{node.lineno}")
                     for node in tree.body
                     if isinstance(node, (ast.FunctionDef,
                                          ast.AsyncFunctionDef))]
    return [f"{where} {name}" for name, where in defs if name not in uses]


def test_no_unreferenced_top_level_defs():
    assert dead_defs() == []
