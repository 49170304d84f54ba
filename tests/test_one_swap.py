"""One-swap guard: every rename in ``mimir_spark/`` goes through the
crash-safe helpers beside ``lineage.swap_dir``. A writer that renames
or replaces a directory itself is a hand-rolled swap protocol, and
the crash-point enumeration (``test_crash_points.py``) only proves
the one in ``swap_dir``."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

#: functions allowed to rename, by file: the swap helpers, and the
#: chunk sink, whose per-file ``os.replace`` of a uniquely named file
#: into a leaf is its idempotent append
ALLOWED = {
    "mimir_spark/lineage.py": {"heal_swap", "swap_dir",
                               "write_json_atomic"},
    "mimir_spark/streaming/rollup_stream.py": {"chunk_store_sink"},
}


def _is_rename(call: ast.Call) -> bool:
    f = call.func
    if not isinstance(f, ast.Attribute):
        return False
    if f.attr in ("rename", "renames", "move"):
        return True
    # os.replace / Path.replace; str.replace always takes two arguments
    return f.attr == "replace" and (
        (isinstance(f.value, ast.Name) and f.value.id == "os")
        or (len(call.args) == 1 and not call.keywords))


def _renames(tree, allowed, where):
    """``where:line`` of each rename call outside the allowed defs."""
    out = []

    def visit(node, inside):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = inside or node.name in allowed
        if isinstance(node, ast.Call) and _is_rename(node) and not inside:
            out.append(f"{where}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, inside)

    visit(tree, False)
    return out


def stray_renames(root=ROOT):
    found = []
    for f in sorted((root / "mimir_spark").rglob("*.py")):
        rel = str(f.relative_to(root))
        found += _renames(ast.parse(f.read_text()),
                          ALLOWED.get(rel, set()), rel)
    return found


def test_renames_only_in_swap_helpers():
    assert stray_renames() == []


def test_guard_sees_each_rename_form():
    src = ("import os\n"
           "def w(a, b, s):\n"
           "    a.rename(b)\n"
           "    os.rename(a, b)\n"
           "    os.replace(a, b)\n"
           "    a.replace(b)\n"
           "    s.replace('x', 'y')\n")
    assert _renames(ast.parse(src), set(), "m.py") == [
        "m.py:3", "m.py:4", "m.py:5", "m.py:6"]
    assert _renames(ast.parse(src), {"w"}, "m.py") == []
