"""One-write guard: every Spark write of a store directory goes through
``lineage._stage_write``, so the store has one file-layout rule (AQE
rebalance on the partition columns, series-sorted tasks). A writer
that calls ``DataFrame.write``, ``partitionBy``, ``repartition`` or a
``rebalance`` hint itself is a second layout rule."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

#: the store's writers, and by file the functions allowed to write:
#: the helper, and run_rollup_job, whose staged narrow turns are the
#: job's input, not a store directory
ALLOWED = {
    "mimir_spark/lineage.py": {"_stage_write", "run_rollup_job"},
    "mimir_spark/streaming/rollup_stream.py": set(),
}


def _is_write(node) -> bool:
    """``x.write`` read as a property (``DataFrame.write``; a file's
    ``f.write(...)`` is a call), or a ``partitionBy``/``repartition``
    call, or ``hint("rebalance", ...)``."""
    if isinstance(node, ast.Attribute) and node.attr == "write":
        return True
    if not (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)):
        return False
    if node.func.attr in ("partitionBy", "repartition"):
        return True
    return node.func.attr == "hint" and bool(node.args) and \
        isinstance(node.args[0], ast.Constant) and \
        node.args[0].value == "rebalance"


def _writes(tree, allowed, where):
    """``where:line`` of each write outside the allowed defs."""
    out = []

    def visit(node, inside, called):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = inside or node.name in allowed
        if not inside and node is not called and _is_write(node):
            out.append(f"{where}:{node.lineno}")
        func = node.func if isinstance(node, ast.Call) else None
        for child in ast.iter_child_nodes(node):
            visit(child, inside, func)

    visit(tree, False, None)
    return out


def stray_writes(root=ROOT):
    found = []
    for rel, allowed in sorted(ALLOWED.items()):
        found += _writes(ast.parse((root / rel).read_text()), allowed, rel)
    return found


def test_store_writes_only_in_stage_write():
    assert stray_writes() == []


def test_guard_sees_each_write_form():
    src = ("def w(df, f, p):\n"
           "    df.write.parquet(p)\n"
           "    df.repartition(4)\n"
           "    df.hint('rebalance', 'd')\n"
           "    df.coalesce(1).write.partitionBy('d').parquet(p)\n"
           "    f.write(b'x')\n"
           "    df.hint('broadcast')\n")
    assert _writes(ast.parse(src), set(), "m.py") == [
        "m.py:2", "m.py:3", "m.py:4", "m.py:5", "m.py:5"]
    assert _writes(ast.parse(src), {"w"}, "m.py") == []
