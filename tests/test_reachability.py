"""Dead-code gate: every top-level ``def``/``class`` in the engine
package must be referenced by name somewhere in the repo's Python —
engine, tools, benchmark or tests.  A reference is a real use (a name,
an attribute or an import); a mention in a docstring or comment does
not keep code alive.  Catalog entries (``@_register``) are reached
through ``catalog()`` and UDFs through Spark, so both are exempt."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "westtopologies_spark"
EXEMPT_DECORATORS = {"_register", "udf", "pandas_udf", "udtf"}


def _decorator_name(node: ast.expr) -> str:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    return getattr(node, "id", "")


def _exempt(node: ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef) -> bool:
    return any(_decorator_name(d) in EXEMPT_DECORATORS for d in node.decorator_list)


def test_every_engine_definition_is_referenced():
    trees = {
        p: ast.parse(p.read_text(), filename=str(p))
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    }
    used: set[str] = set()
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.add(n.name.rsplit(".", 1)[-1])
    unreferenced = [
        f"{p.relative_to(ROOT)}:{n.lineno} {n.name}"
        for p, tree in trees.items()
        if PACKAGE in p.parents
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not _exempt(n)
        and n.name not in used
    ]
    assert not unreferenced, unreferenced
