"""No function-local import in the package goes unused (a stdlib ``ast``
stand-in for pyflakes' F401 on function scopes): a stale local import
outlives the code that needed it and hides what a function depends on."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "tigerbeetle_cdc_nats_spark"
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _unused_local_imports(tree: ast.AST):
    for fn in (n for n in ast.walk(tree) if isinstance(n, FUNCS)):
        used = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        # imports of THIS function: skip the bodies of nested functions
        todo = list(fn.body)
        while todo:
            node = todo.pop()
            if isinstance(node, FUNCS):
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in used:
                        yield node.lineno, bound
            todo.extend(ast.iter_child_nodes(node))


def test_no_unused_function_local_imports():
    hits = [f"{p.relative_to(ROOT)}:{line} {name}"
            for p in sorted(PKG.rglob("*.py"))
            for line, name in _unused_local_imports(
                ast.parse(p.read_text(encoding="utf-8")))]
    assert hits == []
