"""No import in the package goes unused, at function or module scope (a
stdlib ``ast`` stand-in for pyflakes' F401): a stale import outlives the
code that needed it and hides what a function or module depends on.
``__init__.py`` re-exports and ``__future__`` imports are exempt at module
scope."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "tigerbeetle_cdc_nats_spark"
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _used(scope: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}


def _unused_imports(body: list[ast.stmt], used: set[str]):
    # imports of THIS scope: skip the bodies of nested functions
    todo = list(body)
    while todo:
        node = todo.pop()
        if isinstance(node, FUNCS):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in used:
                    yield a.lineno, bound
        todo.extend(ast.iter_child_nodes(node))


def _unused_local_imports(tree: ast.Module):
    for fn in (n for n in ast.walk(tree) if isinstance(n, FUNCS)):
        yield from _unused_imports(fn.body, _used(fn))


def _unused_module_imports(tree: ast.Module):
    yield from _unused_imports(tree.body, _used(tree))


def _hits(find, files):
    return [f"{p.relative_to(ROOT)}:{line} {name}"
            for p in files
            for line, name in find(ast.parse(p.read_text(encoding="utf-8")))]


def test_no_unused_function_local_imports():
    assert _hits(_unused_local_imports, sorted(PKG.rglob("*.py"))) == []


def test_no_unused_module_imports():
    files = [p for p in sorted(PKG.rglob("*.py")) if p.name != "__init__.py"]
    assert _hits(_unused_module_imports, files) == []
