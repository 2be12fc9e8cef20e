"""Every top-level package function and class is reached from an entry
point, not only from tests (a stdlib ``ast`` reachability check).

The entry points are the registered queries, the CLI, ``prebuild``,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``scripts/``. A
definition is dead when no non-test source uses its name outside its own
body and outside the bodies of other dead definitions; removing one dead
definition can orphan the helpers it alone used, so this iterates to a
fixpoint. A use is an AST ``Name`` or ``Attribute``, or the ``attr`` of a
``"module:attr"`` factory string. Docstrings, comments and other strings
do not count, nor do imports, so a definition only named in prose or only
re-exported by an ``__init__`` is dead."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "tigerbeetle_cdc_nats_spark"
ENTRIES = (ROOT / "__spark_entry__.py", ROOT / "bench.py",
           ROOT / "perfbench", ROOT / "scripts")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FACTORY = re.compile(r"[A-Za-z_][\w.]*:([A-Za-z_]\w*)")

#: Kept without an entry-point caller, each for the reason given.
ALLOWED = {
    "count_nodes": "plan-assertion tooling",
    "count_occurrences": "plan-assertion tooling",
    "pushed_filters": "plan-assertion tooling",
}


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if (getattr(f, "id", None) or getattr(f, "attr", None)) == "register":
            return True
    return False


def _names(node: ast.AST) -> set[str]:
    """The names ``node`` uses: Names, Attributes, factory-string attrs."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            m = FACTORY.fullmatch(n.value)
            if m:
                out.add(m.group(1))
    return out


def _sources(pkg: pathlib.Path, entries):
    yield from sorted(pkg.rglob("*.py"))
    for e in entries:
        yield from sorted(e.rglob("*.py")) if e.is_dir() else [e]


def dead_definitions(pkg: pathlib.Path = PKG, entries=ENTRIES,
                     allowed=ALLOWED) -> list[str]:
    """``"<file>:<name>"`` of every unallowed top-level definition in
    ``pkg`` that the package and the ``entries`` files or directories
    never use."""
    roots: set[str] = set()   # names used outside any candidate body
    bodies: dict[tuple[str, str], set[str]] = {}  # candidate -> its names
    for p in _sources(pkg, entries):
        for node in ast.parse(p.read_text(encoding="utf-8")).body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if (pkg in p.parents and isinstance(node, DEFS)
                    and not _registered(node)):
                key = (str(p.relative_to(pkg.parent)), node.name)
                bodies[key] = _names(node)
            else:
                roots |= _names(node)
    dead: set[tuple[str, str]] = set()
    while True:
        used = roots.union(*(ws - {k[1]} for k, ws in bodies.items()
                             if k not in dead))
        new = {k for k in bodies
               if k not in dead and k[1] not in used and k[1] not in allowed}
        if not new:
            return sorted(f"{f}:{name}" for f, name in dead)
        dead |= new


def test_no_definition_only_tests_reach():
    assert dead_definitions() == []


def test_allowlist_is_short_and_needed():
    """Each allowlisted name would be reported dead without its entry."""
    assert len(ALLOWED) <= 3
    dead = {d.rsplit(":", 1)[1] for d in dead_definitions(allowed={})}
    assert set(ALLOWED) <= dead


@pytest.fixture
def tree(tmp_path):
    """A two-module package plus one entry script, all written by the
    test: ``pkg/a.py`` holds the candidates, ``pkg/b.py`` names one of
    them in prose only."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from pkg.a import prose_only\n")
    (pkg / "a.py").write_text(
        "def used():\n    return 1\n\n"
        "def prose_only():\n    return 2\n\n"
        "def by_factory():\n    return 3\n\n"
        "def dead_root():\n    return dead_leaf()\n\n"
        "def dead_leaf():\n    return 4\n")
    (pkg / "b.py").write_text(
        '"""Calls prose_only, says this docstring."""\n'
        "# prose_only again, in a comment\n"
        "NOTE = 'see prose_only'\n"
        "FACTORY = 'pkg.a:by_factory'\n")
    entry = tmp_path / "main.py"
    entry.write_text("from pkg import a\n\nprint(a.used())\n")
    return pkg, entry


def test_rule_ignores_prose_and_reexports(tree):
    pkg, entry = tree
    dead = dead_definitions(pkg, [entry], allowed={})
    assert "pkg/a.py:prose_only" in dead
    assert "pkg/a.py:used" not in dead


def test_rule_counts_factory_string_attr(tree):
    pkg, entry = tree
    assert "pkg/a.py:by_factory" not in dead_definitions(
        pkg, [entry], allowed={})


def test_rule_fixpoint_finds_helper_of_dead_code(tree):
    pkg, entry = tree
    dead = dead_definitions(pkg, [entry], allowed={})
    assert {"pkg/a.py:dead_root", "pkg/a.py:dead_leaf"} <= set(dead)
    # allowing the caller keeps its helper alive
    assert "pkg/a.py:dead_leaf" not in dead_definitions(
        pkg, [entry], allowed={"dead_root": "kept"})
