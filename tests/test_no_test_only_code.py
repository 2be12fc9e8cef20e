"""Every top-level package function and class is reached from an entry
point, not only from tests (a stdlib ``ast`` reachability check).

The entry points are the registered queries, the CLI, ``prebuild``,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``scripts/``. A
definition is dead when its name appears in no non-test source outside its
own body and outside the bodies of other dead definitions; removing one dead
definition can orphan the helpers it alone used, so this iterates to a
fixpoint. ``__init__`` re-exports do not count as a use. Names are matched
as words over the source text, docstrings and comments included, so a
definition named in prose elsewhere counts as reached."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "tigerbeetle_cdc_nats_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
WORD = re.compile(r"[A-Za-z_]\w*")

#: Kept without an entry-point caller, each for the reason given.
ALLOWED = {
    "make_publish_datasource":
        "the paper's JetStream broker path (runner.go:484-584); the CLI "
        "publishes to parquet",
    "ensure_resource":
        "sink resource create/validate/update (runner.go:207-291)",
    "schema_to_json":
        "the schema half of the resource config diff (runner.go:207-291)",
    "parse_addresses":
        "config.go:373-418 validator, ported with config_test.go",
    "parse_storage_type":
        "config.go:373-418 validator, ported with config_test.go",
    "ingest_pipeline":
        "the ingest stage of the end-to-end corpus rehearsal, ahead of the "
        "maintenance that scripts/ drive",
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


def _sources():
    yield from sorted(PKG.rglob("*.py"))
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    for d in ("perfbench", "scripts"):
        yield from sorted((ROOT / d).rglob("*.py"))


def dead_definitions() -> list[str]:
    roots: set[str] = set()   # words used outside any candidate body
    bodies: dict[tuple[str, str], set[str]] = {}  # candidate -> its words
    for p in _sources():
        text = p.read_text(encoding="utf-8")
        lines = text.splitlines()
        owner: list = [None] * len(lines)
        for node in ast.parse(text).body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                if p.name != "__init__.py":
                    continue
                key = "re-export"
            elif (PKG in p.parents and isinstance(node, DEFS)
                  and not _registered(node)):
                key = (str(p.relative_to(ROOT)), node.name)
                bodies[key] = set()
            else:
                continue
            first = min([node.lineno]
                        + [d.lineno for d in getattr(node, "decorator_list", [])])
            for i in range(first - 1, node.end_lineno):
                owner[i] = key
        for key, line in zip(owner, lines):
            words = set(WORD.findall(line))
            if key is None:
                roots |= words
            elif key != "re-export":
                bodies[key] |= words
    dead: set[tuple[str, str]] = set()
    while True:
        used = roots.union(*(ws - {k[1]} for k, ws in bodies.items()
                             if k not in dead))
        new = {k for k in bodies
               if k not in dead and k[1] not in used and k[1] not in ALLOWED}
        if not new:
            return sorted(f"{f}:{name}" for f, name in dead)
        dead |= new


def test_no_definition_only_tests_reach():
    assert dead_definitions() == []
