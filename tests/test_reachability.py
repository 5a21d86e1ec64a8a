"""Every top-level name in ``vaero_spark/`` must be reachable from code
that runs outside the test suite, or be allowlisted with a reason.

JVM-free: the check is an AST scan. Identifiers are followed from the
roots to a fixpoint:

- every identifier in the non-test ``.py`` files outside the package
  (``__spark_entry__.py``, ``bench*.py``, ``jobs/``, ``tools/``,
  ``perfbench/``): names, attributes, import aliases and
  identifier-shaped string constants;
- the package's own module-level statements that are neither a
  definition nor an import (they run on import);
- the allowlist below.

A top-level def, class or assignment is reached when any reached code
names it; its body's identifiers are then reached in turn. Matching is by
name, not by module, so the scan can miss dead code that shares a name
with live code but never flags live code as dead. ``vaero_spark/testing/``
(fixtures for tests) and dunder names are skipped.
"""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "vaero_spark"

# Reached only from tests, on purpose. Each entry says why it stays.
ALLOWLIST = {
    "vaero_spark.compiler.rows_as_json": "reference-interpreter oracle of "
    "test_reference_pipelines, test_property_parity and test_transforms_parity",
    "vaero_spark.oracle.run_plan": "reference-interpreter oracle of "
    "test_reference_pipelines, test_property_parity and test_transforms_parity",
    "vaero_spark.sources.random_events.random_events_json": "input generator "
    "of the reference-interpreter parity tests",
    "vaero_spark.operators.analytics.funnel_membership": "batch reference "
    "that the stream_funnel tests compare against",
    "vaero_spark.sinks.bucketed.save_bucketed": "bucketed-layout capability "
    "(SURVEY section 2), tested by test_bucketed.py",
    "vaero_spark.sinks.writers.IcebergSink": "cluster sink; it needs the "
    "Iceberg runtime jar, so without one only its guard test runs it",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _identifiers(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.match(n.value):
                out.add(n.value)
    return out


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _package_defs() -> tuple[dict[str, tuple[str, set[str]]], set[str]]:
    """({qualified name: (bare name, identifiers in its body)},
    identifiers of the module-level statements that run on import)."""
    defs: dict[str, tuple[str, set[str]]] = {}
    on_import: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        if (PACKAGE / "testing") in path.parents:
            continue
        mod = _module_name(path)
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [
                    n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
                ]
                if not all(isinstance(t, (ast.Name, ast.Tuple)) for t in targets):
                    names = []  # e.g. REGISTRY[k] = f: runs on import
            else:
                names = []
            names = [n for n in names if not (n.startswith("__") and n.endswith("__"))]
            if not names:
                on_import |= _identifiers(stmt)
                continue
            body = _identifiers(stmt) - set(names)
            for name in names:
                defs[f"{mod}.{name}"] = (name, body)
    return defs, on_import


def _outside_identifiers() -> set[str]:
    out: set[str] = set()
    for top, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))
                   and d not in ("tests", PACKAGE.name)]
        for name in files:
            if name.endswith(".py") and not name.startswith("test_") and name != "conftest.py":
                path = os.path.join(top, name)
                with open(path) as f:
                    out |= _identifiers(ast.parse(f.read(), path))
    return out


def _reached(defs, roots: set[str], start=()) -> set[str]:
    """Qualified names reached from the identifiers ``roots`` and the
    definitions ``start``, followed to a fixpoint."""
    reached = set(start)
    seen = set(roots).union(*(defs[q][1] for q in reached))
    frontier = True
    while frontier:
        frontier = False
        for qual, (name, body) in defs.items():
            if qual not in reached and name in seen:
                reached.add(qual)
                seen |= body
                frontier = True
    return reached


def _production_roots() -> tuple[dict, set[str]]:
    defs, on_import = _package_defs()
    return defs, on_import | _outside_identifiers()


def test_every_top_level_name_is_reachable():
    defs, roots = _production_roots()
    reached = _reached(defs, roots, start=set(ALLOWLIST) & set(defs))
    unreached = sorted(set(defs) - reached)
    assert not unreached, (
        "top-level names that no non-test code reaches; delete them, or add "
        f"them to ALLOWLIST with a reason: {unreached}"
    )


def test_allowlist_is_current():
    """An entry that no longer exists, that production code now reaches on
    its own, or that another entry reaches, leaves the list."""
    defs, roots = _production_roots()
    missing = sorted(q for q in ALLOWLIST if q not in defs)
    assert not missing, f"allowlisted names that no longer exist: {missing}"
    reached = _reached(defs, roots)
    live = sorted(q for q in ALLOWLIST if q in reached)
    assert not live, f"allowlisted names that production code reaches: {live}"
    redundant = sorted(
        q for q in ALLOWLIST if q in _reached(defs, roots, start=set(ALLOWLIST) - {q})
    )
    assert not redundant, f"allowlisted names that other entries reach: {redundant}"
