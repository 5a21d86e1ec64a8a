"""Every top-level name in ``vaero_spark/`` must be reachable from code
that runs outside the test suite, and that code must not import
``vaero_spark.testing``.

JVM-free: the check is an AST scan. Identifiers are followed from the
roots to a fixpoint:

- every identifier in the non-test ``.py`` files outside the package
  (``__spark_entry__.py``, ``bench*.py``, ``jobs/``, ``tools/``,
  ``perfbench/``): names, attributes, import aliases and
  identifier-shaped string constants;
- the package's own module-level statements that are neither a
  definition nor an import (they run on import).

A top-level def, class or assignment is reached when any reached code
names it; its body's identifiers are then reached in turn. Matching is by
name, not by module, so the scan can miss dead code that shares a name
with live code but never flags live code as dead. ``vaero_spark/testing/``
(fixtures and oracles for tests) and dunder names are skipped: a
test-only helper lives there or in its test file, and
:func:`test_production_code_does_not_import_testing` keeps production
code from reaching it.
"""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "vaero_spark"

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


def _reached(defs, roots: set[str]) -> set[str]:
    """Qualified names reached from the identifiers ``roots``, followed
    to a fixpoint."""
    reached: set[str] = set()
    seen = set(roots)
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
    unreached = sorted(set(defs) - _reached(defs, roots))
    assert not unreached, (
        "top-level names that no non-test code reaches; delete them, or move "
        f"a test-only reference to vaero_spark/testing/: {unreached}"
    )


def _production_files() -> list[Path]:
    """The package outside ``testing/`` plus the non-test entry points:
    ``__spark_entry__.py``, ``bench*.py``, ``jobs/`` and ``tools/``
    (``perfbench/`` and ``tests/`` build fixtures from ``testing/``)."""
    files = [p for p in PACKAGE.rglob("*.py") if (PACKAGE / "testing") not in p.parents]
    files += [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    for d in ("jobs", "tools"):
        files += (ROOT / d).rglob("*.py")
    return sorted(files)


def _imported_modules(path: Path) -> set[str]:
    """Every module ``path`` imports; ``from M import a`` counts ``M``
    and ``M.a`` (``a`` may be a submodule), relative imports resolved."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def test_production_code_does_not_import_testing():
    """Test fixtures and oracles stay out of what production runs: no
    production file imports ``vaero_spark.testing`` or a module in it."""
    testing = "vaero_spark.testing"
    bad = sorted(
        f"{p.relative_to(ROOT)}: {m}"
        for p in _production_files()
        for m in _imported_modules(p)
        if m == testing or m.startswith(testing + ".")
    )
    assert not bad, f"production files that import {testing}: {bad}"
