"""Reachability gate: every package module is imported, directly or through
other package modules, from one of the product's entry points.

The closure is computed from the source with ``ast`` (no import runs, no
Spark), following module-level and function-level imports alike. A module
that no entry point reaches is dead code; this test keeps it from landing
or growing back. ``UNREACHED`` names the few unreached modules still kept
for their tests until they are deleted; the list may only shrink.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pyanomalydetector2_spark

PKG = "pyanomalydetector2_spark"
ROOT = Path(pyanomalydetector2_spark.__file__).parent

ENTRY_POINTS = [
    f"{PKG}.run_suite",
    f"{PKG}.constraints",
    f"{PKG}.constraints.config",
    f"{PKG}.streaming.suite_stream",
    f"{PKG}.pipeline",
    f"{PKG}.plans",
]

UNREACHED = {
    f"{PKG}.operators.asof",
    f"{PKG}.operators.audio_fp",
    f"{PKG}.operators.intervals",
    f"{PKG}.operators.sessions",
    f"{PKG}.sources.csv_source",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in ROOT.rglob("*.py"):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join([PKG, *parts])] = path
    return mods


def _with_parents(name: str) -> list[str]:
    """Importing ``a.b.c`` also runs ``a/__init__`` and ``a/b/__init__``."""
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    is_pkg = path.name == "__init__.py"
    here = name if is_pkg else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = here.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            # ``from pkg import mod`` imports the submodule ``pkg.mod``
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            found.update(m for m in _with_parents(t) if m in mods)
    return found


def _closure(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [m for e in ENTRY_POINTS for m in _with_parents(e)]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imports(name, mods[name], mods) - seen)
    return seen


def test_entry_points_exist():
    mods = _package_modules()
    assert [e for e in ENTRY_POINTS if e not in mods] == []


def test_every_package_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    unreached = set(mods) - _closure(mods)
    assert sorted(unreached - UNREACHED) == [], "modules no entry point imports"
    # a listed module that was deleted or became reachable leaves the list
    assert sorted(UNREACHED - unreached) == []
