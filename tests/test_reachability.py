"""Every engine module is imported from some entry point.

Walks ``import`` / ``from ... import`` statements (module-level and
function-local) with ``ast``, starting at the entry points: the package
API, the catalog, the RPC server, the contract query registry, the
bench scripts, the Spark entry, ``perfbench/`` and ``tools/``.  Tests are not entry points.  A module no walk reaches is
code the engine does not need; this fails instead of letting it ride
along unexercised.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "sonar_tantivy_spark"

ENTRY_FILES = [
    ROOT / PKG / "__init__.py",
    ROOT / PKG / "catalog.py",
    ROOT / PKG / "rpc.py",
    ROOT / PKG / "driver_queries.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
]

# Kept although no entry point imports them: NDJSON and CSV document
# sources in the reference's wire format.  Whether to delete them is a
# separate call for the project owner (ROADMAP, direction 3).
UNREACHED_BY_DESIGN = {
    f"{PKG}.sources.ndjson": "reference wire-format ingestion source",
    f"{PKG}.sources.csvsrc": "reference wire-format ingestion source",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _engine_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    """Engine modules one file imports, with every parent package that
    the import runs."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[:len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out: set[str] = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & modules.keys()


def _reached() -> set[str]:
    modules = _engine_modules()
    seen: set[str] = set()
    todo = list(ENTRY_FILES)
    while todo:
        path = todo.pop()
        for mod in _imported(path, modules) - seen:
            seen.add(mod)
            todo.append(modules[mod])
    return seen | {_module_name(p) for p in ENTRY_FILES
                   if p.is_relative_to(ROOT / PKG)}


def test_every_engine_module_is_reachable():
    unreached = set(_engine_modules()) - _reached() - set(UNREACHED_BY_DESIGN)
    assert not unreached, (
        "engine modules no entry point imports: " + ", ".join(sorted(unreached)))


def test_kept_exceptions_are_still_unreached_modules():
    """An exception that became reachable, or whose module is gone, is
    stale and must leave the list."""
    modules = _engine_modules()
    for mod in UNREACHED_BY_DESIGN:
        assert mod in modules, f"{mod} no longer exists"
        assert mod not in _reached(), f"{mod} is now reachable"
