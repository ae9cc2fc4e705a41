"""One mechanism per concern, checked on the engine's source.

* Concurrent Spark jobs: only ``pool.py`` names ``ThreadPoolExecutor``
  (or imports ``concurrent.futures``); every other module runs its jobs
  through ``pool.jobs`` / ``pool.run_all``.
* The broadcast gate: ``_BCAST_KEY_BYTES_CAP`` is compared in exactly
  one function, ``search._broadcastable``.
* Manifest commits: only ``sources/tableio.py`` names ``_write_json``
  or ``_manifest``; everything else commits through the storage's
  ``write_manifest``.
* Merges: ``merge.py`` has one ``jobs`` block and one
  ``termdict_from_postings`` call — one rewrite routine behind
  compact, compact_to and tiered_compact.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "sonar_tantivy_spark"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text(), str(path))


def _names(tree: ast.AST) -> set[str]:
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
    return out


def test_only_pool_runs_a_thread_pool():
    offenders = [
        str(path.relative_to(ROOT)) for path, tree in _modules()
        if path.name != "pool.py"
        and _names(tree) & {"ThreadPoolExecutor", "concurrent.futures",
                            "concurrent"}]
    assert offenders == []


def test_broadcast_cap_is_compared_in_one_function():
    where: set[str] = set()
    for path, tree in _modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Compare) \
                        and "_BCAST_KEY_BYTES_CAP" in _names(node):
                    where.add(f"{path.stem}.{fn.name}")
    assert where == {"search._broadcastable"}


def test_only_the_storage_commits_a_manifest():
    offenders = [
        str(path.relative_to(ROOT)) for path, tree in _modules()
        if path.relative_to(PKG).as_posix() != "sources/tableio.py"
        and _names(tree) & {"_write_json", "_manifest"}]
    assert offenders == []


def test_merge_has_one_rewrite():
    tree = ast.parse((PKG / "operators" / "merge.py").read_text())
    calls = Counter(
        node.func.id for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name))
    assert calls["jobs"] == 1
    assert calls["termdict_from_postings"] == 1
