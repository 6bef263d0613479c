"""Every top-level public name in the package is reached by code that
runs outside the test suite: another package module (``__init__``
re-exports do not count), ``perfbench/*.py``, ``tools/*.py``,
``bench.py`` or ``__spark_entry__.py``.  Code that only its own tests
call is deleted, not kept.

Inside its own module a name is also reached when a reached name, or a
statement that runs on import, names it; a query registered with
``@query`` is reached through ``QUERIES``.  Spark-free: this only parses
source.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "transitdata_hfp_deduplicator_spark"

# kept although only tests reach them: "module" or "module::name" -> why
ALLOWED = {
    "sources/envelope.py::with_envelope_canonical": (
        "the reference's typed canonicalization path (A3), tested through "
        "stream_dedup"
    ),
    "sources/envelope.py::envelope_from_rows": (
        "builds the envelope frames that the A3 path reads"
    ),
    "streaming/heavyhitters_stream.py::guaranteed_top_k": (
        "the exact top-k read of the online heavy-hitter summary"
    ),
    "operators/bpe.py::apply_merges": (
        "reference the BPE trainer's final token table is pinned against"
    ),
    "plans/inspect.py": "plan-shape assertions the test suite runs on registry plans",
}


def _names(node: ast.AST) -> set[str]:
    """Every identifier a node names: variables, attributes, imported
    names and identifier-shaped strings (registry keys, getattr)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _registered(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.FunctionDef) and any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in stmt.decorator_list
    )


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), str(path))


def _modules() -> dict[str, ast.Module]:
    return {
        p.relative_to(PKG).as_posix(): _parse(p)
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "__init__.py"
    }


def _callers() -> set[str]:
    paths = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    paths += sorted((ROOT / "perfbench").glob("*.py"))
    paths += sorted((ROOT / "tools").glob("*.py"))
    out: set[str] = set()
    for p in paths:
        out |= _names(_parse(p))
    return out


def _unreached(mod: str, tree: ast.Module, named: set[str]) -> list[str]:
    defs = {n: s for s in tree.body for n in _defined(s)}
    todo = [n for n, s in defs.items() if n in named or _registered(s)]
    todo += [n for n in defs if ALLOWED.get(f"{mod}::{n}")]
    for s in tree.body:
        if not _defined(s) and not isinstance(s, (ast.Import, ast.ImportFrom)):
            todo += [n for n in _names(s) if n in defs]
    reached: set[str] = set()
    while todo:
        n = todo.pop()
        if n not in reached:
            reached.add(n)
            todo += [m for m in _names(defs[n]) if m in defs]
    return [n for n in defs if not n.startswith("_") and n not in reached]


def test_every_public_name_is_reached():
    modules = _modules()
    callers = _callers()
    names = {mod: _names(tree) for mod, tree in modules.items()}
    unreached = []
    for mod, tree in modules.items():
        if mod in ALLOWED:
            continue
        named = callers.union(*(v for m, v in names.items() if m != mod))
        unreached += [f"{mod}::{n}" for n in _unreached(mod, tree, named)]
    assert not unreached, (
        "public names nothing outside the tests reaches; delete them, or "
        f"add an ALLOWED entry with its reason: {unreached}"
    )


def test_allowlist_names_existing_code():
    modules = _modules()
    for entry in ALLOWED:
        mod, _, name = entry.partition("::")
        assert mod in modules, f"stale ALLOWED entry: {entry}"
        if name:
            defs = {n for s in modules[mod].body for n in _defined(s)}
            assert name in defs, f"stale ALLOWED entry: {entry}"
