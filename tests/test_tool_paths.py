"""Every ``tools/*.py`` script imports the package of the checkout it sits
in: none puts a literal absolute path on ``sys.path``, so a tool run
from a second checkout times that checkout's code, not another tree's.
Spark-free: this only parses source.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _absolute(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and os.path.isabs(node.value)
    )


def _literal_path_entries(tree: ast.Module) -> list[int]:
    """Line numbers of ``sys.path`` edits whose argument is, or names a
    variable bound to, an absolute path literal."""
    bound = {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and _absolute(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    lines = []
    for n in ast.walk(tree):
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr == "path"
            and isinstance(n.func.value.value, ast.Name)
            and n.func.value.value.id == "sys"
        ):
            continue
        for arg in n.args:
            if any(
                _absolute(a) or (isinstance(a, ast.Name) and a.id in bound)
                for a in ast.walk(arg)
            ):
                lines.append(n.lineno)
    return lines


def test_no_tool_puts_an_absolute_literal_on_sys_path():
    scripts = sorted(TOOLS.glob("*.py"))
    assert scripts
    offenders = [
        f"{p.name}:{line}"
        for p in scripts
        for line in _literal_path_entries(ast.parse(p.read_text(encoding="utf-8"), str(p)))
    ]
    assert not offenders, f"literal absolute path put on sys.path: {offenders}"


def test_detector_flags_literal_and_bound_paths():
    flagged = _literal_path_entries(
        ast.parse(
            'import sys\nsys.path.insert(0, "/srv/checkout")\n'
            'ROOT = "/srv/other"\nsys.path.append(ROOT)\n'
            "sys.path.insert(0, os.path.dirname(__file__))\n"
        )
    )
    assert flagged == [2, 4]
