"""A module or class body that defines the same function or class name twice
keeps only the last definition: the earlier ones are dead code, and a
shadowed test is never collected, so it passes silently forever. With no
linter in the repo, this test is the check."""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
CHECKED = ("tests", "kda_flink_demo_spark")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _shadowed(tree: ast.Module) -> list[str]:
    """``name (line, line, ...)`` for every name a module or class body
    defines more than once."""
    out = []
    for body in [tree.body] + [n.body for n in ast.walk(tree) if isinstance(n, ast.ClassDef)]:
        lines: dict[str, list[int]] = {}
        for node in body:
            if isinstance(node, DEFS):
                lines.setdefault(node.name, []).append(node.lineno)
        out += [f"{name} {tuple(ls)}" for name, ls in lines.items() if len(ls) > 1]
    return out


@pytest.mark.parametrize("package", CHECKED)
def test_no_name_is_defined_twice_in_one_body(package):
    found = {}
    for path in sorted((ROOT / package).rglob("*.py")):
        dup = _shadowed(ast.parse(path.read_text(), filename=str(path)))
        if dup:
            found[str(path.relative_to(ROOT))] = dup
    assert not found, f"shadowed definitions: {found}"
