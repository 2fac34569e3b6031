"""A module or class body that defines the same function or class name twice
keeps only the last definition: the earlier ones are dead code, and a
shadowed test is never collected, so it passes silently forever. A name that
is imported and never read is dead code too. With no linter in the repo,
these tests are the check. Two more guards keep one way to do a thing: the
package reads parquet only through ``io.sources.read_parquet``, which reads
the schema from the footer instead of running Spark's inference job, and the
tests build no session of their own: ``getOrCreate()`` on a builder would
change the shared session's conf for every module collected after theirs."""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
CHECKED = ("tests", "kda_flink_demo_spark", "scripts", "bench.py", "__spark_entry__.py")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


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


def _sources(target: str) -> list[pathlib.Path]:
    """The file ``target``, or the ``.py`` files under the directory."""
    path = ROOT / target
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


@pytest.mark.parametrize("package", CHECKED)
def test_no_name_is_defined_twice_in_one_body(package):
    found = {}
    for path in _sources(package):
        dup = _shadowed(ast.parse(path.read_text(), filename=str(path)))
        if dup:
            found[str(path.relative_to(ROOT))] = dup
    assert not found, f"shadowed definitions: {found}"


def _unused_imports(tree: ast.Module, lines: list[str]) -> list[str]:
    """``name line`` for every name a module or function body imports and
    never reads (a module's names may be read anywhere in it, or listed in
    ``__all__``). ``__future__`` imports and ``# noqa`` lines are exempt."""
    out = []
    for scope in [tree] + [n for n in ast.walk(tree) if isinstance(n, FUNCS)]:
        imported, todo = [], list(scope.body)
        while todo:
            node = todo.pop()
            if isinstance(node, DEFS + (ast.Lambda,)):
                continue  # a nested body is its own scope
            todo.extend(ast.iter_child_nodes(node))
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__" or "# noqa" in lines[node.lineno - 1]:
                continue
            imported += [
                ((a.asname or a.name).split(".")[0], node.lineno) for a in node.names if a.name != "*"
            ]
        read = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        if scope is tree:
            for node in ast.walk(tree):
                if isinstance(node, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
                ):
                    read |= {c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)}
        out += [f"{name} {line}" for name, line in imported if name not in read]
    return out


@pytest.mark.parametrize("package", CHECKED)
def test_no_import_is_unused(package):
    found = {}
    for path in _sources(package):
        text = path.read_text()
        unused = _unused_imports(ast.parse(text, filename=str(path)), text.splitlines())
        if unused:
            found[str(path.relative_to(ROOT))] = unused
    assert not found, f"unused imports: {found}"


def _reader_chain(call: ast.Call) -> list:
    """The calls and attributes a call's receiver is built from, outermost
    first: ``spark.read.schema(s).parquet(p)`` gives ``schema(s)``, ``read``,
    ``spark``."""
    chain, node = [], call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        chain.append(node)
        node = node.func if isinstance(node, ast.Call) else node.value
    return chain


def _parquet_reads(tree: ast.Module) -> list[str]:
    """``line`` of every batch parquet read (``<x>.read....parquet(...)`` or
    ``<x>.read....format("parquet")....load(...)``) outside
    ``io.sources._read_with_footer``."""
    allowed = set()
    for fn in ast.walk(tree):
        if isinstance(fn, FUNCS) and fn.name == "_read_with_footer":
            allowed |= {id(n) for n in ast.walk(fn)}
    out = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr not in ("parquet", "load") or id(node) in allowed:
            continue
        chain = _reader_chain(node)
        if not any(isinstance(n, ast.Attribute) and n.attr == "read" for n in chain):
            continue
        parquet_format = any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "format"
            and any(isinstance(a, ast.Constant) and a.value == "parquet" for a in n.args)
            for n in chain
        )
        if node.func.attr == "parquet" or parquet_format:
            out.append(str(node.lineno))
    return out


def test_parquet_is_read_only_through_read_parquet():
    found = {}
    for path in sorted((ROOT / "kda_flink_demo_spark").rglob("*.py")):
        reads = _parquet_reads(ast.parse(path.read_text(), filename=str(path)))
        if reads:
            found[str(path.relative_to(ROOT))] = reads
    assert not found, f"parquet reads outside io.sources.read_parquet: {found}"


def test_tests_build_no_session_of_their_own():
    """Every test takes conftest's ``spark``, built by ``session.get_spark``."""
    found = {}
    for path in _sources("tests"):
        builders = [
            str(node.lineno)
            for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
            if isinstance(node, ast.Attribute)
            and node.attr == "builder"
            and isinstance(node.value, ast.Name)
            and node.value.id == "SparkSession"
        ]
        if builders:
            found[str(path.relative_to(ROOT))] = builders
    assert not found, f"SparkSession.builder in tests: {found}"
