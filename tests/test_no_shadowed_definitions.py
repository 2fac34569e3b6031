"""A module or class body that defines the same function or class name twice
keeps only the last definition: the earlier ones are dead code, and a
shadowed test is never collected, so it passes silently forever. A name that
is imported and never read is dead code too. With no linter in the repo,
these tests are the check. Two more guards keep one way to do a thing: the
package reads parquet only through ``io.sources.read_parquet``, which reads
the schema from the footer instead of running Spark's inference job, and the
tests build no session of their own: ``getOrCreate()`` on a builder would
change the shared session's conf for every module collected after theirs.
A helper two test modules need lives once, in ``conftest.py``, instead of
being copied; and no new test file or test is named after the round that
wrote it."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
CHECKED = ("tests", "kda_flink_demo_spark", "scripts", "bench.py", "__spark_entry__.py")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
# Test files named after a round that predate the naming guard. A test's id
# is its file and its name, and these ids are kept stable, so the files keep
# their names; no other file may join them.
ROUND_NAMED_FILES = {
    "test_opt_r13.py",
    "test_opt_r14.py",
    "test_round5_ops.py",
    "test_round6_ops.py",
    "test_round6_streaming.py",
    "test_round7_ops.py",
    "test_round8_ops.py",
    "test_round9_ops.py",
    "test_round10_ops.py",
}


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


def _round_names(path: pathlib.Path, tree: ast.Module) -> list[str]:
    """The module's name if it carries a round (``test_round<n>``,
    ``_r<n>.py``) and is not one of ``ROUND_NAMED_FILES``, and ``name line``
    for every test function whose name carries one (``round<n>``)."""
    named = re.search(r"test_round\d+|_r\d+\.py$", path.name) and path.name not in ROUND_NAMED_FILES
    out = [path.name] if named else []
    out += [
        f"{node.name} {node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, FUNCS) and node.name.startswith("test") and re.search(r"round\d+", node.name)
    ]
    return out


def test_tests_are_not_named_after_a_round():
    found = {}
    for path in _sources("tests"):
        names = _round_names(path, ast.parse(path.read_text(), filename=str(path)))
        if names:
            found[str(path.relative_to(ROOT))] = names
    assert not found, f"tests named after a round: {found}"
    assert all((ROOT / "tests" / name).is_file() for name in ROUND_NAMED_FILES)


def test_no_function_body_is_copied_between_test_modules():
    """Two module-level functions in different test modules with the same
    body (docstrings aside) are one helper written twice."""
    owners: dict[str, list[str]] = {}
    for path in _sources("tests"):
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if not isinstance(node, FUNCS):
                continue
            body = node.body[1:] if ast.get_docstring(node) is not None else node.body
            key = ast.dump(ast.Module(body=body, type_ignores=[]))
            owners.setdefault(key, []).append(f"{path.relative_to(ROOT)}::{node.name}")
    copies = [names for names in owners.values() if len({n.split("::")[0] for n in names}) > 1]
    assert not copies, f"function bodies copied between test modules: {copies}"
