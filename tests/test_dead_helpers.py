"""No dead nested helpers: a function defined inside another function in
``orama_spark/`` must be named somewhere in its enclosing function
(called, returned, passed or stored) outside its own body. AST only; no
Spark."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "orama_spark")

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _own_nodes(fn: ast.AST, skip: ast.AST):
    """Every node inside ``fn`` except those inside ``skip``."""
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        yield node
        stack.extend(ast.iter_child_nodes(node))


def _nested_defs(fn: ast.AST):
    """Function defs whose nearest enclosing function is ``fn``."""
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        node = stack.pop()
        if isinstance(node, _FUNCS):
            yield node
        elif not isinstance(node, (ast.Lambda, ast.ClassDef)):
            stack.extend(ast.iter_child_nodes(node))


def dead_nested_helpers(root: str = PKG) -> list[str]:
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for outer in ast.walk(tree):
                if not isinstance(outer, _FUNCS):
                    continue
                for inner in _nested_defs(outer):
                    named = any(
                        isinstance(n, ast.Name) and n.id == inner.name
                        for n in _own_nodes(outer, inner)
                    )
                    if not named:
                        rel = os.path.relpath(path, os.path.dirname(root))
                        found.append(f"{rel}:{inner.lineno} {outer.name}.{inner.name}")
    return sorted(found)


def test_no_dead_nested_helpers():
    assert dead_nested_helpers() == []


def test_checker_flags_an_unnamed_helper(tmp_path):
    (tmp_path / "m.py").write_text(
        "def outer(x):\n"
        "    def used(y):\n"
        "        return y\n"
        "    def dead(y):\n"
        "        return dead(y)\n"
        "    return used(x)\n"
    )
    assert dead_nested_helpers(str(tmp_path)) == [f"{tmp_path.name}/m.py:4 outer.dead"]


# index tables are read with their stored schema (build/manifest.py
# read_table); a hand copy of a table's schema drifts from the writer's
READ_DIRS = ("query", "build", "persistence")
READER = ("build/manifest.py", "read_table")


def table_reads(root: str = PKG) -> list[str]:
    """``path:line what`` of every ``<x>.read`` (a Spark DataFrameReader;
    a call such as ``f.read()`` is not one) outside ``READER`` and every
    ``*_READ_SCHEMA`` assignment in the modules of ``READ_DIRS``."""
    found = []
    for sub in READ_DIRS:
        for dirpath, _dirs, files in os.walk(os.path.join(root, sub)):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, root)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                allowed, called = set(), set()
                for node in ast.walk(tree):
                    if isinstance(node, _FUNCS) and (rel, node.name) == READER:
                        allowed |= {id(n) for n in ast.walk(node)}
                    elif isinstance(node, ast.Call):
                        called.add(id(node.func))
                for node in ast.walk(tree):
                    if (isinstance(node, ast.Attribute) and node.attr == "read"
                            and id(node) not in called and id(node) not in allowed):
                        found.append(f"{rel}:{node.lineno} .read")
                    targets = node.targets if isinstance(node, ast.Assign) else (
                        [node.target] if isinstance(node, ast.AnnAssign) else [])
                    for t in targets:
                        if isinstance(t, ast.Name) and t.id.endswith("_READ_SCHEMA"):
                            found.append(f"{rel}:{node.lineno} {t.id}")
    return sorted(found)


def test_tables_read_with_their_stored_schema():
    assert table_reads() == []


def test_reads_checker_flags_a_reader_and_a_schema(tmp_path):
    (tmp_path / "build").mkdir()
    (tmp_path / "build" / "manifest.py").write_text(
        "def read_table(spark, path):\n"
        "    return spark.read.parquet(path)\n"
    )
    (tmp_path / "query").mkdir()
    (tmp_path / "query" / "m.py").write_text(
        "X_READ_SCHEMA = None\n"
        "def load(spark, fh):\n"
        "    fh.read()\n"
        "    return spark.read.schema(X_READ_SCHEMA).parquet('t')\n"
    )
    assert table_reads(str(tmp_path)) == [
        "query/m.py:1 X_READ_SCHEMA", "query/m.py:4 .read",
    ]
