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
