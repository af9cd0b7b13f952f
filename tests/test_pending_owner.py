"""One owner for pending maintenance: no module in ``orama_spark/`` other
than ``build/maintenance.py`` holds a string literal naming a pending
maintenance table, so every reader goes through its ``live_tables`` /
``pending_tables``. Docstrings do not count. AST only; no Spark."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "orama_spark")
OWNER = os.path.join("build", "maintenance.py")
PENDING = ("tombstones", "dictionary_delta")

_DOCUMENTED = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstrings(tree: ast.AST) -> set:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, _DOCUMENTED)
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def pending_literals(root: str = PKG, owner: str = OWNER) -> list[str]:
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            if not f.endswith(".py") or rel == owner:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            docs = _docstrings(tree)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docs
                    and any(name in node.value for name in PENDING)
                ):
                    found.append(f"{rel}:{node.lineno} {node.value!r}")
    return sorted(found)


def test_only_maintenance_names_pending_tables():
    assert pending_literals() == []


def test_checker_flags_a_literal_but_not_a_docstring(tmp_path):
    (tmp_path / "m.py").write_text(
        '"""Reads tombstones."""\n'
        "def f(d):\n"
        '    """Composes dictionary_delta."""\n'
        '    return d + "/tombstones"\n'
    )
    assert pending_literals(str(tmp_path)) == ["m.py:4 '/tombstones'"]
