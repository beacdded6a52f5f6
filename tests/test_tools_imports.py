"""Every maintained script under tools/ compiles, and every name it imports
from the package (``vers_spark…``) or from ``bench`` resolves — imports inside
functions included, which only run when the script does. Nothing else
exercises tools/, so a deleted helper or memo would otherwise break a script
silently."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

TOOLS = sorted((pathlib.Path(__file__).resolve().parents[1] / "tools").glob("*.py"))
_PROJECT_ROOTS = {"vers_spark", "bench"}


def _project_imports(tree: ast.AST):
    """(module, name or None, line) for every absolute project import."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level == 0 and node.module and node.module.split(".")[0] in _PROJECT_ROOTS:
                for alias in node.names:
                    yield node.module, alias.name, node.lineno
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in _PROJECT_ROOTS:
                    yield alias.name, None, node.lineno


def test_tools_set_is_not_empty():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_compiles_and_its_project_imports_resolve(path):
    src = path.read_text()
    compile(src, str(path), "exec")
    unresolved = []
    for module, name, line in _project_imports(ast.parse(src)):
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            unresolved.append(f"line {line}: {module} ({exc})")
            continue
        if name is None or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")  # a submodule
        except ImportError:
            unresolved.append(f"line {line}: {module}.{name}")
    assert not unresolved, unresolved
