"""Every ``from twawler_spark... import name`` in the entry-point scripts
(bench, driver entry, ``scripts/``, ``perfbench/``) resolves — including
imports local to a function, which only fail when that arm runs. No
Spark session is needed: only the modules are imported."""

from __future__ import annotations

import ast
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY_DIRS = ("scripts", "perfbench")
ENTRY_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")


def _entry_files() -> list[str]:
    files = [os.path.join(REPO, f) for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        files += sorted(
            os.path.join(REPO, d, f)
            for f in os.listdir(os.path.join(REPO, d))
            if f.endswith(".py")
        )
    return files


def _package_imports(path: str) -> list[tuple[int, str, str]]:
    """(line, module, name) for every ``from twawler_spark...`` import."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    return [
        (node.lineno, node.module, a.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module.split(".")[0] == "twawler_spark"
        for a in node.names
    ]


@pytest.mark.parametrize(
    "path", _entry_files(), ids=lambda p: os.path.relpath(p, REPO)
)
def test_entry_point_imports_resolve(path):
    for line, module, name in _package_imports(path):
        where = f"{os.path.relpath(path, REPO)}:{line}"
        mod = importlib.import_module(module)
        if hasattr(mod, name):
            continue
        # `from pkg import submodule` resolves once the submodule loads
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            pytest.fail(f"{where}: {module} has no name {name!r}")
