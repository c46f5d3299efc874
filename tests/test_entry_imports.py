"""Every ``from twawler_spark... import name`` in the entry-point scripts
(bench, driver entry, ``scripts/``, ``perfbench/``) resolves — including
imports local to a function, which only fail when that arm runs — and
every keyword argument those scripts pass to an imported name is a
parameter of it, so a removed option fails here, not mid-run. perfbench's
probes, which patch the program's methods by name, still install. No
Spark session is needed: only the modules are imported."""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import subprocess
import sys

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


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), filename=path)


def _package_imports(tree: ast.Module) -> list[tuple[int, str, str, str]]:
    """(line, module, name, local name) for every ``from twawler_spark...``
    import."""
    return [
        (node.lineno, node.module, a.name, a.asname or a.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module.split(".")[0] == "twawler_spark"
        for a in node.names
    ]


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    # `from pkg import submodule` resolves once the submodule loads
    return importlib.import_module(f"{module}.{name}")


@pytest.mark.parametrize(
    "path", _entry_files(), ids=lambda p: os.path.relpath(p, REPO)
)
def test_entry_point_imports_resolve(path):
    for line, module, name, _ in _package_imports(_parse(path)):
        where = f"{os.path.relpath(path, REPO)}:{line}"
        try:
            _resolve(module, name)
        except ModuleNotFoundError:
            pytest.fail(f"{where}: {module} has no name {name!r}")


def _call_target(func: ast.expr, imported: dict):
    """The package object a call reaches: an imported name (``f(...)``,
    aliases included) or an attribute of an imported class or module
    (``Cls.f(...)``); None for any other call."""
    if isinstance(func, ast.Name):
        return imported.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        owner = imported.get(func.value.id)
        if inspect.isclass(owner) or inspect.ismodule(owner):
            return getattr(owner, func.attr, None)
    return None


@pytest.mark.parametrize(
    "path", _entry_files(), ids=lambda p: os.path.relpath(p, REPO)
)
def test_entry_point_keywords_match_signatures(path):
    tree = _parse(path)
    imported = {
        local: _resolve(module, name)
        for _, module, name, local in _package_imports(tree)
    }
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        target = _call_target(node.func, imported)
        if target is None or not callable(target):
            continue
        params = inspect.signature(target).parameters.values()
        if any(p.kind is p.VAR_KEYWORD for p in params):
            continue
        names = {p.name for p in params}
        for kw in node.keywords:
            if kw.arg is not None and kw.arg not in names:
                pytest.fail(
                    f"{os.path.relpath(path, REPO)}:{node.lineno}: "
                    f"{ast.unparse(node.func)} takes no keyword {kw.arg!r}"
                )


def test_perfbench_probes_install():
    """``perfbench/probes.Spans.install`` wraps catalog, seen-filter and
    DataFrame methods looked up by name in the owning class; a renamed
    or moved method would otherwise break every perfbench run, and only
    at run time. A fresh interpreter, so no patch leaks into this one."""
    subprocess.run(
        [sys.executable, "-c", "import probes; probes.Spans().install()"],
        cwd=os.path.join(REPO, "perfbench"),
        env={**os.environ, "PYTHONPATH": os.pathsep.join([REPO, os.environ.get("PYTHONPATH", "")])},
        check=True,
        timeout=300,
    )
