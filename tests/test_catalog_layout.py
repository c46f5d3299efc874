"""Only ``io_catalog`` knows the catalog's on-disk layout.

Every other module of the package reaches the catalog through
``Catalog``'s public methods: none reads a private ``Catalog`` attribute
and none spells a layout path (``snap=``, ``/data/round=``,
``_manifests``). Files a module owns itself, such as the round's
seen-filter files under ``bloom_prefix``, are not catalog layout. The
check reads the source only; it starts no Spark session."""

from __future__ import annotations

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "twawler_spark"
CATALOG = PACKAGE / "io_catalog.py"
LAYOUT = re.compile(r"snap=|/data/round=|_manifests")


def _private_catalog_names() -> set[str]:
    cls = next(
        node for node in ast.parse(CATALOG.read_text()).body
        if isinstance(node, ast.ClassDef) and node.name == "Catalog"
    )
    names = set()
    for node in ast.walk(cls):
        if isinstance(node, ast.FunctionDef):
            names.add(node.name)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
    return {n for n in names if n.startswith("_") and not n.endswith("__")}


def _modules() -> list[pathlib.Path]:
    return sorted(p for p in PACKAGE.rglob("*.py") if p != CATALOG)


def test_no_module_reads_private_catalog_attributes():
    private = _private_catalog_names()
    assert {"_snap_dir", "_manifest_path"} <= private  # the scan sees the class
    found = [
        f"{path.relative_to(PACKAGE)}:{node.lineno}: .{node.attr}"
        for path in _modules()
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr in private
    ]
    assert found == []


def test_no_module_spells_catalog_layout_paths():
    found = [
        f"{path.relative_to(PACKAGE)}:{i}: {line.strip()}"
        for path in _modules()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if LAYOUT.search(line)
    ]
    assert found == []
