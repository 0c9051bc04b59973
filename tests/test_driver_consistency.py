"""Spark-free consistency of the package and the driver file.

The driver rows import the package lazily, inside their bodies, so a
deleted or renamed module only surfaces when that row runs. These checks
catch it statically: every package module imports, every lazy
``from duckdb_spatial_spark... import name`` in ``__spark_entry__.py``
resolves, every ``oracle_sql()`` key names a registered row, and no
row function, oracle helper or testdata view is left behind with no
caller.
"""

import ast
import importlib
import pathlib
import pkgutil
import re

import duckdb_spatial_spark
import __spark_entry__ as E

_ENTRY = pathlib.Path(E.__file__)


def test_every_package_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            duckdb_spatial_spark.__path__, prefix="duckdb_spatial_spark."
        )
    ]
    assert names
    for name in names:
        importlib.import_module(name)


def _lazy_package_imports():
    tree = ast.parse(_ENTRY.read_text())
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.split(".")[0] == "duckdb_spatial_spark"
            ):
                for alias in node.names:
                    yield fn.name, node.module, alias.name


def _resolves(module, name):
    try:
        mod = importlib.import_module(module)
        return hasattr(mod, name) or bool(importlib.import_module(f"{module}.{name}"))
    except ImportError:
        return False


def test_driver_lazy_imports_resolve():
    seen = list(_lazy_package_imports())
    assert seen
    missing = [
        f"{fn}: from {module} import {name}"
        for fn, module, name in seen
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)


def test_every_oracle_names_a_row():
    rows = set(E.queries()) | set(E.retired_queries())
    orphans = sorted(set(E.oracle_sql()) - rows)
    assert not orphans, orphans


def test_no_orphan_row_or_oracle_helper():
    tree = ast.parse(_ENTRY.read_text())
    defs = [n.name for n in tree.body if isinstance(n, ast.FunctionDef)]
    rows = set(E.queries().values()) | set(E.retired_queries().values())
    unregistered = [f for f in defs if f.startswith("q_") and getattr(E, f) not in rows]
    called = {
        n.func.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }
    uncalled = [
        f for f in defs if f.startswith("_") and f.endswith("_oracle") and f not in called
    ]
    text = _ENTRY.read_text()
    unread = [t for t in E.TABLES if not re.search(rf"\b(?:FROM|JOIN)\s+{t}\b", text)]
    assert not unregistered and not uncalled and not unread, (unregistered, uncalled, unread)


def test_queries_fit_the_driver_window():
    # the external driver oracle-checks only the first 50 queries() rows;
    # a row past that would go unchecked without any failure
    assert len(E.queries()) <= 50
