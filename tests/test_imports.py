"""Dangling-import guard, no Spark session: every name imported from the
package by the package itself, the tests, the tools, the examples, the
benchmark, bench.py and the driver entry module must resolve.  A deleted
function that some script still imports fails here, not at its next run."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "datawarehouse_etl_using_hyperjoin_spark"
TREES = (PKG, "tests", "tools", "examples", "perfbench")
FILES = ("bench.py", "__spark_entry__.py")


def _sources():
    for tree in TREES:
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, tree)):
            for name in sorted(files):
                if name.endswith(".py"):
                    yield os.path.join(dirpath, name)
    for name in FILES:
        yield os.path.join(ROOT, name)


def _package_of(path: str) -> str | None:
    rel = os.path.relpath(path, ROOT)
    if not rel.startswith(PKG + os.sep):
        return None
    return ".".join(rel[:-3].split(os.sep)[:-1])


def _package_imports(path: str):
    """(module, name or None, line) for each import of the package."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    pkg = _package_of(path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                if pkg is None:
                    continue
                base = pkg.split(".")
                base = base[: len(base) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            if module == PKG or module.startswith(PKG + "."):
                for alias in node.names:
                    yield module, alias.name, node.lineno
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    yield alias.name, None, node.lineno


def test_every_package_import_resolves():
    checked, missing = set(), []
    for path in _sources():
        for module, name, line in _package_imports(path):
            where = f"{os.path.relpath(path, ROOT)}:{line}"
            checked.add(os.path.relpath(path, ROOT).split(os.sep)[0])
            try:
                mod = importlib.import_module(module)
            except ImportError as exc:
                missing.append(f"{where}: {module} ({exc})")
                continue
            if name is None or name == "*" or hasattr(mod, name):
                continue
            try:  # a submodule not yet imported
                found = importlib.util.find_spec(f"{module}.{name}") is not None
            except ModuleNotFoundError:  # ``module`` is not a package
                found = False
            if not found:
                missing.append(f"{where}: {module}.{name}")
    # the walk is not vacuous: every scanned tree and file imports the package
    assert checked == set(TREES) | set(FILES), checked
    assert not missing, "\n".join(missing)
