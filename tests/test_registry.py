"""Registry and import-graph contracts.

Every queries() entry carries a DuckDB oracle (README: zero rows-only
queries), the leading window is a duplicate-free subset of queries(), and
every `from whitebox_tools_spark.<mod> import <name>` in the tree resolves —
including function-local imports, which only fail when their branch runs.
"""

import ast
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "whitebox_tools_spark"
SCANNED = [PKG, "scripts", "tests", "bench.py", "perfbench", "__spark_entry__.py"]


def test_every_query_has_an_oracle():
    from whitebox_tools_spark.queries import flagship

    qs = flagship.queries()
    assert set(qs) == set(flagship.oracle_sql())
    window = flagship._DRIVER_WINDOW
    assert len(window) == len(set(window))
    assert set(window) <= set(qs)
    assert list(qs)[: len(window)] == window


def _py_files():
    for entry in SCANNED:
        path = os.path.join(REPO, entry)
        if path.endswith(".py"):
            yield path
            continue
        for root, _dirs, files in os.walk(path):
            yield from (os.path.join(root, f) for f in sorted(files) if f.endswith(".py"))


def _package_imports(path):
    """(lineno, module, name) for each package import in the file; name is
    None for a plain `import <module>`."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PKG or node.module.startswith(PKG + "."):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG + "."):
                    yield node.lineno, alias.name, None


def _resolves(module, name):
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_package_imports_resolve():
    checked, dangling = 0, []
    for path in _py_files():
        for lineno, module, name in _package_imports(path):
            checked += 1
            if not _resolves(module, name):
                rel = os.path.relpath(path, REPO)
                dangling.append(f"{rel}:{lineno}: from {module} import {name}")
    assert checked > 100
    assert not dangling, "\n".join(dangling)

