"""Every package import in the repo resolves — checked without Spark.

A function-local ``from incremental_entity_extraction_spark.x import name``
of a deleted name only fails when that function runs, so a code path no
test drives could ship broken.  This test parses every ``.py`` file of the
package, ``jobs/``, ``perfbench/``, ``tests/``, ``examples/`` and ``tools/``
with ``ast`` (every scope, not just module level) and asserts that each
imported package module exists and each imported name is an attribute or a
submodule of it.  Importing the modules loads pyspark as a library; no
session starts.
"""

import ast
import importlib
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "incremental_entity_extraction_spark"
SCANNED = (PKG, "jobs", "perfbench", "tests", "examples", "tools")


def _py_files():
    for top in SCANNED:
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    yield os.path.join(dirpath, fn)


def _package_imports(path):
    """(line, module, name or None) for each package import in the file."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module == PKG or node.module.startswith(PKG + "."):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == PKG or alias.name.startswith(PKG + "."):
                    yield node.lineno, alias.name, None


def _unresolved(module, name):
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return f"module {module} does not import ({e})"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    if importlib.util.find_spec(f"{module}.{name}") is not None:
        return None
    return f"{module} has no attribute or submodule {name!r}"


def test_package_imports_resolve():
    files = list(_py_files())
    for top in SCANNED:
        assert any(
            os.path.relpath(p, ROOT).startswith(top + os.sep) for p in files
        ), f"no .py files found under {top}/"
    bad = [
        f"{os.path.relpath(path, ROOT)}:{line}: {msg}"
        for path in files
        for line, module, name in _package_imports(path)
        if (msg := _unresolved(module, name)) is not None
    ]
    assert not bad, "\n".join(bad)
