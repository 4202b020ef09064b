"""Static import guard: every ``from mapreduceindexer_spark.<mod> import
<name>`` in the package, the scripts, the benchmarks and the tests must
name something that exists.

Most scripts never run in CI, and many imports sit inside function
bodies, so deleting or renaming a public name can leave a broken import
behind that no other test reaches. This walks the sources with ``ast``
and imports only the named modules — no SparkSession is started.
"""

from __future__ import annotations

import ast
import importlib
import os

from pyspark import SparkContext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mapreduceindexer_spark"
SOURCE_DIRS = (PACKAGE, "scripts", "tests", "perfbench")
SOURCE_FILES = ("bench.py", "__spark_entry__.py")


def _python_files() -> list[str]:
    files = [os.path.join(ROOT, f) for f in SOURCE_FILES]
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return sorted(f for f in files if os.path.isfile(f))


def _package_imports() -> dict[tuple[str, str], list[str]]:
    """(module, name) → the source locations that import it."""
    found: dict[tuple[str, str], list[str]] = {}
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.startswith(PACKAGE + ".")
            ):
                where = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
                for alias in node.names:
                    if alias.name != "*":
                        found.setdefault((node.module, alias.name), []).append(where)
    return found


def _exists(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    # ``from pkg import submodule`` names a module, not an attribute.
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_every_imported_package_name_exists():
    had_context = SparkContext._active_spark_context is not None
    imports = _package_imports()
    # A path or parsing slip would make the check vacuous.
    assert len(imports) > 100, len(imports)
    missing = [
        f"{module}.{name} (imported at {', '.join(where)})"
        for (module, name), where in sorted(imports.items())
        if not _exists(module, name)
    ]
    assert not missing, "\n".join(missing)
    # Importing the package must not have started Spark.
    assert had_context or SparkContext._active_spark_context is None
