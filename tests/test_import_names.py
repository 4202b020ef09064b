"""Static import guard: every ``from mapreduceindexer_spark.<mod> import
<name>`` in the package, the scripts, the benchmarks and the tests must
name something that exists — and so must every attribute read through a
module alias (``from mapreduceindexer_spark.operators import similarity
as sim`` then ``sim.<name>``).

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


def _is_module(name: str) -> bool:
    try:
        importlib.import_module(name)
    except ModuleNotFoundError:
        return False
    return True


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _scope_nodes(scope: ast.AST):
    """The nodes of one scope, not descending into nested scopes (whose
    defining nodes are still yielded)."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))


def _alias_reads(scope, inherited, where, found) -> None:
    """Record ``alias.attr`` loads in ``scope`` whose ``alias`` is bound
    to a package module, here or in an enclosing scope, and is not
    rebound locally (a local assignment or argument of the same name
    shadows it for the whole scope)."""
    nodes = list(_scope_nodes(scope))
    shadowed = {
        n.id
        for n in nodes
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load)
    }
    if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        a = scope.args
        shadowed |= {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        shadowed |= {x.arg for x in (a.vararg, a.kwarg) if x is not None}
    aliases = {k: v for k, v in inherited.items() if k not in shadowed}
    for node in nodes:
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and node.module.startswith(PACKAGE)
        ):
            for alias in node.names:
                full = f"{node.module}.{alias.name}"
                if alias.name != "*" and _is_module(full):
                    aliases[alias.asname or alias.name] = full
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname and alias.name.startswith(PACKAGE + "."):
                    aliases[alias.asname] = alias.name
    for node in nodes:
        if isinstance(node, _SCOPES):
            _alias_reads(node, aliases, where, found)
        elif (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            key = (aliases[node.value.id], node.attr)
            found.setdefault(key, []).append(f"{where}:{node.lineno}")


def _module_alias_loads() -> dict[tuple[str, str], list[str]]:
    """(module, attribute) → the source locations that read
    ``alias.attribute`` where ``alias`` is bound to a package module by
    ``from mapreduceindexer_spark.<pkg> import <module> [as alias]`` or
    ``import mapreduceindexer_spark.<module> as alias``. Assignments
    (``alias.attr = ...``, e.g. a test patching a private helper) are
    not reads and are skipped."""
    found: dict[tuple[str, str], list[str]] = {}
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        _alias_reads(tree, {}, os.path.relpath(path, ROOT), found)
    return found


def _exists(module: str, name: str) -> bool:
    # ``from pkg import submodule`` names a module, not an attribute.
    return hasattr(importlib.import_module(module), name) or _is_module(
        f"{module}.{name}"
    )


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


def test_every_module_alias_attribute_exists():
    had_context = SparkContext._active_spark_context is not None
    loads = _module_alias_loads()
    # A scoping slip would make the check vacuous.
    assert len(loads) > 100, len(loads)
    missing = [
        f"{module}.{name} (read at {', '.join(where)})"
        for (module, name), where in sorted(loads.items())
        if not hasattr(importlib.import_module(module), name)
    ]
    assert not missing, "\n".join(missing)
    assert had_context or SparkContext._active_spark_context is None
