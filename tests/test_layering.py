"""Package layering: the query specs sit on top of the engine.

``queries/`` holds the spec catalogue and its DuckDB oracles; it calls the
engine (``api``, ``registry``, ``llm``, ...), never the other way round, so
no engine module may import ``axonops_schema_registry_spark.queries``.
"""

from __future__ import annotations

import ast
import os

import axonops_schema_registry_spark

PKG = "axonops_schema_registry_spark"
PKG_DIR = os.path.dirname(axonops_schema_registry_spark.__file__)
QUERIES = f"{PKG}.queries"


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, os.path.dirname(PKG_DIR))[:-len(".py")]
    parts = rel.split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported_modules(tree: ast.AST, module: str, is_pkg: bool):
    """Every module an import statement in ``tree`` names, relative
    imports resolved against ``module`` and ``from X import Y`` counted as
    both ``X`` and ``X.Y`` (``Y`` may be a submodule)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module.split(".")
                if not is_pkg:
                    pkg = pkg[:-1]
                pkg = pkg[:len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([base] if base else []))
            yield node.lineno, base
            for alias in node.names:
                yield node.lineno, f"{base}.{alias.name}"


def _is_queries(name: str) -> bool:
    return name == QUERIES or name.startswith(QUERIES + ".")


def test_nothing_outside_queries_imports_queries():
    offenders = []
    for dirpath, _dirs, files in os.walk(PKG_DIR):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            module = _module_name(path)
            if _is_queries(module):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for line, name in _imported_modules(tree, module,
                                                fn == "__init__.py"):
                if _is_queries(name):
                    offenders.append(f"{module}:{line} imports {name}")
    assert not offenders, offenders
