"""Spark-free contract checks: the package imports, the driver registry
is consistent, and no import — top-level or function-local — names a
module or symbol that does not exist. A lazy import of a removed module
would otherwise fail only when the query that reaches it runs."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pkgutil
import sys
from pathlib import Path

import pytest

import cis555_search_engine_spark as pkg

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

FIRST_PARTY = (pkg.__name__, "tools", "tests", "__spark_entry__")


def _package_modules() -> list[str]:
    return [pkg.__name__] + [
        m.name for m in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + ".")
    ]


def _source_files() -> list[tuple[str, Path]]:
    """(dotted module name, path) of every package module, tools/*.py and
    tests/*.py — a test that imports a deleted module fails here in
    seconds, not when its Spark test runs."""
    out = [(m, Path(importlib.util.find_spec(m).origin)) for m in _package_modules()]
    for d in ("tools", "tests"):
        out += [(f"{d}.{p.stem}", p) for p in sorted((REPO / d).glob("*.py"))]
    return out


def _spec(name: str):
    """find_spec, with None (not an error) for a missing parent or a
    dotted name under a plain module."""
    try:
        return importlib.util.find_spec(name)
    except ModuleNotFoundError:
        return None


def _imports(modname: str, path: Path):
    """Yield (lineno, absolute module, imported names) for every import
    statement anywhere in the file, function bodies included."""
    is_pkg = path.name == "__init__.py"
    package = modname if is_pkg else modname.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, ()
        elif isinstance(node, ast.ImportFrom):
            target = node.module or ""
            if node.level:
                target = importlib.util.resolve_name("." * node.level + target, package)
            yield node.lineno, target, tuple(a.name for a in node.names)


@pytest.mark.parametrize("modname", _package_modules())
def test_every_package_module_imports(modname):
    importlib.import_module(modname)


def test_queries_and_oracles_have_identical_keys():
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert qs, "the registry is empty"
    assert set(qs) == set(oracles)
    assert callable(entry.entry)


def test_every_import_resolves():
    unresolved = []
    for modname, path in _source_files():
        for lineno, target, names in _imports(modname, path):
            where = f"{path.relative_to(REPO)}:{lineno}"
            if _spec(target) is None:
                unresolved.append(f"{where} {target}")
                continue
            if not target.startswith(FIRST_PARTY) or not names or names == ("*",):
                continue
            mod = importlib.import_module(target)
            for name in names:
                if hasattr(mod, name):
                    continue
                if _spec(f"{target}.{name}") is None:
                    unresolved.append(f"{where} {target}.{name}")
    assert not unresolved, "\n".join(unresolved)
