"""Registry checks that need no Spark session: ``__spark_entry__`` pairs
every query with a DuckDB oracle (no query may lack its twin and no oracle
may outlive its query), and every package module has a caller outside the
tests (a module only its own tests import is dead code)."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as E

ROOT = Path(__file__).resolve().parent.parent
PKG = "pregel_golang_implementation_spark"


def test_every_query_has_an_oracle_and_vice_versa():
    queries, oracles = E.queries(), E.oracle_sql()
    assert set(queries) == set(oracles)
    assert all(callable(fn) for fn in queries.values())
    assert all(isinstance(sql, str) and sql for sql in oracles.values())


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Every dotted module name an ``import``/``from … import`` in ``path``
    could refer to (the code base uses absolute imports only)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names |= {alias.name for alias in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names |= {f"{node.module}.{alias.name}" for alias in node.names}
    return names


def test_every_package_module_has_a_caller():
    callers = {
        p: _imported_names(p)
        for p in ROOT.rglob("*.py")
        if not any(
            part.startswith(".") or part == "tests"
            for part in p.relative_to(ROOT).parts
        )
    }
    orphans = [
        _module_name(p)
        for p in sorted((ROOT / PKG).rglob("*.py"))
        if not any(
            _module_name(p) in names for q, names in callers.items() if q != p
        )
    ]
    assert orphans == [], f"no caller outside tests/ imports {orphans}"
