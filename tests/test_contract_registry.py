"""Registry checks that need no Spark session: ``__spark_entry__`` pairs
every query with a DuckDB oracle (no query may lack its twin and no oracle
may outlive its query), every name it defines or imports from the package
is reached from a query, an oracle or ``entry()``, and every package module
has a caller outside the tests (a module only its own tests import is dead
code)."""

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


def _bound_names(stmt: ast.stmt) -> set[str]:
    """Names a module-level def, class, assignment or import binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        return {stmt.name}
    if isinstance(stmt, ast.Assign):
        return {n.id for t in stmt.targets for n in ast.walk(t) if isinstance(n, ast.Name)}
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return {(a.asname or a.name).split(".")[0] for a in stmt.names}
    return set()


def _loaded_names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _registry_values(tree: ast.Module, fn_name: str) -> list[ast.expr]:
    fn = next(
        s for s in tree.body if isinstance(s, ast.FunctionDef) and s.name == fn_name
    )
    ret = next(n for n in ast.walk(fn) if isinstance(n, ast.Return))
    assert isinstance(ret.value, ast.Dict), f"{fn_name}() must return a dict literal"
    return ret.value.values


def test_every_entry_name_is_reached():
    """Every module-level def and assignment in ``__spark_entry__.py``, and
    every name it imports from the package, is reached from a registered
    query, an oracle or ``entry()``.  A name only a deleted query used is
    dead code, and this is where a cut that leaves one behind shows up."""
    tree = ast.parse((ROOT / "__spark_entry__.py").read_text())
    deps: dict[str, set[str]] = {}  # bound name -> names its statement loads
    checked: set[str] = set()
    roots: list[ast.AST] = []
    for stmt in tree.body:
        names = _bound_names(stmt)
        is_import = isinstance(stmt, (ast.Import, ast.ImportFrom))
        for name in names:
            deps.setdefault(name, set())
            if not is_import:
                deps[name] |= _loaded_names(stmt)
        if not names:
            roots.append(stmt)  # module docstring or other top-level code
        elif not is_import or getattr(stmt, "module", "").startswith(PKG):
            checked |= names
    roots += _registry_values(tree, "queries") + _registry_values(tree, "oracle_sql")
    roots += [s for s in tree.body if isinstance(s, ast.FunctionDef) and s.name == "entry"]

    reached: set[str] = set()
    todo = [name for root in roots for name in _loaded_names(root)]
    while todo:
        name = todo.pop()
        if name in deps and name not in reached:
            reached.add(name)
            todo += deps[name]
    unreached = sorted(checked - reached - {"queries", "oracle_sql", "entry"})
    assert unreached == [], f"nothing in the contract reaches {unreached}"
