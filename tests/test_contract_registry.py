"""``__spark_entry__`` pairs every query with a DuckDB oracle: no query
may lack its twin and no oracle may outlive its query."""

from __future__ import annotations

import __spark_entry__ as E


def test_every_query_has_an_oracle_and_vice_versa():
    queries, oracles = E.queries(), E.oracle_sql()
    assert set(queries) == set(oracles)
    assert all(callable(fn) for fn in queries.values())
    assert all(isinstance(sql, str) and sql for sql in oracles.values())
