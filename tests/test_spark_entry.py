"""The `__spark_entry__.py` contract and the full DuckDB parity.

`queries()` and `oracle_sql()` are the behaviour spec of the operator
surface: every catalog query runs here at sf0.01 on the shared session
and must equal its DuckDB oracle under `tools/parity.py`'s comparison
(row count, column names, exact values, order-insensitive). The test is
parametrized by query name, so a failure names the query.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as E
from conftest import SF_SMOKE, load_tool

from cyborgdb_encrypted_vector_search_spark.caching import release_all

SF01 = str(Path(SF_SMOKE).with_name("sf0.01"))

parity = load_tool("parity")
QUERIES = E.queries()
ORACLES = E.oracle_sql()


def test_entry_returns_rows(spark):
    assert len(E.entry(spark).collect()) > 0
    release_all()


def test_every_query_has_an_oracle():
    """123 queries, each with a non-blank DuckDB oracle. A rows-only
    entry (sql=None) drops out of oracle_sql() and fails here, so adding
    one is a visible decision."""
    assert len(QUERIES) == 123
    with_sql = [n for n, sql in ORACLES.items() if sql.strip()]
    assert sorted(with_sql) == sorted(QUERIES)


@pytest.fixture(scope="module")
def duck():
    con = parity.duck_conn(SF01)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_duckdb_oracle(spark, duck, name):
    try:
        got = QUERIES[name](spark, SF01).toPandas()
    finally:
        release_all()
    want = duck.execute(ORACLES[name]).fetchdf()
    assert parity.compare(name, got, want) == []
