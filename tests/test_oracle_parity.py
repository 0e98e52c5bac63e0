"""Oracle parity: every __spark_entry__ query equals its independent
DuckDB oracle at the sf_dir fixture — same columns, same row count and
exactly the same values, order-insensitive."""

import pytest

import __spark_entry__ as E
from gdal_spark import oracle as OR

QUERIES = E.queries()
ORACLES = E.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = OR.duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES.keys() | ORACLES.keys()))
def test_oracle_parity(name, spark, sf_dir, duck):
    assert name in QUERIES, f"oracle_sql() entry without a query: {name}"
    assert name in ORACLES, f"query without an oracle_sql() entry: {name}"
    got = QUERIES[name](spark, sf_dir).toPandas()
    exp = duck.execute(ORACLES[name]).fetchdf()
    bad = OR.frame_mismatches(got, exp)
    assert not bad, "\n".join(bad)
