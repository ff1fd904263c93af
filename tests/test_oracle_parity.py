"""Every oracle-backed query must hash-match DuckDB on the same parquet —
the local replica of the driver's correctness gate. Oracle-less queries
(LSH/hash-family) get smoke checks in their own test modules."""

import pytest

from incubator_gobblin_spark.plans import queries as Q
from tests.oracle_utils import compare, duckdb_connection

ORACLES = Q.oracle_sql()
ALL = Q.queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, con, name):
    df = ALL[name](spark, sf_dir)
    ok, msg = compare(df, con, ORACLES[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(ALL) - set(ORACLES)))
def test_no_oracle_queries_run(spark, sf_dir, name):
    df = ALL[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0

