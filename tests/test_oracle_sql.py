"""Every registry oracle binds in DuckDB, without Spark: each
``oracle_sql()`` string is EXPLAINed over views of the test corpus, so a
malformed SQL fragment shared by several oracles fails here instead of
only in the full ``tools/check_oracle.py`` sweep."""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture()
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield c
    c.close()


def test_every_oracle_is_a_registry_key():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_every_oracle_binds(con):
    failed = {}
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.Error as e:
            failed[name] = str(e).splitlines()[0]
    assert not failed, failed
