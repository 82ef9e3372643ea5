"""Every queries() entry with an oracle must match it at sf0.01 — the same
gate the driver runs (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMOKE_DIR
from tests.oracle_compare import compare, duckdb_conn, wide_int_columns

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


def _query_names():
    return sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(name, spark, sf_dir, con):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    df = q(spark, sf_dir)
    if name not in oracles:
        assert df.count() >= 0  # rows-only check, mirrors the driver
        return
    ok, msg = compare(df, con, oracles[name])
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0


# `SUM(bigint) * 1000 // ...` is HUGEINT in DuckDB. Read through pandas it
# becomes float64 while Spark's DIV gives int64, so no oracle may return one;
# binding each oracle at sf0.001 gives its output types without running it.
@pytest.fixture(scope="module")
def smoke_con():
    c = duckdb_conn(SF_SMOKE_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_oracle_outputs_no_hugeint(name, smoke_con):
    huge = wide_int_columns(smoke_con.sql(entrymod.oracle_sql()[name]))
    assert not huge, f"{name}: HUGEINT columns {huge}"


def test_compare_rejects_hugeint(spark):
    con = duckdb.connect()
    try:
        ok, msg = compare(
            spark.range(1).selectExpr("id AS n", "id * 1000 AS ratio_milli"),
            con, "SELECT 0::BIGINT AS n, SUM(0::BIGINT) * 1000 AS ratio_milli",
        )
    finally:
        con.close()
    assert not ok and "ratio_milli" in msg and "'n'" not in msg, msg
