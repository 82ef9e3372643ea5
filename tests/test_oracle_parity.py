"""Every queries() entry with an oracle must match it at sf0.01 — the same
gate the driver runs (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE_DIR
from tests.oracle_compare import compare, duckdb_conn

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
# becomes float64 while Spark's DIV gives int64, so these oracles CAST their
# ratio columns to BIGINT.
MILLI_RATIO_ORACLES = [
    "daily_volume_ma7", "image_dedup_savings", "session_abandonment", "user_concentration",
]


@pytest.mark.parametrize("name", MILLI_RATIO_ORACLES)
def test_oracle_outputs_no_hugeint(name):
    con = duckdb_conn(SF_SMOKE_DIR)
    try:
        rel = con.sql(entrymod.oracle_sql()[name])
        huge = [c for c, t in zip(rel.columns, rel.types) if str(t) == "HUGEINT"]
    finally:
        con.close()
    assert not huge, f"{name}: HUGEINT columns {huge}"
