"""Local replica of the driver's Spark-vs-DuckDB compare.

Row count + column-name set + order-insensitive value hash: rows are
canonicalized (column-name sort, value stringification with float rounding),
then the multiset of row strings is compared. Keeps us honest before the
driver's CORRECTNESS gate runs.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import math

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def wide_int_columns(rel) -> list[str]:
    """DuckDB result columns typed HUGEINT or UHUGEINT. The driver reads
    oracle results through pandas, which turns these into float64, while
    Spark gives int64 for the same integer math, so the driver's compare
    fails on them even when every value agrees."""
    return [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t)]


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, _dec.Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return out


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    s_rows = spark_df.collect()
    s_cols = spark_df.columns
    rel = con.sql(sql)
    huge = wide_int_columns(rel)
    if huge:
        return False, f"DuckDB HUGEINT columns {huge}: CAST them to BIGINT"
    d_cols = rel.columns
    d_rows = rel.fetchall()

    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        return False, f"schema mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    ms = rows_to_multiset([c.lower() for c in s_cols], [tuple(r) for r in s_rows])
    md = rows_to_multiset([c.lower() for c in d_cols], d_rows)
    if ms != md:
        diff_s = [r for r in ms if r not in set(md)][:3]
        diff_d = [r for r in md if r not in set(ms)][:3]
        return False, f"value mismatch: spark-only={diff_s} duckdb-only={diff_d}"
    return True, "ok"
