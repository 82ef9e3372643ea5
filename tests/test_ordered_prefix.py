"""operators.ordered_prefix: its window form and its ranged form give the
same rows, and every caller gives the same answer on either side of the
one size switch, PREFIX_WINDOW_MAX_ROWS."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMOKE_DIR
from tests.oracle_compare import rows_to_multiset
from pegasus_spark import operators
from pegasus_spark.operators import ordered_prefix

N = 40


def _frame(spark, n):
    """k has ties, the unique id breaks them. v is NULL on every k = 0 row
    (the first rows of the order, so the first partitions see no value) and
    on every fourth id."""
    return spark.range(n).select(
        (F.col("id") % 5).alias("k"),
        "id",
        F.when((F.col("id") % 5 == 0) | (F.col("id") % 4 == 0), None)
        .otherwise((F.col("id") * 37) % 11)
        .cast("bigint")
        .alias("v"),
    )


def _replay(rows, agg, exclusive):
    """The prefix aggregate by a plain loop over the rows in (k, id) order."""
    out, cnt, tot, mx = {}, 0, 0, None
    for k, i, v in sorted(rows):
        if exclusive:
            out[i] = {"count": cnt, "sum": tot, "max": mx}[agg]
        cnt += 1
        tot += v or 0
        mx = mx if v is None else v if mx is None else max(mx, v)
        if not exclusive:
            out[i] = {"count": cnt, "sum": tot, "max": mx}[agg]
    return out


CASES = [("count", False), ("sum", True), ("max", True)]


@pytest.mark.parametrize("agg,exclusive", CASES)
def test_window_and_ranged_forms_match_replay(spark, agg, exclusive):
    df = _frame(spark, N)
    want = _replay([tuple(r) for r in df.collect()], agg, exclusive)
    kw = dict(value=None if agg == "count" else "v", agg=agg, exclusive=exclusive)

    def got(**more):
        res = ordered_prefix(df, ["k", "id"], "p", **kw, **more)
        return res, {r["id"]: r["p"] for r in res.collect()}

    win, rows = got(n_rows=N)
    assert "SinglePartition" in win._jdf.queryExecution().executedPlan().toString()
    assert rows == want
    for n_parts in (1, 3, 7):
        ranged, rows = got(n_partitions=n_parts)
        plan = ranged._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, plan
        assert rows == want, n_parts
    if agg == "max":
        # the all-NULL first rows (a whole first partition at 7) read the
        # max identity, NULL
        assert want[0] is None and want[5] is None


@pytest.mark.parametrize("agg,exclusive", CASES)
def test_empty_frame_and_fewer_rows_than_partitions(spark, agg, exclusive):
    kw = dict(value=None if agg == "count" else "v", agg=agg, exclusive=exclusive)
    empty = _frame(spark, 0)
    assert ordered_prefix(empty, ["k", "id"], "p", n_rows=0, **kw).collect() == []
    assert ordered_prefix(empty, ["k", "id"], "p", n_partitions=3, **kw).collect() == []
    few = _frame(spark, 3)
    want = _replay([tuple(r) for r in few.collect()], agg, exclusive)
    got = ordered_prefix(few, ["k", "id"], "p", n_partitions=7, **kw)
    assert {r["id"]: r["p"] for r in got.collect()} == want


def _value_hash(df):
    rows = rows_to_multiset(df.columns, df.collect())
    text = "\n".join(rows) + df.schema.simpleString()
    return hashlib.sha256(text.encode()).hexdigest()


def test_size_switch_pinned_both_ways(spark, monkeypatch):
    """Every ordered_prefix caller forced to the window form (switch at
    10**12 rows) and to the ranged form (switch at 0): equal value hashes
    for the registry queries at sf0.001, equal seq for the crawl."""
    from pegasus_spark.analytics.queries import QUERIES
    from pegasus_spark.crawler.frontier import with_dequeue_seq

    dq = spark.range(200).select(
        F.concat(F.lit("http://h.test/p"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("r"), (F.col("id") % 4).cast("string")))
        .alias("region"),
        (F.col("id") % 9).cast("int").alias("page"),
    )
    names = ["spend_outliers", "user_concentration", "rfm_segments", "sequence_pack"]
    seen = []
    for limit in (10**12, 0):
        monkeypatch.setattr(operators, "PREFIX_WINDOW_MAX_ROWS", limit)
        seq = with_dequeue_seq(dq, 1, n_rows=200, n_partitions=3)
        plan = seq._jdf.queryExecution().executedPlan().toString()
        assert ("SinglePartition" in plan) == (limit > 0), plan
        hashes = {n: _value_hash(QUERIES[n](spark, SF_SMOKE_DIR)) for n in names}
        seen.append((hashes, {r["url"]: r["seq"] for r in seq.collect()}))
    assert seen[0][0] == seen[1][0]
    assert seen[0][1] == seen[1][1]
    assert sorted(seen[0][1].values()) == list(range(1, 201))
