"""Oracle-checked analytics queries.

Each entry in ``QUERIES`` is a callable ``(spark, sf_dir) -> DataFrame``; the
same key in ``ORACLE_SQL`` holds ANSI SQL that DuckDB runs over the identical
parquet tables. The driver hashes (row count, schema, order-insensitive
values), so:

- every computed column is aliased identically on both sides;
- money/measure aggregates are cast to DECIMAL **before** aggregation so the
  sums are exact and independent of floating-point reduction order;
- every LIMIT carries a total-order tie-break.

These re-express the reference's analytics tools over the driver's TPC-H-ish
tables (reference queries live in /root/reference/src/pegasus/tools/report.py
and tools/lianjia_avg.py; per-operator citations below).

Scale notes (100 TB design intent) are in each docstring — the local plans
are the same plans we would want on a 1000-executor cluster: scans prune
columns + push filters, small dims are broadcast, top-K is
TakeOrderedAndProject (partial per partition + merge), and windows partition
on the natural key.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pegasus_spark.operators import exact_percentiles, ordered_prefix


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# A-family: aggregation rollups (SURVEY §2.5)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped rollup — the A1-A4 count/sum/max/min family
    (reference: rate.RateStats combine, rate.go:95-108; per-region stat
    rollup, updatedb.go:109-118).

    Scale: map-side partial aggregation + a tiny shuffle of one row per
    (flag,status) group; decimal sums keep the result exact at any
    parallelism. Pushed filter on l_shipdate; only 7 columns read.

    Output parity: aggregate in DECIMAL (exact, order-independent), then cast
    the FINAL columns to DOUBLE+round(4) — DuckDB's fetchdf converts DECIMAL
    sums to float64 and the driver's value hash includes types, so both
    engines must emit the same final dtype (see CLAUDE.md parity rules).
    """
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    out_d = lambda c: F.round(F.col(c).cast("double"), 4).alias(c)  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("sum_qty"),
            F.sum(dec("l_extendedprice")).alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).cast(
                    "decimal(28,8)"
                )
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
            F.max(dec("l_quantity")).alias("max_qty"),
            F.min(dec("l_quantity")).alias("min_qty"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            out_d("sum_qty"),
            out_d("sum_base_price"),
            out_d("sum_disc_price"),
            "count_order",
            out_d("max_qty"),
            out_d("min_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_base_price,
       ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_disc_price,
       COUNT(*) AS count_order,
       ROUND(CAST(MAX(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS max_qty,
       ROUND(CAST(MIN(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS min_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_rate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RateStats monoid per event_type: bytes/duration sums, success/failure
    counts, max/min latency (reference: rate.go:32-40,95-108 — the exact
    column set TotalBytes/TotalDuration/SuccessCnt/FailureCnt/Max/Min).

    Scale: pure map-side-combinable agg; one output row per event_type.
    """
    ev = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,4)")
    out_d = lambda c: F.round(F.col(c).cast("double"), 4).alias(c)  # noqa: E731
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(v).alias("total_value"),
            F.count(F.lit(1)).alias("total_cnt"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("failure_cnt"),
            F.max(v).alias("max_value"),
            F.min(v).alias("min_value"),
        )
        .select(
            "event_type",
            out_d("total_value"),
            "total_cnt",
            "failure_cnt",
            out_d("max_value"),
            out_d("min_value"),
        )
        .orderBy("event_type")
    )


ORACLE_RATE_STATS = """
SELECT event_type,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_value,
       COUNT(*) AS total_cnt,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failure_cnt,
       ROUND(CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS max_value,
       ROUND(CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS min_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily avg/median/count — the reference's day-price series
    (calc_today_price + get_mid_price, tools/lianjia_avg.py:201-222; A5-A7).

    Median is exact (Spark `percentile`), matching DuckDB's
    percentile_cont interpolation on the same doubles. Scale: groupBy day is
    a narrow-key shuffle; exact median needs a per-group sort, acceptable
    because groups (days) are numerous and individually small — at 100 TB we
    would switch to percentile_approx and document the error bound.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
                "sum_value"
            ),
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_value"),
        )
        .orderBy("day")
    )


ORACLE_DAILY_STATS = """
SELECT CAST(ts AS DATE) AS day,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value,
       COUNT(*) AS cnt,
       ROUND(CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value) AS DOUBLE), 4) AS median_value
FROM events
GROUP BY CAST(ts AS DATE)
ORDER BY day
"""


# ---------------------------------------------------------------------------
# K-family: sorts / limits / top-K (SURVEY §2.6)
# ---------------------------------------------------------------------------

def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 by total price (K2 `ORDER BY total DESC LIMIT 10`,
    report.py:195-214, + K3's k-way merge which Spark performs natively as
    TakeOrderedAndProject: per-partition partial top-K then a driver merge —
    exactly the reference's reduceValset, report.py:46-74, but distributed).

    Tie-break on o_orderkey makes the row set deterministic.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


ORACLE_TOP_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by acctbal per nation — the window-ranked per-partition
    top-K that the north rule uses for the frontier dequeue (K1/W3; reference
    analog: MaxPage-desc region dispatch, region_maxpage.go:97-111).

    Scale: single shuffle on the window key; rank pushdown (WindowGroupLimit
    in Spark 3.5+/4.x) keeps only k rows per key per partition pre-shuffle.
    """
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_nationkey", "c_custkey", "c_name", "c_acctbal", "rk")
        .orderBy("c_nationkey", "rk")
    )


ORACLE_TOPK_PER_GROUP = """
SELECT c_nationkey, c_custkey, c_name, c_acctbal, rk FROM (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
  FROM customer
) WHERE rk <= 3
ORDER BY c_nationkey, rk
"""


# ---------------------------------------------------------------------------
# J-family: joins (SURVEY §2.4)
# ---------------------------------------------------------------------------

def q_join_filter_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: derived-table equi-join — filtered dimension joined to filtered
    fact, ordered output (read_db_price_change, tools/lianjia_avg.py:126-151).

    Scale: customer-filter is the small side → explicit broadcast; the
    orders filter pushes to the parquet scan. No shuffle at all for the
    join (broadcast hash join), one for the final order/limit top-K.
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        o.join(F.broadcast(c.select("c_custkey", "c_name")), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


ORACLE_JOIN_FILTER_TOPN = """
SELECT o_orderkey, c_name, o_totalprice, o_orderdate
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 100000
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 50
"""


def q_correlated_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: the correlated scalar subquery pattern (SELECT location FROM data
    WHERE data.aid = change.aid — report.py:266-276) in its idiomatic
    decorrelated form: a left join from fact to dimension.

    Scale: nation is tiny → broadcast; zero-shuffle lookup join.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select("c_custkey", "c_name", F.col("n_name").alias("nation_name"), "c_acctbal")
        .filter(F.col("c_acctbal") > 9000)
        .orderBy("c_custkey")
    )


ORACLE_CORRELATED_LOOKUP = """
SELECT c_custkey, c_name,
       (SELECT n_name FROM nation WHERE n_nationkey = c_nationkey) AS nation_name,
       c_acctbal
FROM customer
WHERE c_acctbal > 9000
ORDER BY c_custkey
"""


def q_anti_join_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-family set difference: rows not present in the other set — the
    frontier "not yet seen" filter (rebuild of the reference's dict-lookup
    dedup, updatedb.go:278-295) as a left_anti join.

    Scale: this is THE frontier-enqueue op; at 10^10 rows it runs bloom-first
    (pegasus_spark.crawler.bloom) and left_anti only on the bloom-positive
    remainder.

    The "seen" side is the vec_id%3==0 subset of embeddings so the gate is
    non-vacuous: at every sf roughly 2/3 of documents survive the anti-join
    (the full table covers every doc_id, which made the old gate 0-row).
    """
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 == 0)
    return (
        docs.join(emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


ORACLE_ANTI_JOIN_UNSEEN = """
SELECT doc_id, lang, source, n_chars
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id AND e.vec_id % 3 = 0)
ORDER BY doc_id
"""


def q_cdc_price_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: data-change diff join — old vs new snapshot of the same key, emit
    change rows where the tracked value moved (updateDataChange,
    updatedb.go:317-333). Emulated over events: each user's first (old) vs
    last (new) observed value by ts.

    Scale: one shuffle on user_id; both windows share the same partitioning
    so Catalyst evaluates them in a single Window node pair without an extra
    exchange.
    """
    ev = load(spark, sf_dir, "events")
    w_asc = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    w_all = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        ev.withColumn("rk", F.row_number().over(w_asc))
        .withColumn("old_value", F.first("value").over(w_all))
        .withColumn("new_value", F.last("value").over(w_all))
        .filter(F.col("rk") == 1)
        .filter(F.col("old_value") != F.col("new_value"))
        .select("user_id", "old_value", "new_value")
        .orderBy("user_id")
    )


ORACLE_CDC_PRICE_CHANGE = """
WITH ranked AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rk_asc,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk_desc
  FROM events
)
SELECT o.user_id, o.value AS old_value, n.value AS new_value
FROM ranked o JOIN ranked n ON o.user_id = n.user_id AND o.rk_asc = 1 AND n.rk_desc = 1
WHERE o.value <> n.value
ORDER BY o.user_id
"""


def q_price_change_ratio_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """priceIncRatio faithfully, driver-gated over the events table
    (reference: tools/report.py:301-317): per-key first→last change rows,
    a DATEDIFF ≤ 3-day recency window (NOW() pinned deterministically at the
    stream's max date), DATE_FORMAT date column, ordered by (new-old)/old
    desc — the ratio, NOT the absolute diff.

    Scale: one shuffle on user_id for the change windows; the NOW() scalar
    is a broadcast single-row agg; final top-K is TakeOrderedAndProject.
    """
    ev = load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_asc = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    ch = (
        ev.withColumn("rk", F.row_number().over(w_asc))
        .withColumn("old_value", F.first("value").over(w_all))
        .withColumn("new_value", F.last("value").over(w_all))
        .withColumn("last_ts", F.last("ts").over(w_all))
        .filter(F.col("rk") == 1)
        .filter((F.col("old_value") != F.col("new_value")) & (F.col("old_value") != 0))
    )
    now = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    ratio = (F.col("new_value") - F.col("old_value")) / F.col("old_value")
    return (
        ch.crossJoin(F.broadcast(now))
        .filter(F.datediff(F.col("maxd"), F.to_date("last_ts")) <= 3)
        .withColumn("ratio_pct", F.round(ratio * 100, 4))
        .withColumn("change_date", F.date_format("last_ts", "yyyy-MM-dd"))
        .orderBy(F.desc(F.round(ratio, 6)), F.asc("user_id"))
        .limit(10)
        .select("user_id", "old_value", "new_value", "ratio_pct", "change_date")
    )


ORACLE_PRICE_CHANGE_RATIO_REPORT = """
WITH ranked AS (
  SELECT user_id, value, ts,
         ROW_NUMBER() OVER w AS rk,
         FIRST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS old_value,
         LAST_VALUE(value)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS new_value,
         LAST_VALUE(ts)     OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
ch AS (
  SELECT * FROM ranked WHERE rk = 1 AND old_value <> new_value AND old_value <> 0
),
m AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events)
SELECT user_id, old_value, new_value,
       ROUND((new_value - old_value) / old_value * 100, 4) AS ratio_pct,
       strftime(last_ts, '%Y-%m-%d') AS change_date
FROM ch, m
WHERE date_diff('day', CAST(last_ts AS DATE), maxd) <= 3
ORDER BY ROUND((new_value - old_value) / old_value, 6) DESC, user_id ASC
LIMIT 10
"""


def q_meta_change_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: generic field-level diff via melt/stack — the reference's
    reflection loop over struct fields emitting (key, item, value) rows
    (updateMetaChange, updatedb.go:335-379) becomes a generated `stack()`
    over a compile-time column list (here: part's describable fields).

    Scale: stack is a narrow op — no shuffle until the final order.
    """
    p = load(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.expr(
                "stack(3, 'brand', p_brand, 'type', p_type, 'size', CAST(p_size AS STRING)) AS (item, val)"
            ),
        )
        .orderBy("p_partkey", "item")
    )


ORACLE_META_CHANGE_MELT = """
SELECT p_partkey, item, val FROM (
  SELECT p_partkey, 'brand' AS item, p_brand AS val FROM part
  UNION ALL
  SELECT p_partkey, 'type' AS item, p_type AS val FROM part
  UNION ALL
  SELECT p_partkey, 'size' AS item, CAST(p_size AS VARCHAR) AS val FROM part
)
ORDER BY p_partkey, item
"""


# ---------------------------------------------------------------------------
# W-family: windows / time-series (SURVEY §2.8)
# ---------------------------------------------------------------------------

def q_first_value_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/A8: first value per key by time (collect_first_price,
    tools/lianjia_avg.py:87-96).

    Scale: WindowGroupLimit prunes to 1 row per key per partition before the
    shuffle.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("value").alias("first_value"), F.col("ts").alias("first_ts"))
        .orderBy("user_id")
    )


ORACLE_FIRST_VALUE_PER_KEY = """
SELECT user_id, value AS first_value, ts AS first_ts FROM (
  SELECT user_id, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rk
  FROM events
) WHERE rk = 1
ORDER BY user_id
"""


def q_day_sweep_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: the daily active-set sweep — entities enter at their first day and
    leave at their last; count actives per day (LoDayPrices.calc_day_prices,
    tools/lianjia_avg.py:165-229). Interval expansion: sequence() + explode
    instead of the reference's driver-side event replay.

    Scale: expansion multiplies rows by avg interval length — bounded here
    (≤31 days of events); at 100 TB the same plan works because explode is
    narrow (no shuffle) and the following agg is map-side combinable.
    """
    ev = load(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    return (
        spans.select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("day")
    )


ORACLE_DAY_SWEEP_ACTIVE = """
WITH spans AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM events GROUP BY user_id
),
days AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM spans
)
SELECT day, COUNT(*) AS active_users FROM days GROUP BY day ORDER BY day
"""


# ---------------------------------------------------------------------------
# Multi-join rollups — the deep-join/agg surface a 100 TB warehouse needs
# (beyond the reference's single-table analytics; TPC-H Q3/Q5 shapes)
# ---------------------------------------------------------------------------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem, revenue per
    order, top 10. Scale: both filters push to scans; customer side
    broadcasts; the lineitem join shuffles on orderkey once; final top-K is
    TakeOrderedAndProject."""
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    dec = lambda cn: F.col(cn).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey")), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                    .cast("decimal(28,8)")
                ).cast("double"),
                4,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 5-way join (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region)
    rolled up per nation. Scale: nation/region broadcast; customer broadcasts
    under the 64 MB threshold at sf≤1; the two fact joins shuffle on their
    keys; group-by output is nation-cardinality tiny."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    dec = lambda cn: F.col(cn).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(
                    (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                    .cast("decimal(28,8)")
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name AS nation,
       ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue,
       COUNT(*) AS line_cnt
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, nation ASC
"""


def q_supplier_balance_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-side rollup: supplier ⋈ nation ⋈ region account balances —
    exercises multi-broadcast star joins with a grouping-set-free rollup."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.round(F.sum(F.col("s_acctbal").cast("decimal(18,4)")).cast("double"), 4).alias(
                "total_bal"
            ),
            F.count(F.lit(1)).alias("supplier_cnt"),
        )
        .orderBy("region_name", "nation_name")
    )


ORACLE_SUPPLIER_BALANCE_BY_REGION = """
SELECT r_name AS region_name, n_name AS nation_name,
       ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_bal,
       COUNT(*) AS supplier_cnt
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY region_name, nation_name
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: revenue lost to returns per customer for one order
    quarter — lineitem(returnflag='R') ⋈ orders(quarter window) ⋈
    customer ⋈ nation, top 20 customers by lost revenue.

    Scale: both filters push to the parquet scans (returnflag and the
    orderdate window prune row groups); nation broadcasts; the
    lineitem⋈orders join shuffles on orderkey once, the customer join on
    custkey once; revenue sums as DECIMAL(28,8) (order-independent) and
    the top-20 is TakeOrderedAndProject with a custkey tie-break."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    dec = lambda cn: F.col(cn).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(
                    (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                    .cast("decimal(28,8)")
                ).cast("double"),
                4,
            ).alias("lost_revenue"),
            F.count(F.lit(1)).alias("returned_lines"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_RETURNED_ITEMS = """
SELECT c_custkey, c_name, n_name AS nation,
       ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(28,8))) AS DOUBLE), 4) AS lost_revenue,
       COUNT(*) AS returned_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: per order priority, how many orders in one year had at
    least one lineitem shipped more than 90 days after the order date —
    the EXISTS-semi-join surface.

    Scale: the orders year-window pushes to the scan; the semi join is a
    LEFT SEMI on the orderkey equi-key with the lateness predicate as a
    residual condition — one shuffle of each side on orderkey, the
    lineitem side pre-pruned to (orderkey, shipdate); output is bounded
    by orders and the final agg is priority-cardinality (5 rows).
    EXISTS (not a join+distinct): the semi join emits each order at most
    once, so no dedup exchange is needed."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, on=late, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_ORDER_PRIORITY_COUNTS = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse audit over the event stream: users whose busiest day
    carries more than 3× their mean daily event volume — the burstiness
    screen a pipeline runs before trusting engagement counts. The test
    is exact integer cross-multiplication (peak·active_days > 3·total),
    no float mean; the burst ratio is reported on the 10³ grid
    (peak·active_days·1000 DIV total). Peak-day ties break to the
    earliest day.

    Scale: events collapse to (user, day) map-side (the partial agg
    bounds the exchange by users × days, not events); the peak-day
    row_number window and the per-user rollup both key on user_id and
    AQE coalesces them into the same exchange. Output is the flagged
    subset, ordered by ratio with a user tie-break."""
    d = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("dy"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("c"), F.asc("dy"))
    peak = (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("dy").alias("peak_day"), F.col("c").alias("peak_day_cnt"))
    )
    per = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_days"),
        F.sum("c").cast("bigint").alias("total_events"),
    )
    return (
        per.join(peak, "user_id")
        .filter(F.col("peak_day_cnt") * F.col("active_days") > 3 * F.col("total_events"))
        .select(
            "user_id",
            "peak_day",
            "peak_day_cnt",
            "active_days",
            "total_events",
            F.expr("(peak_day_cnt * active_days * 1000) DIV total_events").alias(
                "burst_ratio_milli"
            ),
        )
        .orderBy(F.desc("burst_ratio_milli"), F.asc("user_id"))
    )


ORACLE_BURST_USERS = """
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS dy, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
peak AS (
  SELECT user_id, dy AS peak_day, c AS peak_day_cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY c DESC, dy ASC) AS rn
  FROM d
),
per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS active_days,
         CAST(SUM(c) AS BIGINT) AS total_events
  FROM d GROUP BY user_id
)
SELECT p.user_id, k.peak_day, k.peak_day_cnt, p.active_days, p.total_events,
       (k.peak_day_cnt * p.active_days * 1000) // p.total_events AS burst_ratio_milli
FROM per p JOIN peak k ON k.user_id = p.user_id AND k.rn = 1
WHERE k.peak_day_cnt * p.active_days > 3 * p.total_events
ORDER BY burst_ratio_milli DESC, p.user_id ASC
"""


def q_spend_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen on per-customer spend: customers whose total
    order value deviates from the median customer by more than 3× the
    median absolute deviation — the median/MAD screen that survives the
    heavy tail a mean/stddev test is wrecked by. Raw order prices are
    uniform (MAD ≈ max deviation — nothing would flag); per-customer SUMS
    are near-normal, so the 3×MAD tail exists and the screen gates.

    Float discipline: spend sums as DECIMAL (exact) then casts to double
    once; deviations are quantized to exact BIGINT cents
    (floor(|x − med|·100) — multiply and floor are deterministic IEEE) so
    the MAD rank order and the 3× threshold never compare raw doubles.
    Both exact medians are percentile_disc rank math ((50·n+99) DIV 100,
    the length_percentiles rule) over ``operators.ordered_prefix`` row
    numbers: one window task each while the customer count is under its
    size switch, otherwise ranged, with no single-partition exchange and
    only per-partition row counts collected. The two 1-row median frames
    broadcast back. At 100 TB this stays the exact audit tool; the
    in-pipeline path would swap percentile_approx into the same frame."""
    s = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("spend"),
        )
    )
    nc = s.count()  # bounded driver value; also picks the rank strategy
    rank = (50 * nc + 99) // 100
    r1 = ordered_prefix(s, ["spend", "custkey"], "rn", n_rows=nc)
    med = (
        r1.filter(F.col("rn") == rank)
        .select(F.col("spend").alias("med_spend"))
    )
    d = (
        r1.drop("rn")
        .crossJoin(F.broadcast(med))
        .withColumn(
            "dev_cents",
            F.floor(F.abs(F.col("spend") - F.col("med_spend")) * 100).cast("bigint"),
        )
    )
    r2 = ordered_prefix(d, ["dev_cents", "custkey"], "rn", n_rows=nc)
    mad = (
        r2.filter(F.col("rn") == rank)
        .select(F.col("dev_cents").alias("mad_cents"))
    )
    return (
        r2.drop("rn")
        .crossJoin(F.broadcast(mad))
        .filter(F.col("dev_cents") > 3 * F.col("mad_cents"))
        .select(
            "custkey", "n_orders", "spend", "dev_cents", "med_spend", "mad_cents"
        )
        .orderBy(F.desc("dev_cents"), F.asc("custkey"))
    )


ORACLE_SPEND_OUTLIERS = """
WITH s AS (
  SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
r1 AS (
  SELECT s.*, row_number() OVER (ORDER BY spend, custkey) AS rn FROM s
),
med AS (
  SELECT spend AS med_spend FROM r1, nc WHERE rn = (50 * n + 99) // 100
),
d AS (
  SELECT r1.custkey, r1.n_orders, r1.spend, med_spend,
         CAST(floor(abs(spend - med_spend) * 100) AS BIGINT) AS dev_cents
  FROM r1, med
),
r2 AS (
  SELECT d.*, row_number() OVER (ORDER BY dev_cents, custkey) AS rn2 FROM d
),
mad AS (
  SELECT dev_cents AS mad_cents FROM r2, nc WHERE rn2 = (50 * n + 99) // 100
)
SELECT custkey, n_orders, spend, dev_cents, med_spend, mad_cents
FROM r2, mad
WHERE dev_cents > 3 * mad_cents
ORDER BY dev_cents DESC, custkey ASC
"""


def q_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the Q5 join rolled up
    to (nation, year) with a lag window for the prior year. Revenue sums
    as DECIMAL and rounds ONCE; the growth rate is
    floor((cur − prev)·1000 / prev) over the two already-rounded doubles
    (floor of a correctly-rounded IEEE quotient — identical on both
    engines; DIV is avoided because growth can be NEGATIVE and Spark DIV
    truncates toward zero while DuckDB // floors). First observed year
    reports NULL growth, not zero.

    Scale shape: the two fact joins shuffle on their keys once, nation
    broadcasts, and the lag window partitions on nation over a
    |nations|·|years| bounded rollup."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    dec = lambda cn: F.col(cn).cast("decimal(18,4)")  # noqa: E731
    rolled = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.round(
                F.sum(
                    (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                    .cast("decimal(28,8)")
                ).cast("double"),
                4,
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("nation").orderBy("yr")
    return (
        rolled.withColumn("prev_revenue", F.lag("revenue").over(w))
        .withColumn(
            "growth_milli",
            F.floor(
                (F.col("revenue") - F.col("prev_revenue")) * 1000 / F.col("prev_revenue")
            ).cast("bigint"),
        )
        .orderBy("nation", "yr")
    )


ORACLE_REVENUE_YOY = """
WITH rolled AS (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,
         ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                  AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, year(o_orderdate)
)
SELECT nation, yr, revenue,
       lag(revenue) OVER w AS prev_revenue,
       CAST(floor((revenue - lag(revenue) OVER w) * 1000 / lag(revenue) OVER w)
            AS BIGINT) AS growth_milli
FROM rolled
WINDOW w AS (PARTITION BY nation ORDER BY yr)
ORDER BY nation, yr
"""


def q_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority fulfillment-lag percentiles: days from order date to
    the EARLIEST lineitem ship date, exact percentile_disc rank math
    ((p·n + 99) DIV 100 in (lag, orderkey) order — the length_percentiles
    rule applied to a join-derived measure). The ops table behind the Q4
    lateness count: not just how many orders slipped, but the shape of
    the slip per priority class. Lags are exact integer day diffs (this
    synthetic corpus ships some lines before the order date — negative
    lags are data, not errors, and the exact math keeps them).

    Scale shape: lineitem collapses to one earliest-ship row per order in
    a combinable partial agg, the orders join shuffles on orderkey once,
    and the percentile window partitions on the 5-value priority key (the
    exact-audit posture; percentile_approx is the in-pipeline swap)."""
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min(F.col("l_shipdate").cast("date")).alias("_first_ship"))
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("_od")
    )
    d = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        "o_orderkey",
        F.datediff(F.col("_first_ship"), F.col("_od")).cast("bigint").alias("lag_days"),
    )
    picks = {"p25": 25, "p50": 50, "p75": 75, "p95": 95}
    return exact_percentiles(
        d, ["o_orderpriority"], ["lag_days", "o_orderkey"], "lag_days", picks,
        "n_orders",
    ).orderBy("o_orderpriority")


ORACLE_FULFILLMENT_LAG = """
WITH li AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS first_ship
  FROM lineitem GROUP BY l_orderkey
),
d AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(datediff('day', CAST(o_orderdate AS DATE), first_ship) AS BIGINT)
           AS lag_days
  FROM orders JOIN li ON o_orderkey = l_orderkey
),
r AS (
  SELECT o_orderpriority, lag_days,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY lag_days, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM d
)
SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
       max(CASE WHEN rn = (25 * n + 99) // 100 THEN lag_days END) AS p25,
       max(CASE WHEN rn = (50 * n + 99) // 100 THEN lag_days END) AS p50,
       max(CASE WHEN rn = (75 * n + 99) // 100 THEN lag_days END) AS p75,
       max(CASE WHEN rn = (95 * n + 99) // 100 THEN lag_days END) AS p95
FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration audit (the 80/20 ledger): what share of all
    events comes from the top 10% / 20% / 50% most active users — the
    user-axis complement of key_skew_report's hot-key table, and the
    number that says whether "engagement" is broad or three whales. Top-k%
    cohort sizes are exact ceil rank math ((k·n + 99) DIV 100); shares
    are exact 10³-grid integers; the rank is ``operators.ordered_prefix``'s
    row number (users ordered by count desc with a user_id tie-break).

    Scale shape: events collapse to per-user counts in one exchange; the
    rank pass is one small window task under the operator's size switch,
    the ranged row number above it; the conditional sums fold to ONE
    row."""
    s = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    nu = s.count()  # bounded driver value; also picks the rank strategy
    r = ordered_prefix(s, [F.desc("cnt"), "user_id"], "rn", n_rows=nu)
    cut = lambda k: (k * nu + 99) // 100  # noqa: E731
    return r.agg(
        F.lit(nu).cast("bigint").alias("n_users"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.expr(f"(sum(CASE WHEN rn <= {cut(10)} THEN cnt ELSE 0 END) * 1000)"
               " DIV sum(cnt)").alias("top10_share_milli"),
        F.expr(f"(sum(CASE WHEN rn <= {cut(20)} THEN cnt ELSE 0 END) * 1000)"
               " DIV sum(cnt)").alias("top20_share_milli"),
        F.expr(f"(sum(CASE WHEN rn <= {cut(50)} THEN cnt ELSE 0 END) * 1000)"
               " DIV sum(cnt)").alias("top50_share_milli"),
    )


ORACLE_USER_CONCENTRATION = """
WITH s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
r AS (
  SELECT cnt, row_number() OVER (ORDER BY -cnt, user_id) AS rn FROM s
)
SELECT n AS n_users,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       CAST((SUM(CASE WHEN rn <= (10 * n + 99) // 100 THEN cnt ELSE 0 END) * 1000)
         // SUM(cnt) AS BIGINT) AS top10_share_milli,
       CAST((SUM(CASE WHEN rn <= (20 * n + 99) // 100 THEN cnt ELSE 0 END) * 1000)
         // SUM(cnt) AS BIGINT) AS top20_share_milli,
       CAST((SUM(CASE WHEN rn <= (50 * n + 99) // 100 THEN cnt ELSE 0 END) * 1000)
         // SUM(cnt) AS BIGINT) AS top50_share_milli
FROM r, nu GROUP BY n
"""


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential path mining: the 10 most common 3-step event-type paths
    (per-user time order, microsecond-integer compares with event_id
    tie-breaks — the transition_matrix discipline one step deeper), with
    occurrence count and the number of distinct users who walked each
    path. The table behind 'what do users actually do' funnels no one
    designed in advance.

    Scale shape: ONE user-keyed window produces both lags; the
    (path, user) partial agg collapses a user's repeated walks map-side
    (the ngram_topk (gram, doc) precedent), the path rollup is
    ≤ |types|³-bounded, and the top-10 is a TakeOrderedAndProject with a
    lexical tie-break."""
    micros = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr(micros).alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    paths = (
        ev.withColumn("_e2", F.lag("event_type", 1).over(w))
        .withColumn("_e3", F.lag("event_type", 2).over(w))
        .filter(F.col("_e3").isNotNull())
        .select(
            "user_id",
            F.concat_ws(">", "_e3", "_e2", "event_type").alias("path"),
        )
    )
    per_user = paths.groupBy("path", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    return (
        per_user.groupBy("path")
        .agg(
            F.sum("_c").cast("bigint").alias("cnt"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("cnt"), F.asc("path"))
        .limit(10)
    )


ORACLE_TOP_PATHS = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
), lagged AS (
  SELECT user_id,
         lag(event_type, 2) OVER w AS e3,
         lag(event_type, 1) OVER w AS e2,
         event_type AS e1
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), p AS (
  SELECT user_id, e3 || '>' || e2 || '>' || e1 AS path
  FROM lagged WHERE e3 IS NOT NULL
), pu AS (
  SELECT path, user_id, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY path, user_id
)
SELECT path, CAST(SUM(c) AS BIGINT) AS cnt, CAST(count(*) AS BIGINT) AS n_users
FROM pu GROUP BY path
ORDER BY cnt DESC, path ASC
LIMIT 10
"""


def q_session_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-abandonment rate per day: of the gap-sessionized sessions
    (the q_sessionize 30-minute rule, same microsecond/tie-break
    discipline) that contain a 'view', how many never reach a
    'purchase'. Day = the session's first event day; the rate is exact
    (n_abandoned·1000 DIV n_view_sessions, NULL on a day with no view
    sessions rather than a fabricated zero).

    Scale shape: the sessionize single-user-keyed-shuffle core, then a
    (user, session) aggregate carrying two boolean maxes and the first
    event time; the daily rollup is |days|-bounded."""
    micros = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", F.expr(micros).alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    marked = ev.withColumn(
        "new_sess",
        F.when(
            F.col("t") - F.lag("t").over(w) > 1_800_000_000, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    sess = marked.groupBy("user_id", "session_seq").agg(
        F.min(F.col("ts").cast("date")).alias("day"),
        F.max((F.col("event_type") == "view").cast("int")).alias("_has_view"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("_has_purchase"),
    )
    return (
        sess.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("_has_view").cast("bigint").alias("n_view_sessions"),
            F.sum(
                F.when((F.col("_has_view") == 1) & (F.col("_has_purchase") == 0), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_abandoned"),
        )
        .withColumn(
            "abandon_rate_milli",
            F.expr("(n_abandoned * 1000) DIV nullif(n_view_sessions, 0)"),
        )
        .orderBy("day")
    )


ORACLE_SESSION_ABANDONMENT = """
WITH ev AS (
  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS t FROM events
), marked AS (
  SELECT user_id, event_id, event_type, ts, t,
         CASE WHEN t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), numbered AS (
  SELECT user_id, event_type, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM marked
), sess AS (
  SELECT user_id, session_seq,
         MIN(CAST(ts AS DATE)) AS day,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
  FROM numbered GROUP BY user_id, session_seq
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(has_view) AS BIGINT) AS n_view_sessions,
       CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_abandoned,
       CAST((SUM(CASE WHEN has_view = 1 AND has_purchase = 0 THEN 1 ELSE 0 END) * 1000)
         // NULLIF(SUM(has_view), 0) AS BIGINT) AS abandon_rate_milli
FROM sess GROUP BY day ORDER BY day
"""


def q_daily_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day churn accounting — the growth ledger next to the
    cohort `retention` table: for every day with an observed FOLLOWING
    day, the active users, how many of them vanished the next day
    (churned), how many next-day actives are new, and the churn rate on
    the 10³ grid (n_churned·1000 DIV n_active — exact). Day granularity,
    not week: the synthetic corpus has every user active every week, so
    a weekly ledger would gate nothing; daily actives genuinely move. A
    calendar gap (no events the next day) drops the row rather than
    fabricating 100% churn.

    Scale shape: events collapse to DISTINCT (user, day) pairs in one
    exchange; retained counts come from a user-keyed self-join of that
    deduped frame shifted by one day; the daily rollups and final
    assembly are |days|-bounded. All counts are exact BIGINTs."""
    a = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("dy")
    ).distinct()
    act = a.groupBy("dy").agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    nxt = a.select("user_id", F.date_sub(F.col("dy"), 1).alias("dy"))
    retained = (
        a.join(nxt, ["user_id", "dy"])
        .groupBy("dy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_ret"))
    )
    act_next = act.select(
        F.date_sub(F.col("dy"), 1).alias("dy"),
        F.col("n_active").alias("_n_next"),
    )
    return (
        act.join(act_next, "dy")  # inner: only days with an observed next day
        .join(retained, "dy", "left")
        .select(
            F.col("dy").alias("day"),
            "n_active",
            (F.col("n_active") - F.coalesce("_ret", F.lit(0)))
            .cast("bigint")
            .alias("n_churned"),
            (F.col("_n_next") - F.coalesce("_ret", F.lit(0)))
            .cast("bigint")
            .alias("n_new"),
            F.expr(
                "(( n_active - coalesce(_ret, 0)) * 1000) DIV n_active"
            ).alias("churn_rate_milli"),
        )
        .orderBy("day")
    )


ORACLE_DAILY_CHURN = """
WITH a AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events
),
act AS (SELECT dy, CAST(count(*) AS BIGINT) AS n_active FROM a GROUP BY dy),
ret AS (
  SELECT c.dy, CAST(count(*) AS BIGINT) AS n_ret
  FROM a c JOIN a n ON n.user_id = c.user_id AND n.dy = c.dy + 1
  GROUP BY c.dy
)
SELECT c.dy AS day, c.n_active,
       c.n_active - COALESCE(r.n_ret, 0) AS n_churned,
       n.n_active - COALESCE(r.n_ret, 0) AS n_new,
       ((c.n_active - COALESCE(r.n_ret, 0)) * 1000) // c.n_active
         AS churn_rate_milli
FROM act c
JOIN act n ON n.dy = c.dy + 1
LEFT JOIN ret r ON r.dy = c.dy
ORDER BY day
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: the share of one month's revenue that came from promo
    parts — a broadcast dim join + two conditional decimal folds into a
    1-row ratio. Both sums aggregate DECIMAL (order-independent), cast to
    double and round ONCE, and the share divides the already-rounded
    pair — no float enters any aggregation. At 100 TB: month filter
    pushed to the lineitem scan, part broadcasts, output is 1 row."""
    lo = F.lit("1996-03-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    dec = lambda cn: F.col(cn).cast("decimal(18,4)")  # noqa: E731
    rev = (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))\
        .cast("decimal(28,8)")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev)
                      .otherwise(F.lit(0).cast("decimal(28,8)"))).cast("double"),
                4,
            ).alias("promo_revenue"),
            F.round(F.sum(rev).cast("double"), 4).alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            F.round(F.col("promo_revenue") / F.col("total_revenue") * 100, 6)
            .alias("promo_share_pct"),
        )
    )


ORACLE_PROMO_REVENUE_SHARE = """
WITH a AS (
  SELECT
    ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO'
           THEN CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(28,8))
           ELSE CAST(0 AS DECIMAL(28,8)) END) AS DOUBLE), 4) AS promo_revenue,
    ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(28,8))) AS DOUBLE), 4) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
)
SELECT promo_revenue, total_revenue,
       ROUND(promo_revenue / total_revenue * 100, 6) AS promo_share_pct
FROM a
"""


def q_daily_volume_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event volume with a trailing 7-observed-day moving average —
    the ops-dashboard smoother next to daily_anomaly's 2σ flags. The
    average is exact: (window sum · 1000) DIV window size on BIGINT
    counts (partial heads average over the days seen so far, the
    stickiness convention).

    Scale shape: events collapse to one row per day in a combinable
    partial agg, so the ordered window runs over the BOUNDED daily
    rollup (≤ a few thousand rows for a decade of data) — the documented
    bounded-cardinality single-partition posture (threshold_sweep
    precedent), never over raw events."""
    d = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("dy"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    w = Window.orderBy("dy").rowsBetween(-6, 0)
    return (
        d.withColumn("_s", F.sum("n_events").over(w))
        .withColumn("_k", F.count(F.lit(1)).over(w))
        .select(
            "dy",
            "n_events",
            F.expr("(_s * 1000) DIV _k").alias("ma7_milli"),
        )
        .orderBy("dy")
    )


ORACLE_DAILY_VOLUME_MA7 = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS dy, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY CAST(ts AS DATE)
)
SELECT dy, n_events,
       CAST((SUM(n_events) OVER (ORDER BY dy ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        * 1000)
       // COUNT(*) OVER (ORDER BY dy ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS BIGINT) AS ma7_milli
FROM d ORDER BY dy
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the warehouse classic: quartile each
    customer on Recency (days since last order, vs the corpus max date),
    Frequency (order count) and Monetary (decimal-exact spend), then
    report segment sizes and spend. Quartiles are exact rank math
    (((rn−1)·4) DIV n + 1 over a fully tie-broken order — no percentile
    sketch, no float), and each of the three ranks is an
    ``operators.ordered_prefix`` row number: one window task each under
    its size switch, the ranged form with no single-partition exchange
    above it. Output ≤ 4³ rows.

    Recency quartile 1 = most recent; frequency/monetary quartile 4 =
    most orders / highest spend (ascending rank)."""
    o = load(spark, sf_dir, "orders")
    s = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("spend"),
    )
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("_mx"))
    s = s.crossJoin(F.broadcast(mx)).withColumn(
        "recency_days", F.datediff(F.col("_mx"), F.col("_last")).cast("bigint")
    ).drop("_last", "_mx")
    nc = s.count()  # bounded driver value; also picks the rank strategy
    r = ordered_prefix(s, ["recency_days", "custkey"], "rn_r", n_rows=nc)
    r = ordered_prefix(r, ["n_orders", "custkey"], "rn_f", n_rows=nc)
    r = ordered_prefix(r, ["spend", "custkey"], "rn_m", n_rows=nc)
    quart = lambda c: F.expr(f"(({c} - 1) * 4) DIV {nc} + 1").cast("int")  # noqa: E731
    return (
        r.select(
            quart("rn_r").alias("r_quartile"),
            quart("rn_f").alias("f_quartile"),
            quart("rn_m").alias("m_quartile"),
            "spend",
        )
        .groupBy("r_quartile", "f_quartile", "m_quartile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                F.sum(F.col("spend").cast("decimal(18,4)")).cast("double"), 4
            ).alias("total_spend"),
        )
        .orderBy("r_quartile", "f_quartile", "m_quartile")
    )


ORACLE_RFM_SEGMENTS = """
WITH s AS (
  SELECT o_custkey AS custkey,
         CAST(max(CAST(o_orderdate AS DATE)) AS DATE) AS last_d,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
),
mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
b AS (
  SELECT custkey, n_orders, spend,
         CAST(datediff('day', last_d, mxd) AS BIGINT) AS recency_days
  FROM s, mx
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
r AS (
  SELECT b.*,
         row_number() OVER (ORDER BY recency_days, custkey) AS rn_r,
         row_number() OVER (ORDER BY n_orders, custkey) AS rn_f,
         row_number() OVER (ORDER BY spend, custkey) AS rn_m
  FROM b
),
q AS (
  SELECT CAST(((rn_r - 1) * 4) // n + 1 AS INT) AS r_quartile,
         CAST(((rn_f - 1) * 4) // n + 1 AS INT) AS f_quartile,
         CAST(((rn_m - 1) * 4) // n + 1 AS INT) AS m_quartile,
         spend
  FROM r, nc
)
SELECT r_quartile, f_quartile, m_quartile,
       CAST(count(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(CAST(spend AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_spend
FROM q GROUP BY r_quartile, f_quartile, m_quartile
ORDER BY r_quartile, f_quartile, m_quartile
"""


def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: the what-if revenue delta from eliminating a discount
    band — one scan-heavy single-table aggregate whose ENTIRE predicate
    set (shipdate year, discount band, quantity cap) pushes to the
    parquet scan, the canonical predicate-pushdown showcase. Revenue
    sums price·discount as DECIMAL (order-independent); output is one
    row, so the agg is a 1-row combinable fold — at 100 TB this query is
    pure scan bandwidth, zero meaningful exchange."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    dec = lambda cn: F.col(cn).cast("decimal(18,4)")  # noqa: E731
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (dec("l_extendedprice") * dec("l_discount")).cast("decimal(28,8)")
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


ORACLE_REVENUE_FORECAST = """
SELECT ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
              * CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(28,8))) AS DOUBLE), 4)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct supplier counts per (brand, size) excluding
    promo parts — the COUNT(DISTINCT) surface. Spark compiles the
    distinct aggregate as the two-phase Expand plan: a partial
    (brand, size, suppkey) dedup collapses map-side before the count, so
    the exchange carries distinct triples, never raw lineitem rows; the
    part dimension broadcasts with its type filter pushed to the scan.
    Output is |brands|·|sizes| bounded."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO").select(
        "p_partkey", "p_brand", "p_size"
    )
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
    )


ORACLE_BRAND_SUPPLIER_COUNTS = """
SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC
"""


def q_host_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph degree datasheet over the synthesized host link graph
    (the pagerank/triangle_count graph): per host, out-degree, in-degree,
    and the count of RECIPROCATED out-links (mutual edges — the
    reciprocity column every WebGraph-style crawl datasheet publishes;
    high reciprocity flags link farms, near-zero flags a hierarchy).

    Scale shape: the corpus crosses exactly ONE exchange (the (src, dst)
    distinct — the pagerank precedent); degrees, the mutual self-join and
    the final assembly all run on the |V|²-bounded edge set with
    broadcast-sized per-host rollups. Exact integer counts only."""
    n_hosts = 97
    docs = load(spark, sf_dir, "documents").select("doc_id")
    dst = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % n_hosts
    )
    edges = (
        docs.select((F.col("doc_id") % n_hosts).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    out_d = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).cast("bigint").alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).cast("bigint").alias("in_deg")
    )
    rev = edges.select(F.col("dst").alias("r_src"), F.col("src").alias("r_dst"))
    mut = (
        edges.join(
            rev,
            (F.col("src") == F.col("r_src")) & (F.col("dst") == F.col("r_dst")),
        )
        .groupBy(F.col("src").alias("host"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_mutual"))
    )
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    return (
        nodes.join(out_d, "host", "left")
        .join(in_d, "host", "left")
        .join(mut, "host", "left")
        .select(
            F.col("host").cast("bigint").alias("host"),
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("bigint").alias("in_deg"),
            F.coalesce("n_mutual", F.lit(0)).cast("bigint").alias("n_mutual"),
        )
        .orderBy("host")
    )


ORACLE_HOST_DEGREE_STATS = """
WITH e AS (
  SELECT DISTINCT (doc_id % 97) AS src,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 97 AS dst
  FROM documents
  WHERE (doc_id % 97) <> ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 97
),
nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
od AS (SELECT src AS host, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY src),
idg AS (SELECT dst AS host, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY dst),
m AS (
  SELECT a.src AS host, CAST(count(*) AS BIGINT) AS c
  FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
  GROUP BY a.src
)
SELECT CAST(n.host AS BIGINT) AS host,
       COALESCE(od.c, 0) AS out_deg,
       COALESCE(idg.c, 0) AS in_deg,
       COALESCE(m.c, 0) AS n_mutual
FROM nodes n
LEFT JOIN od ON od.host = n.host
LEFT JOIN idg ON idg.host = n.host
LEFT JOIN m ON m.host = n.host
ORDER BY host
"""


# ---------------------------------------------------------------------------
# As-of join (custom operator — pegasus_spark.operators.asof_join)
# ---------------------------------------------------------------------------

def q_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each 'click' event, the most recent 'error' event value at or
    before its timestamp for the same user — the point-in-time lookup as a
    single-shuffle as-of join. Oracle = DuckDB's native ASOF JOIN.
    """
    from pegasus_spark.operators import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("value").alias("last_error_value")
    )
    return (
        asof_join(clicks, errors, keys=["user_id"], how="inner")
        .select("event_id", "user_id", "last_error_value")
        .orderBy("event_id")
    )


ORACLE_ASOF_LAST_ERROR = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
errs AS (SELECT user_id, ts, value AS last_error_value FROM events WHERE event_type = 'error')
SELECT c.event_id, c.user_id, e.last_error_value
FROM clicks c ASOF JOIN errs e ON c.user_id = e.user_id AND c.ts >= e.ts
ORDER BY c.event_id
"""


def q_range_join_nearby_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every 'error' event, count and sum the 'click' events within
    ±5 minutes — an equality-free interval join. Spark would execute the
    naive inequality condition as BroadcastNestedLoopJoin (O(L·R));
    range_join_binned rewrites it as a 300 s-bin equality join + exact
    filter, so the oracle is the plain non-equi join and this side is the
    scale-safe plan producing identical pairs. Timestamps compare at
    microsecond precision (unix_micros / epoch_us) so the window boundary is
    bit-identical across engines; click values sum as DECIMAL(18,2) (exact)
    before the final DOUBLE cast.
    """
    from pegasus_spark.operators import range_join_binned

    # events.ts is TIMESTAMP_NTZ: derive epoch micros with pure NTZ
    # arithmetic (no session-timezone dependency) to match DuckDB epoch_us
    micros = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        "event_id", F.expr(micros).alias("t_err")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.expr(micros).alias("t_clk"),
        F.col("value").cast("decimal(18,2)").alias("click_value"),
    )
    pairs = range_join_binned(
        errs, clicks, "t_err", "t_clk", lo=-300_000_000, hi=300_000_000
    )
    return (
        pairs.groupBy("event_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nearby"),
            F.sum("click_value").cast("double").alias("sum_click_value"),
        )
        .orderBy("event_id")
    )


ORACLE_RANGE_JOIN_NEARBY_CLICKS = """
WITH errs AS (
  SELECT event_id, epoch_us(ts) AS t_err FROM events WHERE event_type = 'error'
), clicks AS (
  SELECT epoch_us(ts) AS t_clk, CAST(value AS DECIMAL(18,2)) AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT event_id,
       CAST(COUNT(*) AS BIGINT) AS n_nearby,
       CAST(SUM(click_value) AS DOUBLE) AS sum_click_value
FROM errs JOIN clicks ON t_clk BETWEEN t_err - 300000000 AND t_err + 300000000
GROUP BY event_id
ORDER BY event_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream: a user's events belong
    to one session while consecutive gaps are ≤ 30 min; a larger gap opens a
    new session. The standard formulation — lag over (user, time) marks
    session starts, a running sum of the marks numbers sessions, then one
    aggregate per (user, session) — runs in a SINGLE shuffle on user_id
    (both window functions and the final groupBy share the partitioning).
    Event times compare at microsecond precision; ordering tie-breaks on
    event_id so the session numbering is deterministic under any
    partitioning (SURVEY §4.3 discipline)."""
    micros = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr(micros).alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    marked = ev.withColumn(
        "new_sess",
        F.when(
            F.col("t") - F.lag("t").over(w) > 1_800_000_000, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return (
        marked.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            # exact integer micros — a seconds double hits round-half
            # boundaries where Spark (half-up) and DuckDB (half-even) differ
            (F.max("t") - F.min("t")).cast("bigint").alias("duration_us"),
        )
        .orderBy("user_id", "session_seq")
    )


ORACLE_SESSIONIZE = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
), marked AS (
  SELECT user_id, event_id, t,
         CASE WHEN t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), numbered AS (
  SELECT user_id, t,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM marked
)
SELECT user_id, session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(t) - MIN(t) AS BIGINT) AS duration_us
FROM numbered
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-frequency re-crawl scheduling — the incremental-crawl feature
    the reference lacks: pegasus re-fetches every listing page each run
    (cli/crawler.go's unconditional rounds loop); a 100 TB frontier can't,
    so each key gets a next-due time from its observed change history
    (the mean-interval estimator from Cho & Garcia-Molina, "Estimating
    Frequency of Change", ACM TOIT 3(3), 2003). Keys observed changing N
    times over a span are due interval = span/(N-1) after their last
    change; single-observation keys get a default 7-day horizon. The
    due-set feeds the frontier's existing LPT priority dispatch — which is
    why this deliberately emits NO global rank: ordering the whole corpus
    by overdue-ness would be the same single-partition window the round-4
    verdict flagged on the planners, and the dequeue already owns
    prioritization.

    Gate form: events stands in for the change log (user_id = page key,
    event ts = observed change), "now" = the corpus max ts so the result
    is a pure function of the input. All arithmetic in integer
    microseconds (the sessionize parity discipline); interval uses bigint
    `div`, identical to DuckDB's `//` on the non-negative operands here.

    Scale shape: one partial-aggregable groupBy(key) + a 1-row global max
    broadcast back — no window, no join on the big side; at 100 TB the
    change log shuffles exactly once on the page key."""
    micros = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr(micros).alias("t")
    )
    per_key = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.min("t").alias("first_t"),
        F.max("t").alias("last_t"),
    )
    now = ev.agg(F.max("t").alias("now_t"))
    horizon_us = 7 * 86400 * 1_000_000  # single-observation default
    est = (
        per_key.crossJoin(F.broadcast(now))
        .select(
            "user_id",
            "n_obs",
            F.col("last_t").alias("last_seen_us"),
            F.when(
                F.col("n_obs") >= 2,
                F.expr("(last_t - first_t) div (n_obs - 1)"),
            )
            .otherwise(F.lit(horizon_us))
            .cast("bigint")
            .alias("interval_us"),
            "now_t",
        )
        .withColumn(
            "next_due_us", (F.col("last_seen_us") + F.col("interval_us")).cast("bigint")
        )
        .withColumn("overdue_us", (F.col("now_t") - F.col("next_due_us")).cast("bigint"))
        .withColumn("due_now", F.col("overdue_us") >= 0)
        .drop("now_t")
    )
    return est.orderBy("user_id")


ORACLE_RECRAWL_PRIORITY = """
WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
per_key AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
         min(t) AS first_t, max(t) AS last_t
  FROM ev GROUP BY user_id
),
now_t AS (SELECT max(t) AS now_t FROM ev),
est AS (
  SELECT user_id, n_obs, last_t AS last_seen_us,
         CAST(CASE WHEN n_obs >= 2 THEN (last_t - first_t) // (n_obs - 1)
                   ELSE 604800000000 END AS BIGINT) AS interval_us,
         now_t
  FROM per_key, now_t
)
SELECT user_id, n_obs, last_seen_us, interval_us,
       CAST(last_seen_us + interval_us AS BIGINT) AS next_due_us,
       CAST(now_t - (last_seen_us + interval_us) AS BIGINT) AS overdue_us,
       (now_t - (last_seen_us + interval_us)) >= 0 AS due_now
FROM est ORDER BY user_id
"""


def q_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup of the events stream: one
    pass emits (type, day, hour), (type, day), (type) and grand-total
    aggregates via ROLLUP — Spark executes it as a single Expand + partial
    agg (each level map-side combined, one shuffle), which is exactly the
    continuous-aggregate ladder a time-series store materializes. Day is a
    DATE and hour a TIMESTAMP on both engines; the value sum aggregates
    DECIMAL (exact) and casts DOUBLE at the edge per the parity rule. Null
    group keys from rolled-up levels disambiguate the level, so no
    grouping_id column is needed (its bit order differs across engines).
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    return (
        ev.rollup("event_type", "day", "hour")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("v").cast("double").alias("sum_value"),
        )
        .orderBy("event_type", "day", "hour")
    )


ORACLE_MULTIRES_ROLLUP = """
WITH ev AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         date_trunc('hour', ts) AS hour,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
)
SELECT event_type, day, hour,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(v) AS DOUBLE) AS sum_value
FROM ev
GROUP BY ROLLUP (event_type, day, hour)
ORDER BY event_type, day, hour
"""


# ---------------------------------------------------------------------------
# Mergesort demo: S8 seeded source + K4 distributed sort (SURVEY §2.1/§2.6)
# ---------------------------------------------------------------------------

def q_mergesort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Mergesort project (mergesort.go:36-41,201-205): a
    seeded random-int source sorted globally. The per-tasklet RNG
    (randints.go:205-218) becomes a DETERMINISTIC md5-derived value so the
    DuckDB oracle reproduces it exactly (rand(seed) differs across engines);
    Spark's range-partitioned sort IS the distributed mergesort the
    reference hand-rolls (per-worker sort + master merge).

    Scale: spark.range is an embarrassingly parallel source; orderBy
    range-partitions by sampled boundaries — the 100 TB sort shape.
    """
    n = 10_000
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 7), 16, 10)
             .cast("bigint") % 100 + 1).alias("value"),
        )
        .orderBy("value", "id")
    )


ORACLE_MERGESORT = """
SELECT i AS id,
       ('0x' || substr(md5(i::VARCHAR), 1, 7))::BIGINT % 100 + 1 AS value
FROM (SELECT unnest(generate_series(0, 9999)) AS i)
ORDER BY value, id
"""


# ---------------------------------------------------------------------------
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream (view → click →
    purchase, each step STRICTLY after the previous one for the same user)
    — the standard product-analytics rollup a warehouse ships beside
    sessionize. Step k's user set = users with a step-k event after their
    earliest step-(k−1) completion; the table reports per-step reach and
    conversion vs step 1.

    Shape: three min-aggregates and two equi-joins, ALL keyed on user_id —
    one partitioning serves the whole funnel, and each step's frame is at
    most one row per user, so every exchange after the first is
    user-bounded. The final 3-row union + first_value window is constant-
    size. Timestamps compare as exact microsecond integers (the sessionize
    discipline — no float seconds near round-half boundaries)."""
    micros = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(micros).alias("t")
    )
    a = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("t").alias("ta")
    )
    b = (
        ev.filter(F.col("event_type") == "click")
        .join(a, "user_id")
        .filter(F.col("t") > F.col("ta"))
        .groupBy("user_id")
        .agg(F.min("t").alias("tb"))
    )
    c = (
        ev.filter(F.col("event_type") == "purchase")
        .join(b, "user_id")
        .filter(F.col("t") > F.col("tb"))
        .groupBy("user_id")
        .agg(F.min("t").alias("tc"))
    )
    steps = (
        a.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(F.lit(1).alias("step"), F.lit("view").alias("event_type"), "n_users")
        .unionByName(
            b.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
                F.lit(2).alias("step"), F.lit("click").alias("event_type"), "n_users"
            )
        )
        .unionByName(
            c.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
                F.lit(3).alias("step"), F.lit("purchase").alias("event_type"),
                "n_users",
            )
        )
    )
    w = Window.orderBy("step")
    return (
        steps.withColumn(
            "conversion", F.round(F.col("n_users") / F.first("n_users").over(w), 4)
        )
        .orderBy("step")
    )


ORACLE_FUNNEL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
a AS (SELECT user_id, MIN(t) AS ta FROM ev WHERE event_type = 'view' GROUP BY user_id),
b AS (
  SELECT e.user_id, MIN(e.t) AS tb FROM ev e JOIN a ON a.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.t > a.ta GROUP BY e.user_id
),
c AS (
  SELECT e.user_id, MIN(e.t) AS tc FROM ev e JOIN b ON b.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.t > b.tb GROUP BY e.user_id
),
s AS (
  SELECT 1 AS step, 'view' AS event_type, CAST(count(*) AS BIGINT) AS n_users FROM a
  UNION ALL
  SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM b
  UNION ALL
  SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM c
)
SELECT step, event_type, n_users,
       round(n_users * 1.0 / first_value(n_users) OVER (ORDER BY step), 4) AS conversion
FROM s ORDER BY step
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the event stream — the other canonical
    product-analytics table: users cohorted by the DAY of their first
    signup event; retention at offset k = share of the cohort active
    (any event) k days later, offsets 0-7.

    Shape: cohort assignment and the distinct (user, day) activity set are
    both user-keyed aggregates; the join shares that key; the final rollup
    groups on (cohort_day, offset) — ≤ days × 8 rows. Day arithmetic is
    exact DATE math on both engines (no timestamps cross the compare)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("d")
    )
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("d").alias("cohort_day"))
    )
    act = ev.select("user_id", "d").distinct()
    joined = (
        act.join(cohort, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day").cast("int"))
        .filter((F.col("day_offset") >= 0) & (F.col("day_offset") <= 7))
    )
    sizes = cohort.groupBy("cohort_day").agg(
        F.countDistinct("user_id").cast("bigint").alias("cohort_n")
    )
    return (
        joined.groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
        .join(sizes, "cohort_day")
        .withColumn("retention", F.round(F.col("n_active") / F.col("cohort_n"), 4))
        .select("cohort_day", "day_offset", "n_active", "cohort_n", "retention")
        .orderBy("cohort_day", "day_offset")
    )


ORACLE_RETENTION = """
WITH ev AS (SELECT user_id, event_type, ts::DATE AS d FROM events),
cohort AS (
  SELECT user_id, MIN(d) AS cohort_day FROM ev
  WHERE event_type = 'signup' GROUP BY user_id
),
act AS (SELECT DISTINCT user_id, d FROM ev),
j AS (
  SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, a.d) AS INT) AS day_offset,
         a.user_id
  FROM act a JOIN cohort c ON a.user_id = c.user_id
  WHERE date_diff('day', c.cohort_day, a.d) BETWEEN 0 AND 7
),
sizes AS (
  SELECT cohort_day, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_n
  FROM cohort GROUP BY cohort_day
)
SELECT j.cohort_day, j.day_offset,
       CAST(count(DISTINCT j.user_id) AS BIGINT) AS n_active,
       s.cohort_n,
       round(count(DISTINCT j.user_id) * 1.0 / s.cohort_n, 4) AS retention
FROM j JOIN sizes s ON s.cohort_day = j.cohort_day
GROUP BY j.cohort_day, j.day_offset, s.cohort_n
ORDER BY j.cohort_day, j.day_offset
"""


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix over per-user event
    sequences — the Markov view of user behavior (what follows a view? how
    often does an error interrupt a purchase path?): counts and row-
    normalized probabilities for each (prev_type → next_type) pair of
    CONSECUTIVE events of the same user.

    Shape: ONE lag window on user_id (ordered by the sessionize
    discipline's exact (t, event_id) key), then a combinable groupBy on
    the ≤ |types|² pair key and a bounded join for the row totals — the
    corpus crosses exactly one user-keyed exchange; everything after is
    |types|²-bounded."""
    micros = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr(micros).alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").cast("bigint").alias("row_n"))
    return (
        pairs.join(totals, "prev_type")
        .withColumn("prob", F.round(F.col("n") / F.col("row_n"), 4))
        .select("prev_type", "next_type", "n", "prob")
        .orderBy("prev_type", "next_type")
    )


ORACLE_TRANSITION_MATRIX = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
),
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
           AS prev_type
  FROM ev
),
pairs AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
totals AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n FROM pairs GROUP BY prev_type)
SELECT p.prev_type, p.next_type, p.n,
       round(p.n * 1.0 / t.row_n, 4) AS prob
FROM pairs p JOIN totals t ON t.prev_type = p.prev_type
ORDER BY p.prev_type, p.next_type
"""


# ---------------------------------------------------------------------------
# Relational completeness batch (round 5): the remaining classic TPC-H plan
# shapes expressible over the driver tables — big-big join + count-of-counts
# (Q13), decorrelated same-table scalar subquery (Q17), having-semi-join
# (Q18), disjunctive pushdown (Q19), stacked EXISTS/NOT-EXISTS (Q21),
# 1-row-broadcast + anti join (Q22), and the two-dim big join (Q7). Each is
# the canonical physical pattern a migrating reference user would expect the
# engine to plan well; Q2/Q9/Q11/Q20 need partsupp, which the driver tables
# don't carry.
# ---------------------------------------------------------------------------


def _dec(cn: str):
    return F.col(cn).cast("decimal(18,4)")


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: the distribution of orders-per-customer — customer LEFT
    OUTER joins its non-urgent orders, counts per customer (zeros kept),
    then a count-of-counts histogram.

    Scale: the first agg keys on custkey so it is bounded by |customer|
    (the partial agg collapses order rows map-side); the histogram agg has
    at most max-orders-per-customer keys, so the second exchange is tiny.
    The outer join keeps customers with no surviving orders (c_count=0) —
    a join+inner-count would silently drop them. At 100 TB the
    customer⋈orders join shuffles both sides on custkey once; no window,
    no driver collect."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_ORDER_COUNT_DISTRIBUTION = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: yearly revenue lost if small-quantity orders (below 20%%
    of the part's average order quantity) for one brand moved to bulk —
    the canonical correlated scalar subquery over the SAME fact table,
    decorrelated into a per-part partial agg + equi join.

    Scale: the per-part (sum, count) agg is bounded by |part| and
    combines map-side; the brand filter rides the broadcast part dim so
    only brand lines reach the join. The 0.2·avg threshold is exact
    integer cross-multiplication (5·qty·cnt < sum on the DECIMAL grid) —
    no float mean; the single output row divides once at the end."""
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).cast("decimal(28,8)").alias("sum_qty"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, "l_partkey")
        .filter(_dec("l_quantity") * F.col("cnt") * F.lit(5) < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice").cast("decimal(28,8)")).cast("double") / 7.0, 4
            ).alias("avg_yearly"),
            F.count(F.lit(1)).cast("bigint").alias("small_lines"),
        )
    )


ORACLE_SMALL_QTY_REVENUE = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,8)) AS sum_qty,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT round(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(28,8)))
             AS DOUBLE) / 7.0, 4) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS small_lines
FROM lineitem l
JOIN part ON l_partkey = p_partkey
JOIN per_part a ON a.l_partkey = l.l_partkey
WHERE p_brand = 'Brand#1'
  AND CAST(l.l_quantity AS DECIMAL(18,4)) * a.cnt * 5 < a.sum_qty
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: the top-100 largest orders by total quantity (> 300
    units) with their customers — a HAVING filter on a fact-table agg,
    semi-joined back to the order/customer detail.

    Scale: the orderkey agg combines map-side and the >300 filter drops
    ~99%% of orders BEFORE any join, so the joins move only the survivors;
    the big side is never re-shuffled for the customer join (survivor set
    is broadcastable at any realistic selectivity). Quantities sum on the
    DECIMAL grid; top-100 is TakeOrderedAndProject with an orderkey
    tie-break on the raw (bit-identical) totalprice order key."""
    big = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("decimal(28,8)").alias("sum_qty"))
        .filter(F.col("sum_qty") > F.lit(300).cast("decimal(18,4)"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("sum_qty").cast("double"), 4).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


ORACLE_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,8)) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,8))
         > CAST(300 AS DECIMAL(18,4))
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(CAST(sum_qty AS DOUBLE), 4) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: revenue from three OR'd brand/size/quantity bands — the
    disjunctive-predicate pattern that tests whether per-side conjuncts
    still push down. l_partkey IS NOT NULL-style common conjuncts are
    absent by construction; the shared l_quantity envelope (1..40) is
    factored out so the fact scan prunes before the join.

    Scale: part is a broadcast dim carrying the brand/size legs; the OR
    residual evaluates post-join inside codegen. The fact side reads only
    (partkey, quantity, extendedprice, discount). One row out; the sum is
    DECIMAL-exact."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 40)
    )
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(band)
        .agg(
            F.round(
                F.sum(
                    (_dec("l_extendedprice")
                     * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
                    .cast("decimal(28,8)")
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("matched_lines"),
        )
    )


ORACLE_DISJUNCTIVE_REVENUE = """
SELECT round(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
             AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS matched_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity >= 1 AND l_quantity <= 40
  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1  AND 20)
    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        AND l_quantity BETWEEN 10 AND 30)
    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        AND l_quantity BETWEEN 20 AND 40))
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the ONLY late supplier on a finished
    multi-supplier order — stacked EXISTS (another supplier shipped the
    same order) and NOT EXISTS (another supplier was ALSO late), late
    meaning shipped more than 90 days after the order date.

    Scale: both subqueries become one LEFT SEMI and one LEFT ANTI on the
    orderkey equi-key with the suppkey inequality as a residual — three
    shuffles of orderkey-keyed projections total, no join+distinct, no
    window. Supplier is a broadcast dim; the final agg has at most
    |supplier| keys. Top-20 with a name tie-break."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    l1 = late.select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    other_ship = (F.col("k2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey"))
    other_late = (F.col("k3") == F.col("l_orderkey")) & (F.col("s3") != F.col("l_suppkey"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        l1.join(l2, on=other_ship, how="left_semi")
        .join(l3, on=other_late, how="left_anti")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


ORACLE_WAITING_SUPPLIERS = """
WITH fo AS (
  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
),
late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN fo ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: per-nation count and balance of above-average-balance
    customers with NO order since 1999 — the 1-row-broadcast scalar
    subquery (global positive-balance average) plus an anti join against
    recent orders.

    Scale: the global average is one combinable (sum, count) agg reduced
    to a single broadcast row; the above-average test is exact integer
    cross-multiplication (bal·cnt > sum) so no float mean is ever
    compared. The anti join shuffles custkey-keyed projections only; the
    recent-order filter pushes to the orders scan. Final agg is bounded
    by |nation|."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).cast("decimal(28,8)").alias("sum_pos"),
        F.count(F.lit(1)).cast("bigint").alias("cnt_pos"),
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(_dec("c_acctbal") * F.col("cnt_pos") > F.col("sum_pos"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(
                F.sum(_dec("c_acctbal").cast("decimal(28,8)")).cast("double"), 4
            ).alias("totacctbal"),
        )
        .orderBy("nation")
    )


ORACLE_IDLE_CUSTOMERS = """
WITH pos AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(28,8)) AS sum_pos,
         CAST(count(*) AS BIGINT) AS cnt_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DECIMAL(28,8)))
             AS DOUBLE), 4) AS totacctbal
FROM customer
CROSS JOIN pos
JOIN nation ON c_nationkey = n_nationkey
WHERE CAST(c_acctbal AS DECIMAL(18,4)) * cnt_pos > sum_pos
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  )
GROUP BY n_name
ORDER BY nation
"""


def q_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: shipping volume between two nations per year, both
    directions — the two-dimension big join (lineitem⋈orders on orderkey
    is the centerpiece; supplier and customer carry the nation legs).

    Scale: supplier pre-filters to the two nations BEFORE touching
    lineitem (broadcast semi), so the fact scan's join input shrinks by
    ~|nations|/2 immediately; the customer leg joins after the
    orderkey shuffle and the pair predicate drops non-qualifying rows
    before the final tiny agg (2 nations × 2 directions × years). The
    year comes off l_shipdate so no second date column is shuffled."""
    pair = ("NATION_1", "NATION_2")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("snk"))
        .select("s_suppkey", "supp_nation")
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cnk"))
        .select("c_custkey", "cust_nation")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("yr"))
        .agg(
            F.round(
                F.sum(
                    (_dec("l_extendedprice")
                     * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
                    .cast("decimal(28,8)")
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("lines"),
        )
        .orderBy("supp_nation", "cust_nation", "yr")
    )


ORACLE_TRADE_VOLUME = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS yr,
       round(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
             AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS lines
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, yr
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP ladder (region → nation → grand total) over
    order revenue — the subtotal surface `source_lang_cube`'s CUBE does
    not demonstrate (ROLLUP emits only the hierarchy's prefixes, so the
    Expand replicates each row 3×, not 4×). GROUPING() flags distinguish
    subtotal rows from real NULL keys; labels coalesce to '(all)'.

    Scale: customer/nation/region are broadcast dims; orders shuffles
    once on custkey, then ONE Expand feeds a single partial-aggregable
    exchange whose key space is ≤ |region|·|nation|+|region|+1 — three
    separate GROUP BYs would scan the fact table three times."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.round(
                F.sum(_dec("o_totalprice").cast("decimal(28,8)")).cast("double"), 4
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation_name"),
            "g_region",
            "g_nation",
            "revenue",
            "n_orders",
        )
        .orderBy("g_region", "g_nation", "region_name", "nation_name")
    )


ORACLE_REVENUE_ROLLUP = """
SELECT COALESCE(r_name, '(all)') AS region_name,
       COALESCE(n_name, '(all)') AS nation_name,
       CAST(GROUPING(r_name) AS INT) AS g_region,
       CAST(GROUPING(n_name) AS INT) AS g_nation,
       round(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DECIMAL(28,8)))
             AS DOUBLE), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY g_region, g_nation, region_name, nation_name
"""


def q_behavior_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set-operation surface: distinct (user,
    event_type) behavior pairs on an early day vs a late day — how much
    of the behavior grid repeated, lapsed, or is new. Day granularity
    because every synthetic user is active in every multi-day window
    (user-level set ops would be degenerate: all 150 users intersect).

    Scale: Spark compiles intersect/subtract on pre-distinct inputs to
    LEFT SEMI / LEFT ANTI joins plus one distinct agg each — the pair
    sets are bounded by |users|·|event types| so every exchange is tiny;
    the date filters push to the events scan. Three 1-row branches union
    into the 3-row segment table."""
    ev = load(spark, sf_dir, "events")
    day = lambda d: (  # noqa: E731
        ev.filter(F.col("ts").cast("date") == F.lit(d).cast("date"))
        .select("user_id", "event_type")
        .distinct()
    )
    a, b = day("2024-01-02"), day("2024-01-29")

    def seg(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")).select(
            F.lit(name).alias("segment"), "n_pairs"
        )

    return (
        seg("repeated", a.intersect(b))
        .unionByName(seg("lapsed", a.subtract(b)))
        .unionByName(seg("new", b.subtract(a)))
        .orderBy("segment")
    )


ORACLE_BEHAVIOR_SET_OPS = """
WITH a AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-02'
),
b AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE CAST(ts AS DATE) = DATE '2024-01-29'
)
SELECT 'repeated' AS segment,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_pairs
UNION ALL
SELECT 'lapsed',
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
UNION ALL
SELECT 'new',
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT * FROM b EXCEPT SELECT * FROM a))
ORDER BY segment
"""


def q_shipmode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: per ship mode, how many lineitems shipped in one year
    belong to high- vs low-priority orders — the conditional-CASE-sum
    pair grouped by a small dimension. The driver tables carry no
    shipmode column, so the mode is md5-synthesized per
    (orderkey, linenumber) — the same deterministic-dim synthesis the
    ratio-bucket and phash families use; the PLAN SHAPE (year filter
    pushed, orderkey join, two conditional sums over a 4-key group) is
    what this query demonstrates.

    Scale: the shipdate window prunes the scan; the priority flags ride
    the orders side of one orderkey-keyed join; the final agg is 4 rows
    with map-side partials."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    modes = F.array(F.lit("MAIL"), F.lit("SHIP"), F.lit("AIR"), F.lit("TRUCK"))
    mode = F.element_at(
        modes,
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "-",
                            F.col("l_orderkey").cast("string"),
                            F.col("l_linenumber").cast("string"),
                        )
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("bigint") % 4
            + 1
        ).cast("int"),
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_orderkey", mode.alias("shipmode"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi_pri = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("shipmode")
        .agg(
            F.sum(F.when(hi_pri, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(hi_pri, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


ORACLE_SHIPMODE_COUNTS = """
WITH l AS (
  SELECT l_orderkey,
    ['MAIL','SHIP','AIR','TRUCK'][1 +
      ('0x' || substr(md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR),
       1, 7))::BIGINT % 4] AS shipmode
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
)
SELECT shipmode,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM l JOIN orders ON l_orderkey = o_orderkey
GROUP BY shipmode ORDER BY shipmode
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the supplier(s) with THE maximum revenue over one
    quarter — the classic view + global-max scalar-subquery pattern
    (revenue per supplier, then keep rows equal to max(revenue)), which
    is the argmax form that needs NO window and NO top-k heap: the
    1-row max broadcasts back against the bounded per-supplier rollup.

    Scale: the quarter filter pushes to the lineitem scan; the revenue
    agg is bounded by |supplier| and combines map-side; the max is a
    1-row broadcast; supplier is a broadcast dim. Revenue compares on
    the already-rounded 4-dp value (round-before-compare discipline) so
    the equality can't split on a last-ulp difference."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    dec = lambda cn: F.col(cn).cast("decimal(18,4)")  # noqa: E731
    rev = (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    (dec("l_extendedprice")
                     * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                    .cast("decimal(28,8)")
                ).cast("double"),
                4,
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         round(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
               * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
               AS DECIMAL(28,8))) AS DOUBLE), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


# registry
# ---------------------------------------------------------------------------

from pegasus_spark.analytics.pipeline_queries import (  # noqa: E402
    PIPELINE_ORACLES,
    PIPELINE_QUERIES,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "rate_stats": q_rate_stats,
    "daily_stats": q_daily_stats,
    "top_orders": q_top_orders,
    "topk_per_group": q_topk_per_group,
    "join_filter_topn": q_join_filter_topn,
    "correlated_lookup": q_correlated_lookup,
    "anti_join_unseen": q_anti_join_unseen,
    "cdc_price_change": q_cdc_price_change,
    "price_change_ratio_report": q_price_change_ratio_report,
    "meta_change_melt": q_meta_change_melt,
    "first_value_per_key": q_first_value_per_key,
    "day_sweep_active": q_day_sweep_active,
    "mergesort": q_mergesort,
    "asof_last_error": q_asof_last_error,
    "range_join_nearby_clicks": q_range_join_nearby_clicks,
    "multires_rollup": q_multires_rollup,
    "sessionize": q_sessionize,
    "funnel": q_funnel,
    "retention": q_retention,
    "transition_matrix": q_transition_matrix,
    "recrawl_priority": q_recrawl_priority,
    "shipping_priority": q_shipping_priority,
    "revenue_by_nation": q_revenue_by_nation,
    "supplier_balance_by_region": q_supplier_balance_by_region,
    "returned_items": q_returned_items,
    "order_priority_counts": q_order_priority_counts,
    "burst_users": q_burst_users,
    "spend_outliers": q_spend_outliers,
    "revenue_forecast": q_revenue_forecast,
    "brand_supplier_counts": q_brand_supplier_counts,
    "host_degree_stats": q_host_degree_stats,
    "daily_volume_ma7": q_daily_volume_ma7,
    "rfm_segments": q_rfm_segments,
    "promo_revenue_share": q_promo_revenue_share,
    "daily_churn": q_daily_churn,
    "user_concentration": q_user_concentration,
    "fulfillment_lag": q_fulfillment_lag,
    "revenue_yoy": q_revenue_yoy,
    "top_paths": q_top_paths,
    "session_abandonment": q_session_abandonment,
    "order_count_distribution": q_order_count_distribution,
    "small_qty_revenue": q_small_qty_revenue,
    "large_orders": q_large_orders,
    "disjunctive_revenue": q_disjunctive_revenue,
    "waiting_suppliers": q_waiting_suppliers,
    "idle_customers": q_idle_customers,
    "trade_volume": q_trade_volume,
    "revenue_rollup": q_revenue_rollup,
    "behavior_set_ops": q_behavior_set_ops,
    "shipmode_counts": q_shipmode_counts,
    "top_supplier": q_top_supplier,
    **PIPELINE_QUERIES,
}

ORACLE_SQL: dict[str, str] = {
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "rate_stats": ORACLE_RATE_STATS,
    "daily_stats": ORACLE_DAILY_STATS,
    "top_orders": ORACLE_TOP_ORDERS,
    "topk_per_group": ORACLE_TOPK_PER_GROUP,
    "join_filter_topn": ORACLE_JOIN_FILTER_TOPN,
    "correlated_lookup": ORACLE_CORRELATED_LOOKUP,
    "anti_join_unseen": ORACLE_ANTI_JOIN_UNSEEN,
    "cdc_price_change": ORACLE_CDC_PRICE_CHANGE,
    "price_change_ratio_report": ORACLE_PRICE_CHANGE_RATIO_REPORT,
    "meta_change_melt": ORACLE_META_CHANGE_MELT,
    "first_value_per_key": ORACLE_FIRST_VALUE_PER_KEY,
    "day_sweep_active": ORACLE_DAY_SWEEP_ACTIVE,
    "mergesort": ORACLE_MERGESORT,
    "asof_last_error": ORACLE_ASOF_LAST_ERROR,
    "range_join_nearby_clicks": ORACLE_RANGE_JOIN_NEARBY_CLICKS,
    "multires_rollup": ORACLE_MULTIRES_ROLLUP,
    "sessionize": ORACLE_SESSIONIZE,
    "funnel": ORACLE_FUNNEL,
    "retention": ORACLE_RETENTION,
    "transition_matrix": ORACLE_TRANSITION_MATRIX,
    "recrawl_priority": ORACLE_RECRAWL_PRIORITY,
    "shipping_priority": ORACLE_SHIPPING_PRIORITY,
    "revenue_by_nation": ORACLE_REVENUE_BY_NATION,
    "supplier_balance_by_region": ORACLE_SUPPLIER_BALANCE_BY_REGION,
    "returned_items": ORACLE_RETURNED_ITEMS,
    "order_priority_counts": ORACLE_ORDER_PRIORITY_COUNTS,
    "burst_users": ORACLE_BURST_USERS,
    "spend_outliers": ORACLE_SPEND_OUTLIERS,
    "revenue_forecast": ORACLE_REVENUE_FORECAST,
    "brand_supplier_counts": ORACLE_BRAND_SUPPLIER_COUNTS,
    "host_degree_stats": ORACLE_HOST_DEGREE_STATS,
    "daily_volume_ma7": ORACLE_DAILY_VOLUME_MA7,
    "rfm_segments": ORACLE_RFM_SEGMENTS,
    "promo_revenue_share": ORACLE_PROMO_REVENUE_SHARE,
    "daily_churn": ORACLE_DAILY_CHURN,
    "user_concentration": ORACLE_USER_CONCENTRATION,
    "fulfillment_lag": ORACLE_FULFILLMENT_LAG,
    "revenue_yoy": ORACLE_REVENUE_YOY,
    "top_paths": ORACLE_TOP_PATHS,
    "session_abandonment": ORACLE_SESSION_ABANDONMENT,
    "order_count_distribution": ORACLE_ORDER_COUNT_DISTRIBUTION,
    "small_qty_revenue": ORACLE_SMALL_QTY_REVENUE,
    "large_orders": ORACLE_LARGE_ORDERS,
    "disjunctive_revenue": ORACLE_DISJUNCTIVE_REVENUE,
    "waiting_suppliers": ORACLE_WAITING_SUPPLIERS,
    "idle_customers": ORACLE_IDLE_CUSTOMERS,
    "trade_volume": ORACLE_TRADE_VOLUME,
    "revenue_rollup": ORACLE_REVENUE_ROLLUP,
    "behavior_set_ops": ORACLE_BEHAVIOR_SET_OPS,
    "shipmode_counts": ORACLE_SHIPMODE_COUNTS,
    "top_supplier": ORACLE_TOP_SUPPLIER,
    **PIPELINE_ORACLES,
}
