"""Session configuration that the timed paths depend on."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pegasus_spark.session import local_df


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _plan(spark, i: int):
    # the literal is inlined into the generated source, so every i compiles
    # a class of its own
    return spark.range(3).select((F.col("id") * 7 + F.lit(1_000_003 + i)).alias("v"))


def test_codegen_cache_keeps_working_set(spark):
    """A working set of 150 distinct generated classes (more than Spark's
    default cache of 100) stays cached: re-running the first plan after the
    other 149 compiles nothing."""
    n = 150
    c0 = _compiles(spark)
    for i in range(n):
        assert _plan(spark, i).collect()[0]["v"] == 1_000_003 + i
    assert _compiles(spark) - c0 >= n, "the plans did not generate distinct classes"
    c1 = _compiles(spark)
    assert _plan(spark, 0).collect()[0]["v"] == 1_000_003
    assert _compiles(spark) == c1, "re-running the first plan recompiled it"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jvm_schema(df) -> StructType:
    # df.schema may be the Python-side copy pyspark kept at creation
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


LOCAL_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("max_per_round", IntegerType(), nullable=False),
        StructField("robots_disallow", ArrayType(StringType())),
        StructField("bitset", BinaryType()),
        StructField("url_hash64", LongType()),
    ]
)
LOCAL_ROWS = [
    ("h0.test", 3, ["/a", "/b"], b"\x00\xff\x10", -(2**62)),
    (None, 0, [], b"", 2**40),
    ("h1.test", 7, None, None, None),
    ("h2.test", 1, ["/c", None], bytearray(b"\x07"), 0),
]


@pytest.mark.parametrize(
    "rows",
    [LOCAL_ROWS, [], "collected"],
    ids=["tuples", "empty", "collected_rows"],
)
def test_local_df_round_trips_as_local_relation(spark, rows):
    """Driver-held rows come back exactly, with the schema's names, types
    and nullability, and the frame is a JVM-local relation: no Python RDD
    scan, so no Python-worker job."""
    if rows == "collected":
        rows = spark.createDataFrame(LOCAL_ROWS, LOCAL_SCHEMA).collect()
    df = local_df(spark, rows, LOCAL_SCHEMA)
    assert _jvm_schema(df) == LOCAL_SCHEMA
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in rows]
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_df_takes_ddl(spark):
    ddl = "url string, old_state string, n bigint"
    df = local_df(spark, [("u", None, 2**40)], ddl)
    assert _jvm_schema(df) == _jvm_schema(spark.createDataFrame([], ddl))
    assert df.collect() == [Row(url="u", old_state=None, n=2**40)]
