"""Session configuration that the timed paths depend on."""

from __future__ import annotations

import pyspark.sql.functions as F


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
