"""SparkSession factory.

One place to get a correctly-configured session: AQE on (runtime re-plan +
skew-join handling), Arrow on (vectorized pandas UDF transfer), UTC session
timezone (so date math matches the DuckDB oracle), and a shuffle-partition
count sized to the local core count rather than the 200 default (at cluster
scale this is overridden by AQE coalescing anyway).

The generated-code cache holds 512 classes instead of Spark's 100. Spark
compiles one class per distinct generated source (whole-stage plans,
projections, predicates, orderings) into a JVM-wide LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries. A larger cache saves work
only where one JVM compiles the same source twice. Measured with Spark's
CodegenMetrics on a 4-core VM at ``local[2]``, 100 -> 512 entries:

- The crawl repeats many of its plans from round to round. A fresh crawl of
  the benchmark site in a fresh JVM compiled 545-568 classes, now 344. A
  further run in the same process (``new_run``, then drain) compiled
  530-562, now 28-54.
- One pass of the benchmark's analytics queries generates about 230
  distinct classes and repeats none of them. A fresh JVM that runs them
  once (the CLI, ``bench.py``) compiles the same 228-233 classes either way.
  A JVM that runs them again (the benchmark's warm-up then timed pass, a
  test session) recompiled 225-231 classes in the second pass, now 0.

Plans that inline a per-round literal (the crawler's round number) are new
classes every round, so a long-lived crawler fills the cache. 512, 1024
and 4096 gave the same counts above; 512, the smallest, bounds what
the stale classes hold. After eight further runs (round 44) the cache was
full: its keys held 4.7 MB of generated source (0.5 MB at 100 entries) and
metaspace was 2.9 MB larger. The conf is static: it takes effect in the
first session a JVM builds.

Replaces the reference's config-server boot path
(/root/reference/src/pegasus/cfgmgr/mgr.go:12,
 /root/reference/src/pegasus/worker/workermain.go:45-80): all of the
master/worker discovery collapses into `spark-submit --py-files` + this
builder.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# spark.sql.codegen.cache.maxEntries: holds the classes of a whole crawl
# (~340) or analytics pass (~230); see the module docstring
CODEGEN_CACHE_ENTRIES = 512


def local_df(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-held rows, planned as a JVM-local relation.

    ``rows`` are positional (tuples, or ``Row``s from ``collect()``) in the
    order of ``schema``'s fields; ``schema`` is a ``StructType`` or a DDL
    string. Names, types and nullability are ``schema``'s, exactly as
    ``spark.createDataFrame(list, schema)`` would give them.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a Python
    RDD (``Scan ExistingRDD``), so every scan of the frame, however small,
    starts a Python-worker task to re-pickle them. The crawler scans such
    frames in every round (the politeness budget in each dequeue and
    candidate build, the micro-batch overlay, ``rounds`` rows). Here the
    rows go to the JVM once as a pyarrow table with the schema's Arrow
    types, and Spark plans them as ``LocalTableScan``, with no Python job.
    Measured on a 4-core VM at ``local[2]``:

    - A broadcast join against the budget took 520-800 ms as a Python RDD,
      170-265 ms as a local relation.
    - The benchmark's crawl (``perfbench``, 10 seeds): median timed pass
      36.5 -> 28.3 s; scheduler executor CPU 23.5 -> 13.0 s and frontier
      wall 16.4 -> 11.0 s in traced runs, with the same jobs per layer.
    - 100k frontier rows (the micro-batch overlay's cap): building the frame
      1.47 -> 0.53 s; a broadcast anti-join and full-row aggregate over it
      1.45 -> 1.62 s.
    - The first Arrow conversion in a JVM costs about 0.6 s once.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "pegasus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) —
    the sandbox stand-in for a multi-executor cluster. On a real cluster the
    caller passes ``master="inherit"``: the builder then sets no master at
    all and the one given to ``spark-submit --master`` flows through the
    ``spark.master`` conf (scripts/run_crawl.py is the launch path that
    exercises this, pinned by tests/test_submit.py).
    """
    # Executor Python workers must import this package even when the driver
    # was launched outside the repo (the cluster equivalent is
    # `spark-submit --py-files pegasus_spark.zip`). PYTHONPATH must be set
    # BEFORE the JVM forks the first python worker.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core is the sweet spot for
        # sub-GB inputs; cluster mode relies on AQE target-size coalescing.
        n = cpus if master.startswith("local") else 200
        shuffle_partitions = n

    builder = SparkSession.builder.appName(app_name)
    if master != "inherit":
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by SIZE, not default parallelism: with parallelismFirst
        # (the default) a 10-row frontier shuffle still schedules `cpus`
        # tasks; 8 MB advisory keeps real data parallel while collapsing the
        # scheduler's many tiny exchanges. CPU-bound pandas-UDF stages pin
        # their own partition counts explicitly (fetch_batch, extract_items).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(8 * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # without this, caching a DataFrame pins its shuffle partitioning and
        # AQE stops coalescing tiny shuffles → 32-96 task stages on 10-row
        # frontier rounds (measured 3-5× round overhead in the crawl loop)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
