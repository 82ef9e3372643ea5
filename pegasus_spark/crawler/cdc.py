"""CDC merge: upsert + data-change + meta-change diffs (SURVEY §2.4 J1-J3).

Exact rebuild of the reference's updateApartments path
(/root/reference/src/pegasus/lianjia/updatedb.go:251-379) as ONE full-outer
join instead of a driver-side dict probe:

- J1 upsert: new key → insert (nts = uts = now); matched → update with
  **nts preserved from old** (updatedb.go:301-303); old-only → row kept as-is
  (absent listings are not deleted).
- J2 data-change: matched AND (price OR total moved) → one
  ``apartment_changes`` row carrying old+new values (updatedb.go:317-333).
- J3 meta-change: field-level EAV diff (updatedb.go:335-379). The reference
  reflects over struct fields with a kind check that matches ONLY
  ``reflect.Int`` and ``reflect.String`` — int64 fields (nts, uts) are
  silently skipped, ``Visitcnt`` is blacklisted, and ``nts`` is copied from
  old before the diff. Faithful field list below; the reflection loop becomes
  a compile-time ``stack()`` melt. Note price/total appear in BOTH J2 and J3
  outputs — that is the reference's actual behavior.

On Iceberg this is `MERGE INTO apartments USING batch ON t.aid = s.aid AND
t.region = s.region` + two INSERT-only side outputs; the local parquet
stand-in materializes the merged snapshot. Either way the join shuffles on
(region, aid) once and every diff is a projection of that single join —
region partitioning makes it partition-pruned at 100 TB exactly like the
reference's table-per-region layout (updatedb.go:238-249).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pegasus_spark.session import local_df

APARTMENT_COLS = [
    "location", "aid", "price", "size", "total", "nts", "uts", "subway",
    "station", "smeter", "floor", "tfloor", "year", "withlift", "visitcnt",
    "region",
]

# the apartments table as the store writes it, columns in APARTMENT_COLS order
APARTMENTS_DDL = (
    "location string, aid string, price int, size string, total int, "
    "nts bigint, uts bigint, subway int, station string, smeter int, "
    "floor string, tfloor int, year int, withlift string, visitcnt int, "
    "region string"
)

# J3 diffable fields, in struct order (apartments.go:23-39), minus: aid (join
# key), nts (copied pre-diff), uts (int64 → skipped by the reference's kind
# check), visitcnt (blacklist, updatedb.go:336-338).
META_DIFF_FIELDS = [
    "location", "price", "size", "total", "subway", "station", "smeter",
    "floor", "tfloor", "year", "withlift",
]


def empty_apartments(spark) -> DataFrame:
    return local_df(spark, [], APARTMENTS_DDL)


def merge_apartments(
    old: DataFrame, batch: DataFrame, now_ts: int
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(merged, changes, meta_changes, stats).

    ``batch`` = freshly parsed apartment rows (no nts/uts yet), already
    deduped on (region, aid). ``old`` = previous snapshot. One shuffle on
    (region, aid); every output below is a projection of the same join."""
    o = old.select([F.col(c).alias(f"o_{c}") for c in APARTMENT_COLS])
    n = batch.select(
        [F.col(c).alias(f"n_{c}") for c in APARTMENT_COLS if c not in ("nts", "uts")]
    )
    j = o.join(
        n,
        (F.col("o_aid") == F.col("n_aid")) & (F.col("o_region") == F.col("n_region")),
        "full_outer",
    ).cache()

    is_insert = F.col("o_aid").isNull()
    is_update = F.col("o_aid").isNotNull() & F.col("n_aid").isNotNull()

    def pick(c: str):
        if c == "nts":  # preserved across updates (updatedb.go:301-303)
            return F.when(is_insert, F.lit(now_ts)).otherwise(F.col("o_nts")).alias("nts")
        if c == "uts":
            return (
                F.when(F.col("n_aid").isNotNull(), F.lit(now_ts))
                .otherwise(F.col("o_uts"))
                .alias("uts")
            )
        return F.coalesce(F.col(f"n_{c}"), F.col(f"o_{c}")).alias(c)

    merged = j.select([pick(c) for c in APARTMENT_COLS])

    changes = (
        j.filter(is_update)
        .filter(
            (F.col("o_price") != F.col("n_price")) | (F.col("o_total") != F.col("n_total"))
        )
        .select(
            F.col("o_aid").alias("aid"),
            F.col("o_price").alias("old_price"),
            F.col("n_price").alias("new_price"),
            F.col("o_total").alias("old_total"),
            F.col("n_total").alias("new_total"),
            F.lit(now_ts).alias("ts"),
            F.col("o_region").alias("region"),
        )
    )

    stack_args = ", ".join(
        f"'{c}', CAST(o_{c} AS STRING), CAST(n_{c} AS STRING)" for c in META_DIFF_FIELDS
    )
    meta_changes = (
        j.filter(is_update)
        .select(
            F.col("o_aid").alias("aid"),
            F.col("o_region").alias("region"),
            F.expr(f"stack({len(META_DIFF_FIELDS)}, {stack_args}) AS (item, old, new)"),
        )
        .filter(F.col("old") != F.col("new"))
        .select("aid", "item", "old", "new", F.lit(now_ts).alias("ts"), "region")
    )

    stats = (
        j.filter(F.col("n_aid").isNotNull())
        .groupBy(F.col("n_region").alias("region"))
        .agg(
            F.sum(F.when(is_insert, 1).otherwise(0)).alias("inserted"),
            F.sum(F.when(is_update, 1).otherwise(0)).alias("updated"),
        )
    )
    return merged, changes, meta_changes, stats
