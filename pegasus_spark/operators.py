"""Custom relational operators Spark lacks as built-ins (task brief: "when
the reference has an operator Spark lacks (e.g., as-of join) implement it as
a composition of existing DataFrame ops").

asof_join: for every left row, the most recent right row with
right_ts <= left_ts per key — the point-in-time lookup behind
"price as of day" style queries (the reference's day-sweep replay,
tools/lianjia_avg.py:165-229, is an as-of join in disguise).

Implementation is the single-shuffle union trick, NOT a range join:
tag both sides, union on (keys, ts), forward-fill the right payload with a
`last(ignorenulls)` window ordered by (ts, side) — right rows sort before
left rows at equal ts, giving inclusive <= semantics that match DuckDB's
native `ASOF JOIN ... ON l.ts >= r.ts` — then keep the left rows. One
shuffle on the keys; no per-key cross product, no driver loops. At 100 TB
this is the standard scalable as-of shape (a range join would be quadratic
per key).

bucket_pairs: the candidate-then-verify similarity join — explode bucket
keys, equality-join, verify each candidate pair — behind every near-dup
family in textops and multimodal.

ordered_prefix: a row number, running sum or running max over a global
total order, size-switched between one global window and a ranged form with
no single-partition exchange — behind the crawl's golden seq, the exact
ranks, sequence packing's token offsets and the Pareto sweep.

exact_percentiles: per-group percentile_disc by integer rank math."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_value_cols: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Columns out: all left columns + the matched right value columns.
    ``how``: 'inner' drops left rows with no prior right row; 'left' keeps
    them with nulls."""
    right_value_cols = right_value_cols or [
        c for c in right.columns if c not in keys and c != right_ts
    ]
    l2 = left.select(
        *keys,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_lrow"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_value_cols
            ) + ">"
        ).alias("_rval"),
    )
    r2 = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l2.schema["_lrow"].dataType.simpleString()).alias("_lrow"),
        F.struct(*right_value_cols).alias("_rval"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.asc("_ts"), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        l2.unionByName(r2)
        .withColumn("_match", F.last("_rval", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    if how == "inner":
        filled = filled.filter(F.col("_match").isNotNull())
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns] + [
        F.col(f"_match.{c}").alias(c) for c in right_value_cols
    ]
    return filled.select(*out_cols)


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    lo: int,
    hi: int,
    bin_size: int | None = None,
) -> DataFrame:
    """All (left, right) row pairs with ``right_on - left_on`` in [lo, hi]
    (a pure range/interval join, no equality key — e.g. "events within ±5
    minutes of each alert").

    Naive Spark turns an inequality-only join condition into
    BroadcastNestedLoopJoin — O(|L|·|R|) and a driver OOM at scale. This is
    the standard binned rewrite instead: bucket the right side by
    ``floor(t / bin_size)`` (each right row lands in exactly ONE bin),
    explode each left row to the bins its window [t+lo, t+hi] overlaps
    (ceil((hi-lo)/bin_size)+1 of them, 2 with the default bin), then a plain
    shuffle EQUALITY join on the bin plus the exact range filter. Each
    qualifying pair is produced exactly once (the matching right row's single
    bin). Shuffle key is the bin — time-local, so skew only where event time
    itself is skewed (pick bin_size ≈ hi-lo to bound the fan-out at 2×|L|).

    ``left_on``/``right_on`` must be integer columns (e.g. unix_micros) with
    distinct names; all left and right columns pass through."""
    bin_size = bin_size or max(hi - lo, 1)

    def _bin(col):
        # Pair-exactness does NOT require the bin function to be a true
        # floor-division — it requires only that (a) it is MONOTONE
        # non-decreasing, so every right row in [t+lo, t+hi] lands in
        # [_bin(t+lo), _bin(t+hi)], and (b) each right row gets exactly one
        # bin; the exact range filter below then removes the slack. Decimal
        # division keeps the quotient monotone and overflow-free for ANY
        # bigint (a double path compresses distinct values beyond 2^53 into
        # equal bins — still correct, but bins stop tracking the intended
        # width, inflating fan-out). Note decimal(38,0)/int rounds at scale
        # 6, so a bin boundary can shift by one ulp — covered by (a).
        return F.floor(col.cast("decimal(38,0)") / F.lit(bin_size)).cast("bigint")

    lb = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                _bin(F.col(left_on) + F.lit(lo)),
                _bin(F.col(left_on) + F.lit(hi)),
            )
        ),
    )
    rb = right.withColumn("_bin", _bin(F.col(right_on)))
    return (
        lb.join(rb, "_bin")
        .filter(F.col(right_on).between(F.col(left_on) + F.lit(lo), F.col(left_on) + F.lit(hi)))
        .drop("_bin")
    )


def bucket_pairs(
    left: DataFrame,
    id_col: str,
    key: Column,
    payload: list[str],
    verify: Column,
    keep: Column,
    right: DataFrame | None = None,
) -> DataFrame:
    """Candidate-then-verify pair search: every near-dup family (minhash
    bands, Hamming chunks, sign-LSH buckets, k-means cells) is this one
    shape. Rows sharing a value of ``key`` are equality-joined, so the
    shuffle key is the bucket and no all-pairs comparison ever runs; each
    candidate is then scored by ``verify`` and kept where ``keep`` holds.

    - ``key`` is evaluated on each side. A scalar key is one bucket per
      row. An ARRAY key (several buckets per row: LSH bands, pigeonhole
      chunks) is exploded first; a pair sharing several buckets meets once
      per shared bucket, so the result is deduped, after the payload is
      dropped. A scalar key gets neither the explode nor the dedupe.
    - ``payload`` columns ride the join as ``<col>_a`` / ``<col>_b`` so
      ``verify`` (a named score, e.g. ``sig_matches``) and ``keep`` (a
      predicate on it) run inside the join, without a join back to the
      input by id and hence without recomputing its lineage. Only ids,
      payload and the key move; wide row content never does.
    - Self form (``right=None``): pairs of ``left`` with ``id_a < id_b``,
      each pair once. Probe form: ``id_a`` from ``left``, ``id_b`` from
      ``right``, which must carry ``id_col`` and the payload columns. A
      caller whose probe side is small (an eval suite) passes
      ``F.broadcast(right)``; the hint survives the explode, so the
      corpus side never shuffles for the probe.

    Output: (id_a, id_b, <verify>). Hot buckets are the skew axis, which
    AQE's skew-join split handles because this is a plain shuffle join."""
    from pyspark.sql.types import ArrayType

    multi = isinstance(left.select(key).schema[0].dataType, ArrayType)
    # explode the expression itself: exploding a projected key column makes
    # the optimizer add a size(key) > 0 filter that computes the key twice
    k = (F.explode(key) if multi else key).alias("_k")

    def side(df, suffix):
        return df.select(
            F.col(id_col).alias(f"id_{suffix}"),
            *[F.col(c).alias(f"{c}_{suffix}") for c in payload],
            k,
        )

    a, b = side(left, "a"), side(left if right is None else right, "b")
    pairs = a.join(b, "_k")
    if right is None:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    pairs = pairs.select("id_a", "id_b", verify).filter(keep)
    return pairs.distinct() if multi else pairs




# Up to this many rows a global window is one cheap task, cheaper than the
# ranged form's checkpoint and offset collect; above it, or when the size
# is unknown, ordered_prefix takes the ranged form. The one size switch of
# every global sequence, running sum and running max.
PREFIX_WINDOW_MAX_ROWS = 100_000


def ordered_prefix(
    df: DataFrame,
    order: list,
    out: str,
    value: str | None = None,
    agg: str = "count",
    exclusive: bool = False,
    n_rows: int | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Adds ``out``: a running aggregate over the total order ``order`` —
    a global sequence (``agg="count"``, the row number), a running sum of
    ``value`` (``"sum"``) or a running max of it (``"max"``).
    ``exclusive`` leaves each row out of its own prefix. ``order`` must end
    in a unique key, so the order is total and every value deterministic.

    NULL values are skipped. Over no values a sum reads 0 and a max reads
    NULL, the identity a caller replaces with its own floor. A count is
    BIGINT.

    Two physical forms, same rows:

    - ``n_rows`` known and ≤ PREFIX_WINDOW_MAX_ROWS: one global window, a
      single-partition exchange of one cheap task.
    - otherwise, an unknown size included: repartitionByRange on the
      order, an eager localCheckpoint, one aggregate per partition
      collected to the driver (≤ n_partitions rows), then a window
      partitioned by the partition id, shifted by the aggregate of every
      earlier partition. No single-partition exchange anywhere; range
      boundaries decide only where a row lands, never its value."""

    def running(w):
        if agg == "count":
            rn = F.row_number().over(w)
            return (rn - 1 if exclusive else rn).cast("bigint")
        w = w.rowsBetween(Window.unboundedPreceding, -1 if exclusive else Window.currentRow)
        if agg == "sum":
            return F.coalesce(F.sum(value).over(w), F.lit(0))
        return F.max(value).over(w)

    if n_rows is not None and n_rows <= PREFIX_WINDOW_MAX_ROWS:
        return df.withColumn(out, running(Window.orderBy(*order)))
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    # The offsets are collected from this placement, so it is FROZEN before
    # the collect: a lineage recompute that re-sampled the range boundaries
    # afterwards would move rows across partitions and silently shift every
    # offset. Spark's ContextCleaner reclaims the checkpoint blocks when the
    # returned frame is released.
    frozen = (
        df.repartitionByRange(n, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    off = _partition_offsets(frozen, value, agg)
    local = running(Window.partitionBy("_pid").orderBy(*order))
    merged = F.greatest(local, off) if agg == "max" else local + off
    return frozen.withColumn(out, merged).drop("_pid")


def _partition_offsets(frozen: DataFrame, value, agg: str) -> Column:
    """Per row of ``frozen``, the count, sum or max over every EARLIER
    range partition (range partition ids ascend with the order): a
    ≤ n_partitions-entry literal map looked up by ``_pid``. The first
    partition reads the identity, 0 or NULL."""
    if agg == "count":
        part = F.count(F.lit(1))
    elif agg == "sum":
        part = F.coalesce(F.sum(value), F.lit(0))  # an all-NULL partition adds 0
    else:
        part = F.max(value)
    rows = frozen.groupBy("_pid").agg(part.alias("v")).collect()
    acc = None if agg == "max" else 0
    kv = []
    for pid, v in sorted((r["_pid"], r["v"]) for r in rows):
        kv += [F.lit(pid), F.lit(acc)]
        if agg != "max":
            acc += v
        elif v is not None:
            acc = v if acc is None else max(acc, v)
    # an empty frame has no partition to look up; any constant types the column
    return F.create_map(*kv)[F.col("_pid")] if kv else F.lit(acc)


def exact_percentiles(
    df: DataFrame,
    group: list[str],
    order: list[str],
    value: str,
    picks: dict[str, int],
    n_col: str,
    *extra: Column,
) -> DataFrame:
    """Exact percentile_disc per group: for each ``name: p`` in ``picks``
    the ``value`` at row (p·n + 99) DIV 100 of its group in ``order`` —
    integer rank math, so no float enters and the SQL twin agrees bit for
    bit — plus the group's row count as ``n_col`` and any ``extra``
    aggregates, one row per group. The window partitions on ``group``;
    an empty ``group`` is one global window, a single task."""
    ranked = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy(*group).orderBy(*order))
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(*group)))
    return ranked.groupBy(*group).agg(
        F.max("n").cast("bigint").alias(n_col),
        *[
            F.max(
                F.when(F.col("rn") == F.expr(f"({p} * n + 99) DIV 100"), F.col(value))
            ).alias(name)
            for name, p in picks.items()
        ],
        *extra,
    )
