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
family in textops and multimodal."""

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


def range_prefix_max(frozen: DataFrame, value_col: str, floor_value: int = -1):
    """Per-partition EXCLUSIVE prefix maxima for a range-partitioned frame —
    the max-monoid sibling of ``range_prefix_offsets`` (same contract:
    ``frozen`` carries ``_pid`` = spark_partition_id() taken AFTER
    repartitionByRange on the sweep order and is already eagerly
    localCheckpointed, because the ≤ n_partitions-row collect below reads
    that placement). Returns a map Column _pid → max(value_col) over all
    EARLIER partitions, ``floor_value`` for the first partition (and for
    any prefix that is all-NULL — ANSI MAX skips NULLs). Used by sweep
    algorithms (Pareto frontier) that need "running max so far" without a
    single-partition global window: partition-local window + this offset
    = the exact global prefix max."""
    per_pid = {
        int(r["_pid"]): r["v"]
        for r in frozen.groupBy("_pid").agg(F.max(value_col).alias("v")).collect()
    }
    offsets, acc = {}, floor_value
    for pid in sorted(per_pid):  # range partitions are ordered by the keys
        offsets[pid] = acc
        v = per_pid[pid]
        if v is not None and v > acc:
            acc = v
    return F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )


def range_prefix_offsets(frozen: DataFrame, value_col: str | None = None):
    """Per-partition exclusive prefix offsets for a range-partitioned frame —
    the shared second half of the "global sequence / global prefix sum
    without a single-partition exchange" pattern (frontier.with_dequeue_seq
    for row_number seqs; textops.text.sequence_pack for token-offset sums).

    ``frozen`` must carry a ``_pid`` = spark_partition_id() column taken
    AFTER repartitionByRange on the ordering keys, and must already be
    FROZEN (eager localCheckpoint): the offsets are collected from that
    placement, so a lineage recompute that re-samples range boundaries
    after the collect would shift rows across partitions and silently
    corrupt every downstream offset. That invariant lives HERE — callers
    checkpoint before calling, and this function only reads the frozen
    frame.

    ``value_col=None`` counts rows per partition (offset for a row_number
    sequence); otherwise sums ``value_col`` (offset for a running sum).
    Returns a map Column keyed by _pid — a ≤ n_partitions-entry literal,
    the documented bounded-driver-collect pattern (the collect is one row
    per partition, never data rows)."""
    # coalesce: a partition whose value_col is all-NULL sums to NULL (ANSI
    # SUM skips nulls) — it contributes 0 to downstream offsets, not a crash
    agg = (
        F.count(F.lit(1))
        if value_col is None
        else F.coalesce(F.sum(value_col), F.lit(0))
    ).alias("v")
    per_pid = {
        int(r["_pid"]): int(r["v"])
        for r in frozen.groupBy("_pid").agg(agg).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(per_pid):  # range partitions are ordered by the keys
        offsets[pid] = acc
        acc += per_pid[pid]
    return F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )
