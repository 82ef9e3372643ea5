"""Global physical-plan invariant sweep over the ENTIRE registry.

The per-op plan claims live in PLANS.md and in targeted TestPlanShapes
asserts; this sweep pins the three invariants every query must satisfy at
100 TB regardless of shape:

- **no CartesianProduct, ever** (crossJoins of broadcast 1-row/tiny
  frames compile to BroadcastNestedLoopJoin, which is fine and
  deliberately common here; CartesianProduct is what a dropped join
  condition or a non-broadcast cross join degrades to, and at scale it
  is O(n·m) shuffle death);
- **no row-at-a-time Python, ever** (`BatchEvalPython` — the registry's
  only sanctioned Python boundary is Arrow-batched, and in fact no
  registered query uses Python at all: the one pandas_udf op,
  compression_ratio, is deliberately pytest-only);
- **no global window unless allowlisted** (a `WindowExec` with an empty
  partitionSpec funnels its whole input through one task). Every query
  that plans one names why in GLOBAL_WINDOWS: its window sees a few
  aggregated rows or a small subset, or it is an
  ``operators.ordered_prefix`` call under its size switch (the ranged
  form above it). An entry whose query plans no global window fails too.

Building the DataFrame also re-runs each query's analysis phase, so a
schema regression in ANY registered query fails here without waiting
for the oracle gate.

Runs at sf0.001 — plan construction is the point, not data volume (a
few queries execute bounded driver collects while building; the small SF
keeps those cheap)."""

from __future__ import annotations

import pytest

SF_PLAN_DIR = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

_UNDER_SWITCH = "ordered_prefix under PREFIX_WINDOW_MAX_ROWS at test scale"
GLOBAL_WINDOWS = {
    "rfm_segments": _UNDER_SWITCH,
    "spend_outliers": _UNDER_SWITCH,
    "user_concentration": _UNDER_SWITCH,
    "sequence_pack": _UNDER_SWITCH + "; sequence_pack_ranged gates the ranged form",
    "ann_recall": "row numbers over two k-row top-k results",
    "quantization_recall": "row numbers over two k-row top-k results",
    "cluster_size_histogram": "running sum over one row per duplicate-group size",
    "threshold_sweep": "running sums over at most 10 decile-bucket rows",
    "daily_volume_ma7": "7-row moving average over one row per day",
    "funnel": "first_value over the 3 step rows",
    "key_skew_report": "top-10 row number and cumulative share; the optimizer "
    "plans TakeOrderedAndProject(limit=10) below both windows",
    "conversion_latency": "exact percentiles over converted users only, "
    "the funnel's bottleneck set",
}


def has_global_window(plan) -> bool:
    """Whether a physical plan holds a WindowExec with an empty
    partitionSpec, read from the plan tree: the plan's text omits empty
    lists, so a partitioned window with no order prints like a global
    ordered one."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.inputPlan())
            continue
        if name == "WindowExec" and node.partitionSpec().isEmpty():
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def test_no_cartesian_or_per_row_python_anywhere(spark):
    from pegasus_spark.analytics.queries import QUERIES
    from pegasus_spark.analytics.pipeline_queries import reset_cluster_memo

    reset_cluster_memo()
    bad: dict[str, str] = {}
    failed: dict[str, str] = {}
    windowed: set[str] = set()
    for name, fn in QUERIES.items():
        try:
            jplan = fn(spark, SF_PLAN_DIR)._jdf.queryExecution().executedPlan()
        except Exception as exc:  # noqa: BLE001 — collect, then report all
            failed[name] = repr(exc)[:200]
            continue
        plan = jplan.toString()
        for node in FORBIDDEN:
            if node in plan:
                bad[name] = f"{node}: {plan[:400]}"
        if has_global_window(jplan):
            windowed.add(name)
    assert not failed, f"queries failing to build a plan: {failed}"
    assert not bad, f"forbidden plan nodes in: {list(bad)}\n{bad}"
    unlisted = sorted(windowed - set(GLOBAL_WINDOWS))
    assert not unlisted, f"global WindowExec (empty partitionSpec) in: {unlisted}"
    stale = sorted(set(GLOBAL_WINDOWS) - windowed)
    assert not stale, f"GLOBAL_WINDOWS entries that plan no global window: {stale}"
