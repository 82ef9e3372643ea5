"""Spans around layer entry points, with Spark counters attributed by job group.

Nothing inside ``pegasus_spark`` is instrumented: the benchmark wraps the
public calls into each layer (``Tracer.span`` around a call it makes itself,
``Tracer.patch`` for a method the crawler calls internally). Each span sets
a thread-local Spark job group on entry and restores the previous one on
exit, so every Spark job is attributed to the innermost open span of the
thread that submitted it. Threads the program starts itself (the crawler's
pool, the cluster builder's ``ThreadPoolExecutor``) do not inherit the group;
their jobs are charged to the innermost span open on the main thread when
they were submitted. Call-site names cannot be used for this: DataFrame
writes report ``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``.

Spans are kept in memory; counters are read once, after the traced pass,
from Spark's status store (``jobsList`` / ``stageList``), which is populated
even with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"
CHECK_GROUP = "perfbench-check"  # the benchmark's own jobs: charged to no layer

# layer -> extra per-layer metric names (beyond the common counters); values
# are filled in by the workloads
LAYERS = {
    "crawler.scheduler": ["rounds"],
    "crawler.frontier": ["store_mb"],
    "crawler.bloom": [],
    "crawler.fetch": ["ok_ratio", "retries"],
    "crawler.items": [],
    "crawler.cdc": ["change_rows"],
    "analytics.reports": [],
    "analytics.queries": ["build_s", "build_jobs"],
    "textops.dedup": ["build_jobs"],
    "textops.text": [],
    "multimodal": ["keep_ratio"],
}
COUNTERS = [
    ("calls", "count", "lower"),
    ("wall_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
]
EXTRA_UNITS = {
    "rounds": ("count", "lower"),
    "store_mb": ("MB", "lower"),
    "ok_ratio": ("ratio", "higher"),
    "retries": ("count", "lower"),
    "change_rows": ("count", "higher"),
    "build_s": ("s", "lower"),
    "build_jobs": ("count", "lower"),
    "keep_ratio": ("ratio", "higher"),
}
# tracing cost: the traced pass wall, and the time spent in the tracer's own
# span entry and exit during it (the job-group round trips to the JVM and the
# bookkeeping), summed over threads. That is all tracing adds to a pass; the
# wall difference between two passes is far noisier than it (two warm crawl
# passes in one JVM differed by 3 s).
TRACING = [("tracing.pass_s", "s", "lower"), ("tracing.overhead_s", "s", "lower")]


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    out = []
    for layer, extras in LAYERS.items():
        out += [(f"{layer}.{c}", u, b) for c, u, b in COUNTERS]
        out += [(f"{layer}.{e}", *EXTRA_UNITS[e]) for e in extras]
    return out + TRACING


class Tracer:
    """Collects the spans of a traced pass. A disabled tracer is a no-op, so
    the untraced pass runs the same workload code without job groups."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.main_thread = threading.get_ident()
        self._main_stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.cost_s = 0.0

    def reset(self) -> None:
        """Forget the spans and the cost so far: start a new traced pass."""
        self.spans = []
        self.cost_s = 0.0

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self.main_thread:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str):
        """Time the body as one span of ``layer``; Spark jobs the body
        submits from this thread carry the span's job group."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        # a crawler pool thread has no span of its own open: its parent is
        # the outermost span open on the main thread (the round that
        # submitted it and waits for it); an inner one may end first
        parent = stack[-1] if stack else (
            self._main_stack[0] if self._main_stack else None
        )
        sid = next(self._ids)
        sc = self.spark.sparkContext
        old = sc.getLocalProperty(GROUP_KEY)
        sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        rec = {
            "id": sid, "layer": layer, "name": name,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(), "start": time.time(), "end": None,
        }
        stack.append(rec)
        cost = time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            sc.setLocalProperty(GROUP_KEY, old)
            with self._lock:
                self.spans.append(rec)
                self.cost_s += cost + time.perf_counter() - t_out

    @contextmanager
    def quiet(self):
        """Mark the Spark jobs of the body (output checks) as the
        benchmark's own, so no layer is charged for them."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        old = sc.getLocalProperty(GROUP_KEY)
        sc.setLocalProperty(GROUP_KEY, CHECK_GROUP)
        try:
            yield
        finally:
            sc.setLocalProperty(GROUP_KEY, old)

    def patch(self, owner, attr: str, layer: str, name_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``name_of(args)`` names the span (and may return a different layer
        as ``(layer, name)``); ``restore`` undoes every patch."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            got = name_of(args) if name_of else attr
            lay, nm = got if isinstance(got, tuple) else (layer, got)
            with self.span(lay, nm):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def read_status_store(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts the session has run, as plain dicts.
    One Jackson serialization per list keeps this to two gateway calls."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        .__getattr__("MODULE$")
    )
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), None
    )))
    return jobs, stages


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _innermost_main_span(spans: list[dict], main_thread: int):
    """``t_ms -> span id`` of the innermost span open on the main thread at
    ``t_ms`` (epoch milliseconds), or None. Spans of one thread nest, so the
    innermost is the one that started last."""
    main = sorted((s for s in spans if s["thread"] == main_thread),
                  key=lambda s: s["start"])

    def find(t_ms: float):
        best = None
        for s in main:
            # submission times have millisecond resolution
            if s["start"] * 1000 - 1 > t_ms:
                break
            if t_ms <= s["end"] * 1000 + 1:
                best = s["id"]
        return best

    return find


def attribute(spans: list[dict], jobs: list[dict], stages: list[dict],
              main_thread: int) -> dict:
    """Per-span Spark counters, then per-layer sums.

    A job carries the group of the innermost span open on its thread. A job
    with no group (submitted from a thread the program started) is charged
    to the innermost span open on the main thread at its submission time;
    with no span open there it belongs to the benchmark, as do the jobs of
    the output checks (``CHECK_GROUP``)."""
    by_id = {s["id"]: s for s in spans}
    stage_stats = {}
    for st in stages:
        stage_stats.setdefault(st["stageId"], []).append(st)
    counted: set[int] = set()
    span_ctr: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    main_span_at = _innermost_main_span(spans, main_thread)
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        grp = job.get("jobGroup") or ""
        if grp.startswith(GROUP_PREFIX):
            key = int(grp[len(GROUP_PREFIX):])
        elif not grp and job.get("submissionTime"):
            key = main_span_at(job["submissionTime"])
        else:
            continue
        if key not in by_id:
            continue
        c = span_ctr[key]
        c["jobs"] += 1
        for sid in job["stageIds"]:
            if sid in counted:  # a stage shared by later jobs is skipped there
                continue
            counted.add(sid)
            for st in stage_stats.get(sid, []):
                c["tasks"] += st["numCompleteTasks"]
                c["exec_cpu_s"] += st["executorRunTime"] / 1000.0
                c["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                c["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6

    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    layers: dict[str, dict[str, float]] = {
        lay: {c: 0.0 for c, _, _ in COUNTERS} for lay in LAYERS
    }
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(max(k["start"], s["start"]), min(k["end"], s["end"]))
                for k in children[s["id"]] if k["end"] > s["start"]]
        s["self_s"] = dur - _union_len([iv for iv in kids if iv[1] > iv[0]])
        s["counters"] = dict(span_ctr.get(s["id"], {}))
        lay = layers[s["layer"]]
        lay["calls"] += 1
        lay["self_s"] += s["self_s"]
        # nested spans of the same layer are counted once in wall_s
        anc, nested = s["parent"], False
        while anc is not None:
            if by_id[anc]["layer"] == s["layer"]:
                nested = True
                break
            anc = by_id[anc]["parent"]
        if not nested:
            lay["wall_s"] += dur
        for k, v in s["counters"].items():
            lay[k] += v
    return layers
