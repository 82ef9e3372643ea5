"""Tiny-scale self-test of the benchmark (sf0.001 tables, a 2x2x3 site).

    python3 -m pytest perfbench/tests -q

Each case runs ``run.py`` from the repository root in a subprocess with
its own JVM; the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from spans import per_layer_spec  # noqa: E402


def _run(*args: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--scale", "tiny",
         "--seed", "42", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["crawl", "analytics"])
def test_every_end_to_end_metric_printed_with_unit(workload):
    _, res = _run("--workload", workload, "--trace", "0")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


# layers each workload must exercise; the other workload's layers stay idle
LAYERS = {
    "crawl": ["crawler.scheduler", "crawler.frontier", "crawler.bloom", "crawler.fetch",
              "crawler.items", "crawler.cdc", "analytics.reports"],
    "analytics": ["analytics.queries", "textops.dedup", "textops.text", "multimodal"],
}


@pytest.mark.parametrize("workload", ["crawl", "analytics"])
def test_traced_run_reports_layers_and_spans_nest(workload):
    _, res = _run("--workload", workload, "--trace", "1")
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert want == {n: u for n, u, _ in per_layer_spec()}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["correct"]
    m = res["metrics"]
    for layer in LAYERS[workload]:
        assert m[f"{layer}.calls"]["value"] > 0 and m[f"{layer}.jobs"]["value"] > 0, layer
    idle = LAYERS["analytics" if workload == "crawl" else "crawl"]
    assert all(m[f"{layer}.calls"]["value"] == 0 for layer in idle)
    if workload == "analytics":
        # the cluster build's eager checkpoints run on the builder's own
        # threads, which carry no job group
        assert m["textops.dedup.build_jobs"]["value"] > 0
    # the tracer's own time, measured, and a part of the traced pass
    assert 0 < m["tracing.overhead_s"]["value"] < m["tracing.pass_s"]["value"]

    with open(os.path.join(BENCH, "_out", f"trace-{workload}-seed42.json")) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    children = [s for s in spans if s["parent"] is not None]
    if workload == "crawl":
        assert children
    else:  # flat spans, one after another on the main thread
        flat = sorted(spans, key=lambda s: s["start"])
        assert all(a["end"] <= b["start"] for a, b in zip(flat, flat[1:]))
    for s in children:
        p = by_id[s["parent"]]
        assert p["start"] <= s["start"] and s["end"] <= p["end"], (p["name"], s["name"])
        assert 0 <= s["self_s"] <= s["end"] - s["start"] + 1e-9


@pytest.mark.parametrize("workload,op,passes", [
    ("crawl", "crawl", 1),
    # the output of the second warm pass is not corrupted, and is checked
    ("analytics", "text_curation", 2),
])
def test_corrupted_output_counts_as_failed_operation(workload, op, passes):
    info, res = _run("--workload", workload, "--trace", "0", "--corrupt", op,
                     "--min-passes", str(passes))
    assert res["failed"] == 1 and not res["correct"]
    assert info["config"]["passes"] == passes
    assert res["attempted"] == passes * len({o["name"] for o in info["ops"]})
