"""Full-crawl integration tests against the pure-pandas oracle:
URL-seen set, golden ordering, apartments content, dedup/malformed paths,
politeness + robots properties, payload per-row invariant."""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from crawl_oracle import (
    expected_apartments_run1,
    expected_fetched_set,
    expected_url_set,
)
from pegasus_spark.crawler.cdc import empty_apartments
from pegasus_spark.crawler.codec import decode_image, psnr, synth_image
from pegasus_spark.crawler.fixtures import budget_df, make_site_spec, write_fixture
from pegasus_spark.crawler.scheduler import CrawlScheduler

TS1 = 1_700_000_000


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    spec = make_site_spec(pages_per_region_max=6)
    fx = str(tmp_path_factory.mktemp("fx"))
    write_fixture(spark, spec, fx, round_no=1)
    work = str(tmp_path_factory.mktemp("work"))
    sched = CrawlScheduler(
        spark, work,
        page_store_path=f"{fx}/site_pages_r1.parquet",
        image_store_path=f"{fx}/items_r1.parquet",
        budget=budget_df(spark, spec),
        seed_urls=[spec.root_url],
        now_ts=TS1,
    )
    result = sched.run()
    ckpt = sched.store.load_checkpoint()
    return spec, sched, result, ckpt


def test_url_seen_set_matches_oracle(crawl):
    spec, sched, _, ckpt = crawl
    frontier = sched.store.read_frontier(ckpt.frontier_version)
    seen = {r["url"] for r in frontier.select("url").collect()}
    assert seen == expected_url_set(spec)


def test_fetched_set_and_states(crawl):
    spec, sched, _, ckpt = crawl
    frontier = sched.store.read_frontier(ckpt.frontier_version)
    fetched = {r["url"] for r in frontier.filter("state='fetched'").collect()}
    assert fetched == expected_fetched_set(spec)
    states = {r["state"] for r in frontier.select("state").distinct().collect()}
    assert states <= {"fetched", "robots_blocked"}  # nothing pending or failed


def test_robots_never_fetched(crawl):
    spec, sched, _, ckpt = crawl
    log = sched.store.read_appended("fetch_log", ckpt.appended_rounds)
    blocked_prefix = f"/ershoufang/{spec.blocked_region}/"
    bad = log.filter(
        F.col("url").contains(blocked_prefix) | F.col("url").contains("/private/")
    )
    assert bad.count() == 0


def test_stage_ordering_golden(crawl):
    """Strict stage barriers (§4.3): root ≺ district ≺ region ≺ listing, and
    within each round the seq order equals the canonical key order."""
    _, sched, _, ckpt = crawl
    log = sched.store.read_appended("fetch_log", ckpt.appended_rounds).toPandas()
    stage_rank = {"root": 0, "district": 1, "region": 2, "listing_page": 3}
    first = log.groupby("kind")["round"].min()
    last = log.groupby("kind")["round"].max()
    for a, b in [("root", "district"), ("district", "region"), ("region", "listing_page")]:
        assert last[a] < first[b], f"stage {a} must fully precede {b}"
    for _, grp in log.groupby("round"):
        g = grp.sort_values("seq")
        key = list(
            zip(-g["priority"], g["region"].fillna(""), g["page"], g["url"])
        )
        assert key == sorted(key), "within-round seq must follow the canonical order"
    assert log["kind"].map(stage_rank).notna().all()


def test_politeness_budget_per_round(crawl):
    spec, sched, _, ckpt = crawl
    log = sched.store.read_appended("fetch_log", ckpt.appended_rounds)
    counts = log.groupBy("round", "host").count().collect()
    for r in counts:
        assert r["count"] <= spec.budget[r["host"]], f"budget exceeded: {r}"


def test_politeness_spacing_within_round(crawl):
    spec, sched, _, ckpt = crawl
    fetches = sched.store.read_appended("fetch_log", ckpt.appended_rounds).toPandas()
    for (rnd, host), grp in fetches.groupby(["round", "host"]):
        ts = np.sort(grp["fetch_ts_ms"].to_numpy())
        if len(ts) > 1:
            assert np.diff(ts).min() >= 10, f"spacing violated r{rnd} {host}"


def test_apartments_match_oracle(crawl):
    spec, sched, _, ckpt = crawl
    got = (
        sched.store.read_apartments(ckpt.apartments_version)
        .toPandas()
        .sort_values(["region", "aid"])
        .reset_index(drop=True)
    )
    exp = (
        pd.DataFrame(list(expected_apartments_run1(spec, TS1).values()))
        .sort_values(["region", "aid"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp), f"{len(got)} vs {len(exp)} rows"
    got = got[exp.columns].astype(exp.dtypes.to_dict())
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_no_duplicate_aids(crawl):
    _, sched, _, ckpt = crawl
    apt = sched.store.read_apartments(ckpt.apartments_version)
    dups = apt.groupBy("region", "aid").count().filter("count > 1")
    assert dups.count() == 0


def test_malformed_routed_to_errors(crawl):
    _, sched, _, ckpt = crawl
    errors = sched.store.read_appended("errors", ckpt.appended_rounds)
    assert errors.filter("error = 'price_parse'").count() > 0
    # no malformed row leaked into apartments (oracle equality already
    # implies this; the explicit null check is belt-and-braces)
    apt = sched.store.read_apartments(ckpt.apartments_version)
    assert apt.filter("price IS NULL").count() == 0


def test_items_payload_invariant(crawl):
    """BASELINE.json input_hint: decoded-pixel allclose (png) / PSNR ≥ 40 dB
    (jpeg) vs the source pixels + exact caption match, on a sample."""
    spec, sched, _, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    sample = items.dropDuplicates(["image_id"]).limit(80).collect()
    assert len(sample) == 80
    for row in sample:
        arr = decode_image(bytes(row["bytes"]))
        src = synth_image(row["image_id"], row["h"], row["w"])
        if row["fmt"] == "png":
            assert np.array_equal(arr, src), row["image_id"]
        else:
            assert psnr(src, arr) >= 40.0, row["image_id"]
        assert row["caption"], row["image_id"]
        assert "平米" in row["caption"]


def test_items_caption_matches_card(crawl):
    spec, sched, _, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    store = sched.spark.read.parquet(f"{sched.image_store_path}")
    joined = items.select("image_id", F.col("caption").alias("got")).join(
        store.select("image_id", F.col("caption").alias("exp")), "image_id"
    )
    assert joined.filter(F.col("got") != F.col("exp")).count() == 0


def test_rate_metrics_rollup(crawl):
    """A4 RateStats: per-host counters exist and sum to the fetch count."""
    _, sched, res, ckpt = crawl
    m = sched.store.read_appended("metrics", ckpt.appended_rounds)
    total = m.agg(
        F.sum("success_cnt").alias("s"), F.sum("failure_cnt").alias("f")
    ).collect()[0]
    assert total["s"] == res.pages_fetched
    assert total["f"] == 0
    assert m.filter("max_duration_ms < min_duration_ms").count() == 0


def test_crawl_run_history(crawl):
    _, sched, _, ckpt = crawl
    runs = sched.store.read_appended("crawl_runs", ckpt.appended_rounds)
    assert runs.count() == 1
    row = runs.collect()[0]
    assert row["end"] >= row["start"]
    assert "pages_fetched" in row["result"]


def test_incremental_store_reuses_clean_partitions(crawl):
    """Dirty-partition MERGE emulation: later frontier versions must INHERIT
    clean buckets from earlier versions through parts.json (no full-snapshot
    rewrite), every referenced path must exist, and compact() must never
    expire a version some live manifest pointer still references."""
    import json
    import os

    spec, sched, _, ckpt = crawl
    store = sched.store
    parts = store._load_parts("frontier", ckpt.frontier_version)
    assert parts, "manifest missing for the final frontier version"
    assert len(set(parts.values())) > 1, (
        "every bucket rewritten every round — incremental write not happening"
    )
    for k, v in parts.items():
        assert os.path.isdir(store._p("frontier", f"v{v}", "data", f"pk={k}"))
    # apartments: region pointers spread across versions too
    aparts = store._load_parts("apartments", ckpt.apartments_version)
    assert aparts
    for k, v in aparts.items():
        assert os.path.isdir(store._p("apartments", f"v{v}", "data", f"pk={k}"))
    # compact respects manifest references: everything still readable after
    n_before = store.read_frontier(ckpt.frontier_version).count()
    store.compact(keep_last=1)
    assert store.read_frontier(ckpt.frontier_version).count() == n_before
    assert store.read_apartments(ckpt.apartments_version).count() > 0
    # checkpoint JSON stays the commit point: manifest references only
    # versions <= checkpointed version
    assert max(parts.values()) <= ckpt.frontier_version
    with open(store.manifest_path) as f:
        assert json.load(f)["frontier_version"] == ckpt.frontier_version


def test_store_reads_submit_no_spark_jobs(crawl, spark):
    """Store reads pass the schema the store wrote, so building them runs
    no parquet schema-inference job; that schema equals what Spark infers
    from the files, column names, types and order alike."""
    _, sched, _, ckpt = crawl
    store = sched.store
    tracker = spark.sparkContext.statusTracker()
    buckets = sorted(store._load_parts("frontier", ckpt.frontier_version))[:2]
    # This site has 36 regions. Above 32 paths Spark lists files with a job
    # of its own (spark.sql.sources.parallelPartitionDiscovery.threshold);
    # that listing job is not the one under test, so it is kept out here.
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old_threshold = spark.conf.get(threshold)
    spark.conf.set(threshold, "1000")
    try:
        before = set(tracker.getJobIdsForGroup())
        reads = {
            "frontier": store.read_frontier(ckpt.frontier_version),
            "frontier_buckets": store.read_frontier_buckets(ckpt.frontier_version, buckets),
            "lineage": store.read_lineage(ckpt.lineage_version),
            "bloom": store.read_bloom(ckpt.bloom_versions),
            "apartments": store.read_apartments(ckpt.apartments_version),
        }
        new_jobs = set(tracker.getJobIdsForGroup()) - before
    finally:
        spark.conf.set(threshold, old_threshold)
    assert not new_jobs, f"store reads submitted Spark jobs {sorted(new_jobs)}"

    def inferred(table, version):
        k, v = sorted(store._load_parts(table, version).items())[0]
        return spark.read.parquet(store._p(table, f"v{v}", "data", f"pk={k}")).schema

    frontier = inferred("frontier", ckpt.frontier_version)
    want = {
        "frontier": frontier,
        "frontier_buckets": frontier,
        "lineage": inferred("lineage", ckpt.lineage_version),
        "bloom": spark.read.parquet(store._p("bloom", f"v{ckpt.bloom_versions[0]}")).schema,
        "apartments": inferred("apartments", ckpt.apartments_version),
    }
    for name, df in reads.items():
        got = [(f.name, f.dataType) for f in df.schema]
        exp = [(f.name, f.dataType) for f in want[name]]
        assert got == exp, f"{name}: read schema {got} != written {exp}"


CRAWLER_DIR = Path(__file__).resolve().parent.parent / "pegasus_spark" / "crawler"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("microbatch_threshold", [0, 256], ids=["per_round", "microbatch"])
def test_driver_rows_plan_as_local_relations(crawl, spark, tmp_path, microbatch_threshold):
    """Frames the crawler builds from driver-held rows are JVM-local
    relations: a Python RDD (`Scan ExistingRDD`) would start a Python-worker
    task on every scan. Checked on the budget, the empty apartments table
    and the `rounds` rows each commit path appends."""
    spec, sched0, _, _ = crawl
    frames = {"budget": budget_df(spark, spec), "empty_apartments": empty_apartments(spark)}
    sched = CrawlScheduler(
        spark, str(tmp_path),
        page_store_path=sched0.page_store_path,
        image_store_path=sched0.image_store_path,
        budget=frames["budget"],
        seed_urls=[spec.root_url],
        now_ts=TS1,
        microbatch_threshold=microbatch_threshold,
    )
    append = sched.store.append

    def capture(name, df, round_no):
        frames.setdefault(name, df)
        append(name, df, round_no)

    sched.store.append = capture
    sched.run(max_rounds=1)
    assert "rounds" in frames
    for name in ("budget", "empty_apartments", "rounds"):
        plan = _executed_plan(frames[name])
        assert "ExistingRDD" not in plan, f"{name} scans a Python RDD:\n{plan}"


def test_crawler_builds_no_python_rdd_frames():
    """No call to `createDataFrame` under pegasus_spark/crawler/: rows held on
    the driver go through `session.local_df`, so a new call site cannot bring
    the per-scan Python job back."""
    calls = []
    for path in sorted(CRAWLER_DIR.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                calls.append(f"{path.name}:{node.lineno}")
    assert calls == []


def test_partitioned_bloom_path_end_to_end(spark, tmp_path_factory):
    """Force the 10^10-key membership path (bloom_partitioned_threshold=-1 ⇒
    every round probes via shard cogroup, no driver dict / broadcast) through
    a FULL crawl and require the identical URL-seen set and fetched set as
    the oracle — the size switch must be a pure physical choice."""
    spec = make_site_spec(pages_per_region_max=4)
    fx = str(tmp_path_factory.mktemp("fxp"))
    write_fixture(spark, spec, fx, round_no=1)
    work = str(tmp_path_factory.mktemp("workp"))
    sched = CrawlScheduler(
        spark, work,
        page_store_path=f"{fx}/site_pages_r1.parquet",
        image_store_path=f"{fx}/items_r1.parquet",
        budget=budget_df(spark, spec),
        seed_urls=[spec.root_url],
        now_ts=TS1,
        bloom_partitioned_threshold=-1,
    )
    sched.run()
    assert sched._bloom_arrays is None, "partitioned path must not build the driver dict"
    ckpt = sched.store.load_checkpoint()
    frontier = sched.store.read_frontier(ckpt.frontier_version)
    seen = {r["url"] for r in frontier.select("url").collect()}
    assert seen == expected_url_set(spec)
    fetched = {r["url"] for r in frontier.filter("state='fetched'").collect()}
    assert fetched == expected_fetched_set(spec)


def test_crawl_status_surface(crawl):
    """Entry point B presentation layer: crawl_status reports the finished
    run, its per-round series, and frontier state totals that reconcile
    with the store."""
    from pegasus_spark.crawler.status import crawl_status

    spec, sched, result, ckpt = crawl
    st = crawl_status(sched.spark, sched.store.workdir)
    assert st["state"] == "finished"
    assert st["rounds"] == result.rounds
    assert st["counters"]["pages_fetched"] == result.pages_fetched
    assert [r["round"] for r in st["round_series"]] == list(range(1, result.rounds + 1))
    frontier = sched.store.read_frontier(ckpt.frontier_version)
    assert st["frontier_states"] == {
        r["state"]: r["count"] for r in frontier.groupBy("state").count().collect()
    }


def test_rounds_progress_table(crawl):
    """Entry point B (cli/status.go:473-498): per-round progress must be a
    queryable table — round counters plus global frontier state totals that
    reconcile with the final frontier — and crawl_runs.log must carry the
    per-round series (proj.go:97-127 rebuild)."""
    import json

    spec, sched, result, ckpt = crawl
    rounds = sched.store.read_appended("rounds", ckpt.appended_rounds)
    rows = sorted(rounds.collect(), key=lambda r: r["round"])
    assert [r["round"] for r in rows] == list(range(1, result.rounds + 1))
    assert sum(r["dequeued"] for r in rows) == result.pages_fetched
    assert sum(r["new_urls"] for r in rows) == result.urls_enqueued
    assert all(r["wall_s"] > 0 for r in rows)
    # final row's state totals reconcile with the actual frontier
    frontier = sched.store.read_frontier(ckpt.frontier_version)
    actual = {r["state"]: r["count"] for r in frontier.groupBy("state").count().collect()}
    last = rows[-1]
    for state, col in (("fetched", "fetched"), ("robots_blocked", "robots_blocked")):
        assert last[col] == actual.get(state, 0)
    runs = sched.store.read_appended("crawl_runs", ckpt.appended_rounds)
    log = json.loads(runs.collect()[0]["log"])
    assert log["rounds"] == ckpt.round
    assert [e["round"] for e in log["series"]] == [r["round"] for r in rows]


def test_dup_report_cli_surface(crawl, capsys):
    """VERDICT-r3 #8: the crawl CLI answers "which region is polluting the
    corpus" from the COMMITTED store — crawl_dup_report covers every item
    row, and `status --dup-report` surfaces the same rows as JSON."""
    import json

    from pegasus_spark.crawler.status import crawl_dup_report, main

    spec, sched, result, ckpt = crawl
    rep = crawl_dup_report(sched.spark, sched.store.workdir, sched.store)
    rows = rep.collect()
    assert rows
    assert set(rep.columns) == {
        "region", "n_docs", "n_exact_dups", "n_fp_dups", "fp_dup_rate"
    }
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    assert sum(r["n_docs"] for r in rows) == items.count()

    rc = main(["--dup-report", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {d["region"] for d in payload["dup_report"]} == {r["region"] for r in rows}
    # the yield-curve companion rides the same flag and covers every item row
    hist = payload["dup_histogram"]
    assert sum(d["n_docs"] for d in hist) == items.count()
    assert hist[-1]["cum_docs"] == items.count()


def test_span_report_cli_surface(crawl, capsys):
    """VERDICT-r4 #6: the crawl CLI answers "which captions are boilerplate
    spans" from the COMMITTED store — crawl_span_report rolls dup_span_stats
    over every ≥n-token caption and names the top repeated spans; `status
    --span-report` surfaces the same payload as JSON."""
    import json

    from pegasus_spark.crawler.status import crawl_span_report, main

    spec, sched, result, ckpt = crawl
    rep = crawl_span_report(sched.spark, sched.store.workdir, sched.store)
    assert rep["regions"], "span report must cover the committed regions"
    assert {
        "region", "n_captions", "n_flagged", "flagged_rate", "avg_dup_ratio"
    } == set(rep["regions"][0])
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    # captions shorter than n tokens have no spans (dup_span_stats drops
    # them) — covered rows never exceed the committed corpus
    covered = sum(r["n_captions"] for r in rep["regions"])
    assert 0 < covered <= items.count()
    for s in rep["top_spans"]:
        assert s["n_occurrences"] >= 2 and len(s["span"].split()) == 3

    rc = main(["--span-report", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["span_report"]["regions"] == rep["regions"]
    assert payload["span_report"]["top_spans"] == rep["top_spans"]


def test_image_export_cli_surface(crawl, tmp_path, capsys):
    """scripts/run_image_export.py end-to-end from a committed store: two
    runs produce the identical summary (incl. the order-free tar digest —
    the deterministic-artifact contract), the written shards reconcile with
    the summary, and every unique image survives or is a counted dupe."""
    import importlib.util
    import json
    import os

    spec, sched, result, ckpt = crawl
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mod_spec = importlib.util.spec_from_file_location(
        "run_image_export", os.path.join(repo, "scripts", "run_image_export.py")
    )
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)

    summaries = []
    for sub in ("e1", "e2"):
        mod.main(
            ["--store", sched.store.workdir, "--out", str(tmp_path / sub),
             "--budget-bytes", "4096"]
        )
        line = capsys.readouterr().out.strip().splitlines()[-1]
        summaries.append(json.loads(line))
    s1, s2 = summaries
    assert s1 == s2  # identical artifact across runs, digest included
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    assert s1["items_in"] == items.select("image_id").distinct().count()
    assert s1["keepers"] + s1["dupes_dropped"] == s1["items_in"]
    assert s1["keepers"] >= 1 and s1["n_shards"] >= 1

    shards = sched.spark.read.parquet(f"{tmp_path}/e1/shards")
    assert shards.count() == s1["n_shards"]
    assert shards.agg(F.sum("n_items")).collect()[0][0] == s1["keepers"]
    # every tar is non-empty and within sanity of the byte budget + 1 item
    assert shards.filter("length(tar) = 0").count() == 0
    manifest = sched.spark.read.parquet(f"{tmp_path}/e1/manifest")
    assert manifest.agg(F.sum("n_items")).collect()[0][0] == s1["keepers"]


def test_recrawl_cli_surface(crawl, capsys):
    """The crawl CLI answers "what is due for re-crawl" from the COMMITTED
    store: crawl_recrawl_schedule summarizes reports.recrawl_schedule (the
    recrawl_priority consumer) and `status --recrawl` surfaces the same
    payload as JSON. A single-run store has no changes, so every listing
    sits on the default horizon and nothing is due at the committed uts."""
    import json

    from pegasus_spark.crawler.status import crawl_recrawl_schedule, main

    spec, sched, result, ckpt = crawl
    rep = crawl_recrawl_schedule(sched.spark, sched.store.workdir, sched.store)
    apartments = sched.store.read_apartments(ckpt.apartments_version)
    assert rep["n_listings"] == apartments.count() > 0
    assert rep["n_changed"] == 0 and rep["n_due_now"] == 0
    assert 0 < len(rep["top_overdue"]) <= 10
    for row in rep["top_overdue"]:
        assert row["interval_s"] == rep["horizon_s"] and not row["due_now"]

    rc = main(["--recrawl", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["recrawl"] == rep


def test_politeness_audit_cli_surface(crawl, capsys):
    """The crawl CLI proves the politeness contract HELD from the committed
    fetch_log alone: per-host min gap and per-round budget recomputed in
    plain Python match reports.politeness_audit, every host is ok on a
    healthy store, and `status --politeness` surfaces the same payload."""
    import json
    from collections import defaultdict

    from pegasus_spark.analytics.reports import politeness_audit
    from pegasus_spark.crawler.status import crawl_politeness_audit, main

    spec, sched, result, ckpt = crawl
    fetch_log = sched.store.read_appended("fetch_log", ckpt.appended_rounds)
    audit = {r["host"]: r for r in politeness_audit(fetch_log, sched.budget).collect()}
    budget = {r["host"]: r for r in sched.budget.collect()}

    by_host_round = defaultdict(list)
    # robots-refused rows (451) were never actually requested — the audit
    # excludes them, so the recount must too
    for r in (
        fetch_log.filter("status != 451")
        .select("host", "round", "seq", "fetch_ts_ms")
        .collect()
    ):
        by_host_round[(r["host"], r["round"])].append((r["fetch_ts_ms"], r["seq"]))
    per_host_n = defaultdict(int)
    per_host_min_gap: dict[str, int] = {}
    per_host_max_round = defaultdict(int)
    for (h, _), ts in by_host_round.items():
        ts.sort()
        per_host_n[h] += len(ts)
        per_host_max_round[h] = max(per_host_max_round[h], len(ts))
        for a, b in zip(ts, ts[1:]):
            gap = b[0] - a[0]
            per_host_min_gap[h] = min(per_host_min_gap.get(h, gap), gap)

    assert set(audit) == set(per_host_n)
    for h, row in audit.items():
        assert row["ok"], (h, row)
        assert row["n_fetches"] == per_host_n[h]
        assert row["max_round_fetches"] == per_host_max_round[h]
        assert row["min_gap_ms"] == per_host_min_gap.get(h)
        assert row["max_round_fetches"] <= budget[h]["max_per_round"]
        if row["min_gap_ms"] is not None:
            assert row["min_gap_ms"] >= budget[h]["min_interval_ms"]

    rep = crawl_politeness_audit(sched.spark, sched.store.workdir, sched.store)
    assert rep["n_hosts"] == len(audit)
    assert rep["n_hosts_violating"] == 0
    assert rep["n_fetches"] == sum(per_host_n.values())
    assert 0 < len(rep["worst_hosts"]) <= 20

    rc = main(["--politeness", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["politeness"] == rep


def test_vocab_cli_surface(crawl, capsys):
    """`status --vocab` publishes the per-region caption vocabulary
    datacard (reports.caption_vocab, the crawl twin of the gated
    vocab_stats): counts match a plain-Python lowercased-token recount
    over the committed captions, and the CLI payload equals the report."""
    import json
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from pegasus_spark.crawler.status import crawl_caption_vocab, main

    def r4(x):  # Spark round() is HALF_UP; python round is banker's
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    spec, sched, result, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    by_region: dict[str, Counter] = defaultdict(Counter)
    for r in items.select("image_id", "caption").collect():
        region = r["image_id"].split("-")[1]
        by_region[region].update(w.lower() for w in r["caption"].strip().split())

    rep = crawl_caption_vocab(sched.spark, sched.store.workdir, sched.store)
    assert {r["region"] for r in rep} == set(by_region)
    for row in rep:
        cnt = by_region[row["region"]]
        n_tokens, n_vocab = sum(cnt.values()), len(cnt)
        n_hapax = sum(1 for v in cnt.values() if v == 1)
        assert row["n_tokens"] == n_tokens
        assert row["n_vocab"] == n_vocab
        assert row["n_hapax"] == n_hapax
        assert row["ttr"] == r4(n_vocab / n_tokens)
        top_word, top_cnt = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        assert (row["top_word"], row["top_word_cnt"]) == (top_word, top_cnt)

    rc = main(["--vocab", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["caption_vocab"] == rep


def test_density_cli_surface(crawl, capsys):
    """`status --density` publishes the phash-cluster density audit
    (reports.image_cluster_density, the crawl twin of the gated
    cluster_density): the table matches a brute-force Python recount —
    O(n²) Hamming pairs at radius 3, union-find components, per-size
    direct/possible pair densities — over the committed items."""
    import json
    from collections import Counter, defaultdict

    from pegasus_spark.crawler.status import crawl_image_cluster_density, main

    spec, sched, result, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    ph = {r["image_id"]: r["phash"] for r in items.select("image_id", "phash").collect()}
    ids = sorted(ph)
    pairs = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((ph[a] ^ ph[b]) & (2**64 - 1)).count("1") <= 3
    ]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = defaultdict(list)
    for i in ids:
        members[find(i)].append(i)
    sizes = {root: len(m) for root, m in members.items() if len(m) >= 2}
    direct = Counter()
    for a, _ in pairs:
        direct[find(a)] += 1
    want = defaultdict(lambda: [0, 0, 0])  # size → [n_clusters, direct, possible]
    for root, s in sizes.items():
        want[s][0] += 1
        want[s][1] += direct[root]
        want[s][2] += s * (s - 1) // 2
    rep = crawl_image_cluster_density(sched.spark, sched.store.workdir, sched.store)
    got = {r["cluster_size"]: r for r in rep}
    assert set(got) == set(want)
    for s, (nc, d, p) in want.items():
        row = got[s]
        assert row["n_clusters"] == nc
        assert row["n_direct_pairs"] == d
        assert row["n_possible_pairs"] == p
        assert row["density_milli"] == d * 1000 // p

    rc = main(["--density", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["image_cluster_density"] == rep


def test_pii_cli_surface(crawl, capsys):
    """The crawl CLI answers "what would a scrub redact" from the COMMITTED
    items table: crawl_pii_report's per-region counts match a plain-Python
    regex recount over the same captions, and `status --pii` surfaces the
    same payload as JSON."""
    import json
    import re
    from collections import defaultdict

    from pegasus_spark.crawler.status import crawl_pii_report, main
    from pegasus_spark.textops.text import PII_EMAIL, PII_IPV4, PII_PHONE

    spec, sched, result, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    want = defaultdict(lambda: [0, 0, 0, 0, 0])  # caps, with_pii, em, ip, ph
    for r in items.select("image_id", "caption").collect():
        region = r["image_id"].split("-")[1]
        em = len(re.findall(PII_EMAIL, r["caption"]))
        rest = re.sub(PII_EMAIL, "<EMAIL>", r["caption"])
        ip = len(re.findall(PII_IPV4, rest))
        rest = re.sub(PII_IPV4, "<IP>", rest)
        ph = len(re.findall(PII_PHONE, rest))
        w = want[region]
        w[0] += 1
        w[1] += 1 if (em or ip or ph) else 0
        w[2] += em; w[3] += ip; w[4] += ph

    rep = crawl_pii_report(sched.spark, sched.store.workdir, sched.store)
    assert {r["region"] for r in rep} == set(want)
    for row in rep:
        caps, with_pii, em, ip, ph = want[row["region"]]
        assert row["n_captions"] == caps
        assert row["n_with_pii"] == with_pii
        assert (row["n_email"], row["n_ipv4"], row["n_phone"]) == (em, ip, ph)
        assert float(row["pii_rate"]) == round(with_pii / caps, 4)

    rc = main(["--pii", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["pii_report"] == rep


def test_datacard_cli_surface(crawl, capsys):
    """`status --datacard` publishes the per-region release datasheet from
    the COMMITTED items table (reports.caption_datacard, the crawl twin of
    the gated corpus_datacard); every column matches a plain-Python recount
    over the same items."""
    import json
    from collections import defaultdict

    from pegasus_spark.crawler.status import crawl_datacard, main

    spec, sched, result, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    agg = defaultdict(
        lambda: {
            "n": 0, "caps": set(), "ph": set(), "toks": 0, "chars": 0,
            "pixels": 0, "fmts": defaultdict(int),
        }
    )
    for r in items.select("image_id", "caption", "phash", "w", "h", "fmt").collect():
        a = agg[r["image_id"].split("-")[1]]
        a["n"] += 1
        a["caps"].add(r["caption"])
        a["ph"].add(r["phash"])
        a["toks"] += len(r["caption"].strip().split())
        a["chars"] += len(r["caption"])
        a["pixels"] += r["w"] * r["h"]
        a["fmts"][r["fmt"]] += 1
    total = sum(a["n"] for a in agg.values())

    rep = crawl_datacard(sched.spark, sched.store.workdir, sched.store)
    assert {r["region"] for r in rep} == set(agg)
    for row in rep:
        a = agg[row["region"]]
        assert row["n_images"] == a["n"]
        assert row["total_caption_tokens"] == a["toks"]
        assert float(row["pct_corpus"]) == round(a["n"] / total, 4)
        assert float(row["caption_dup_rate"]) == round(1 - len(a["caps"]) / a["n"], 4)
        assert float(row["phash_dup_rate"]) == round(1 - len(a["ph"]) / a["n"], 4)
        assert float(row["mean_caption_chars"]) == round(a["chars"] / a["n"], 2)
        assert float(row["mean_megapixels"]) == round(a["pixels"] / a["n"] / 1e6, 3)
        assert row["top_fmt"] == min(a["fmts"], key=lambda f: (-a["fmts"][f], f))

    rc = main(["--datacard", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["datacard"] == rep


def test_ablation_cli_surface(crawl, capsys):
    """`status --ablation` publishes the C4 filter-ablation table over the
    COMMITTED items captions (reports.caption_rule_ablation, the crawl twin
    of the gated rule_ablation); every row matches a plain-Python replay of
    the C4 predicates over the same captions."""
    import json
    import re

    from pegasus_spark.crawler.status import crawl_rule_ablation, main

    spec, sched, result, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    caps = [r["caption"] for r in items.select("caption").collect()]

    def flags(text):
        tt = text.strip()
        low = tt.lower()
        return {
            "c_terminal": re.search(r'[.!?]["”’]?$', tt) is not None,
            "c_min_words": len(tt.split()) >= 5,
            "c_no_braces": "{" not in tt,
            "c_no_lorem": "lorem ipsum" not in low,
            "c_no_badword": "javascript" not in low,
        }

    rules = ["c_terminal", "c_min_words", "c_no_braces", "c_no_lorem", "c_no_badword"]
    per_cap = [flags(c) for c in caps]
    nfails = [sum(not f[r] for r in rules) for f in per_cap]
    want = {}
    for r in rules:
        nf = sum(not f[r] for f in per_cap)
        nfo = sum((not f[r]) and k == 1 for f, k in zip(per_cap, nfails))
        want[r] = (nf, nfo, round(nf / len(caps), 4))
    nf_any = sum(k > 0 for k in nfails)
    want["any"] = (nf_any, sum(k == 1 for k in nfails), round(nf_any / len(caps), 4))

    rep = crawl_rule_ablation(sched.spark, sched.store.workdir, sched.store)
    got = {r["rule"]: (r["n_fail"], r["n_fail_only"], float(r["fail_rate"]))
           for r in rep}
    assert got == want

    rc = main(["--ablation", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["rule_ablation"] == rep


def test_sweep_cli_surface(crawl, capsys):
    """`status --sweep` publishes the caption quality operating-point table
    over the COMMITTED items captions (reports.caption_quality_sweep, the
    crawl twin of the gated threshold_sweep): kept counts are monotone
    non-increasing in the threshold, the lowest row covers every non-empty
    caption with share 1.0, and the CLI payload equals the report call."""
    import json

    from pegasus_spark.crawler.status import crawl_quality_sweep, main

    spec, sched, result, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    n_caps = items.filter("length(trim(caption)) > 0").count()

    rep = crawl_quality_sweep(sched.spark, sched.store.workdir, sched.store)
    assert len(rep) >= 1
    kept = [r["n_docs_kept"] for r in rep]
    assert kept == sorted(kept, reverse=True)
    assert rep[0]["n_docs_kept"] == n_caps
    assert rep[0]["doc_share"] == 1.0 and rep[0]["token_share"] == 1.0

    rc = main(["--sweep", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["quality_sweep"] == rep


def test_volume_cli_surface(crawl, capsys):
    """`status --volume` publishes the fetch-volume anomaly table over the
    COMMITTED fetch_log (reports.fetch_volume_anomaly, the crawl twin of
    the gated daily_anomaly): every (status, round) row matches the exact
    integer 2-sigma replay, and the CLI payload equals the report call."""
    import json
    from collections import Counter, defaultdict

    from pegasus_spark.crawler.status import crawl_volume_anomaly, main

    spec, sched, result, ckpt = crawl
    fl = sched.store.read_appended("fetch_log", ckpt.appended_rounds)
    counts = defaultdict(Counter)
    for r in fl.select("status", "round").collect():
        counts[r["status"]][r["round"]] += 1
    # densified replay: every observed status × every observed round,
    # zero-filled — a class that vanishes in a round still gets a row
    all_rounds = {rnd for rounds in counts.values() for rnd in rounds}
    for rounds in counts.values():
        for rnd in all_rounds:
            rounds.setdefault(rnd, 0)

    rep = crawl_volume_anomaly(sched.spark, sched.store.workdir, sched.store)
    assert len(rep) == sum(len(c) for c in counts.values())
    for row in rep:
        rounds = counts[row["status"]]
        c, n = rounds[row["round"]], len(rounds)
        sc, q = sum(rounds.values()), sum(v * v for v in rounds.values())
        assert row["n_fetches"] == c
        assert row["mean_fetches"] == round(sc / n, 4)
        assert row["is_anomaly"] == ((c * n - sc) ** 2 > 4 * (n * q - sc * sc))

    rc = main(["--volume", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["volume_anomaly"] == rep


def test_collocations_cli_surface(crawl, capsys):
    """`status --collocations` publishes the top caption collocations by
    PMI (reports.caption_collocations, the crawl twin of the gated
    pmi_bigrams): the exact-BIGINT lift table matches a plain-Python
    recount over the committed captions, and the CLI payload equals the
    report."""
    import json
    import re
    from collections import Counter

    from pegasus_spark.crawler.status import crawl_caption_collocations, main

    spec, sched, result, ckpt = crawl
    items = sched.store.read_appended("items", ckpt.appended_rounds)
    uni: Counter = Counter()
    bi: Counter = Counter()
    for r in items.select("caption").collect():
        toks = re.split(r"\s+", r["caption"].strip())
        uni.update(t.lower() for t in toks if t != "")
        bi.update((a.lower(), b.lower()) for a, b in zip(toks, toks[1:]))
    n = sum(uni.values())
    want = sorted(
        (
            {"w1": w1, "w2": w2, "c_xy": c, "c_x": uni[w1], "c_y": uni[w2],
             "lift_micro": (c * n * 1_000_000) // (uni[w1] * uni[w2])}
            for (w1, w2), c in bi.items() if c >= 3
        ),
        key=lambda d: (-d["lift_micro"], d["w1"], d["w2"]),
    )[:20]

    rep = crawl_caption_collocations(sched.spark, sched.store.workdir, sched.store)
    assert rep == want
    assert rep, "fixture captions produced no collocations — twin gates nothing"

    rc = main(["--collocations", sched.store.workdir])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["caption_collocations"] == rep
