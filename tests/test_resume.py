"""Resume + parallelism-invariance (SURVEY §5.2/§5.6, north_rule checkpoint
contract): an interrupted crawl resumed from the manifest produces byte-equal
outputs to an uninterrupted one, and the golden ordering / final tables are
independent of the partitioning level."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from pegasus_spark.crawler import scheduler
from pegasus_spark.crawler.fixtures import (
    EXCLUDED_DISTRICT,
    budget_df,
    make_site_spec,
    write_fixture,
)
from pegasus_spark.crawler.parse import parsed_body
from pegasus_spark.crawler.scheduler import LISTING_P, CrawlScheduler
from pegasus_spark.session import local_df

TS = 1_700_000_000


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    spec = make_site_spec(n_districts=4, regions_per_district=3, pages_per_region_max=5)
    fx = str(tmp_path_factory.mktemp("fx"))
    write_fixture(spark, spec, fx, round_no=1)
    return spec, fx


def _mk(spark, spec, fx, work, n_partitions=8, **kw):
    return CrawlScheduler(
        spark, work,
        page_store_path=f"{fx}/site_pages_r1.parquet",
        image_store_path=f"{fx}/items_r1.parquet",
        budget=budget_df(spark, spec),
        seed_urls=[spec.root_url],
        now_ts=TS,
        n_partitions=n_partitions,
        **kw,
    )


def _outputs(sched):
    ckpt = sched.store.load_checkpoint()
    apt = (
        sched.store.read_apartments(ckpt.apartments_version)
        .toPandas().sort_values(["region", "aid"]).reset_index(drop=True)
    )
    log = (
        sched.store.read_appended("fetch_log", ckpt.appended_rounds)
        .toPandas().sort_values(["round", "seq"]).reset_index(drop=True)
    )
    frontier = (
        sched.store.read_frontier(ckpt.frontier_version)
        .select("url", "state").toPandas().sort_values("url").reset_index(drop=True)
    )
    return apt, log, frontier


def test_resume_equals_uninterrupted(spark, fixture_dir, tmp_path_factory):
    spec, fx = fixture_dir
    # uninterrupted reference run
    w1 = str(tmp_path_factory.mktemp("w1"))
    full = _mk(spark, spec, fx, w1)
    full.run()
    # interrupted: stop after 2 rounds, then a FRESH scheduler resumes from
    # the manifest (simulating a driver crash + spark-submit restart)
    w2 = str(tmp_path_factory.mktemp("w2"))
    part = _mk(spark, spec, fx, w2)
    part.run(max_rounds=2)
    assert not part.store.load_checkpoint().finished
    resumed = _mk(spark, spec, fx, w2)
    resumed.run()
    a1, l1, f1 = _outputs(full)
    a2, l2, f2 = _outputs(resumed)
    pd.testing.assert_frame_equal(a1, a2)
    pd.testing.assert_frame_equal(l1, l2)
    pd.testing.assert_frame_equal(f1, f2)


def test_partition_count_invariance(spark, fixture_dir, tmp_path_factory):
    """The §4.3 determinism contract: physical parallelism (partition count)
    must not change the dequeue log, the URL-seen set, or the tables — the
    property the local[8]-vs-local[32] scaling evidence relies on."""
    spec, fx = fixture_dir
    outs = []
    for n in (2, 8):
        w = str(tmp_path_factory.mktemp(f"wp{n}"))
        s = _mk(spark, spec, fx, w, n_partitions=n)
        s.run()
        outs.append(_outputs(s))
    (a1, l1, f1), (a2, l2, f2) = outs
    pd.testing.assert_frame_equal(a1, a2)
    pd.testing.assert_frame_equal(l1, l2)
    pd.testing.assert_frame_equal(f1, f2)


def test_checkpoint_lineage_fields(spark, fixture_dir, tmp_path_factory):
    """Per-partition lineage (north_rule): per-BUCKET frontier-state counters
    in the manifest (O(buckets), host-cardinality-independent), the host
    breakdown in the store's lineage table, bloom shard versions and fetch
    counters in the manifest — and the two lineage levels reconcile with
    each other and the frontier itself."""
    from pegasus_spark.crawler.frontier import N_FRONTIER_BUCKETS, host_bucket_py

    spec, fx = fixture_dir
    w = str(tmp_path_factory.mktemp("wl"))
    s = _mk(spark, spec, fx, w)
    s.run()
    ckpt = s.store.load_checkpoint()
    assert ckpt.finished
    assert ckpt.bloom_versions, "bloom shard versions tracked"
    assert ckpt.counters["pages_fetched"] > 0
    assert ckpt.counters["urls_enqueued"] > 0
    # checkpoint holds bucket-level counters only
    assert ckpt.lineage_version == ckpt.round
    for bucket, states in ckpt.bucket_lineage.items():
        assert 0 <= int(bucket) < N_FRONTIER_BUCKETS
        assert sum(states.values()) > 0
    # host breakdown lives in the store table and reconciles exactly
    lin = s.store.read_lineage(ckpt.lineage_version).toPandas()
    assert lin["host"].str.endswith(".lianjia.test").all()
    got_buckets: dict[str, dict[str, int]] = {}
    for r in lin.itertuples():
        b = str(host_bucket_py(r.host))
        got_buckets.setdefault(b, {})
        got_buckets[b][r.state] = got_buckets[b].get(r.state, 0) + int(r.url_cnt)
    assert got_buckets == ckpt.bucket_lineage
    # and with the frontier's actual states
    frontier = s.store.read_frontier(ckpt.frontier_version)
    want = {r["state"]: r["count"] for r in frontier.groupBy("state").count().collect()}
    assert lin.groupby("state")["url_cnt"].sum().to_dict() == want


def test_legacy_checkpoint_upgrades_on_resume(spark, fixture_dir, tmp_path_factory):
    """A manifest written by the pre-lineage-table layout (host-level
    partition_lineage key, no bucket_lineage/lineage_version) must still
    load — unknown keys are dropped — and the next run() must rebuild the
    lineage table + bucket counters from the committed frontier, then resume
    to the same outputs as an uninterrupted crawl."""
    import json
    import os

    import pyspark.sql.functions as F

    spec, fx = fixture_dir
    w1 = str(tmp_path_factory.mktemp("wleg_full"))
    full = _mk(spark, spec, fx, w1)
    full.run()

    w2 = str(tmp_path_factory.mktemp("wleg"))
    part = _mk(spark, spec, fx, w2)
    part.run(max_rounds=2)
    # rewrite the manifest into the round-2 legacy shape
    mp = os.path.join(w2, "checkpoint.json")
    with open(mp) as f:
        raw = json.load(f)
    raw["partition_lineage"] = {"h.lianjia.test": {"pending": 1}}  # retired key
    raw.pop("bucket_lineage")
    raw.pop("lineage_version")
    with open(mp, "w") as f:
        json.dump(raw, f)

    resumed = _mk(spark, spec, fx, w2)
    loaded = resumed.store.load_checkpoint()
    assert loaded is not None and loaded.lineage_version == -1
    resumed.run()
    ckpt = resumed.store.load_checkpoint()
    assert ckpt.lineage_version == ckpt.round
    # the rebuilt lineage reconciles with the frontier
    lin = resumed.store.read_lineage(ckpt.lineage_version)
    got = {r["state"]: int(r["cnt"]) for r in
           lin.groupBy("state").agg(F.sum("url_cnt").alias("cnt")).collect()}
    frontier = resumed.store.read_frontier(ckpt.frontier_version)
    want = {r["state"]: r["count"] for r in frontier.groupBy("state").count().collect()}
    assert got == want
    a1, l1, f1 = _outputs(full)
    a2, l2, f2 = _outputs(resumed)
    pd.testing.assert_frame_equal(a1, a2)
    pd.testing.assert_frame_equal(l1, l2)
    pd.testing.assert_frame_equal(f1, f2)


def test_scalable_seq_matches_window_seq(spark):
    """The range-partitioned two-phase seq (large-batch path) must assign the
    EXACT same seq as the global-window path, and its plan must not contain a
    single-partition exchange (the scale bottleneck it exists to remove)."""
    import pyspark.sql.functions as F

    from pegasus_spark.crawler.frontier import with_dequeue_seq

    rows = [
        (f"http://h{i % 7}.lianjia.test/pg{i}/", f"h{i % 7}.lianjia.test",
         "listing_page", 1_000_000 + (i % 13), i % 40, 3, f"r{i % 5}",
         "pending", 1, 0)
        for i in range(5000)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, host string, kind string, priority int, page int, "
        "depth int, region string, state string, discovered_round int, "
        "retry_cnt int",
    ).repartition(8)
    small = with_dequeue_seq(df, 3, n_rows=10).select("url", "seq")
    big = with_dequeue_seq(df, 3, n_partitions=8)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, "scalable seq path must not funnel"
    got = {r["url"]: r["seq"] for r in big.select("url", "seq").collect()}
    want = {r["url"]: r["seq"] for r in small.collect()}
    assert got == want


def test_microbatch_equals_per_round(spark, fixture_dir, tmp_path_factory):
    """Round-4 driver-floor amortization: fusing tiny discovery rounds into
    one commit (microbatch_threshold default) must be invisible in every
    LOGICAL output vs per-round commits (threshold=0) — apartments, golden
    fetch_log, URL-seen frontier, and the per-round rounds rows including
    their global state totals. Only the version lists may differ (the batch
    commits at its last round's version; intermediate versions are never
    created)."""
    spec, fx = fixture_dir
    outs, rounds_tables, ckpts = [], [], []
    for mb in (0, 64):
        w = str(tmp_path_factory.mktemp(f"wmb{mb}"))
        s = _mk(spark, spec, fx, w, microbatch_threshold=mb)
        s.run()
        ckpt = s.store.load_checkpoint()
        outs.append(_outputs(s))
        rounds_tables.append(
            s.store.read_appended("rounds", ckpt.appended_rounds)
            .toPandas().sort_values("round").reset_index(drop=True)
        )
        ckpts.append(ckpt)
    (a0, l0, f0), (a1, l1, f1) = outs
    pd.testing.assert_frame_equal(a0, a1)
    pd.testing.assert_frame_equal(l0, l1)
    pd.testing.assert_frame_equal(f0, f1)
    r0, r1 = rounds_tables
    cols = [c for c in r0.columns if c != "wall_s"]  # wall is physical
    pd.testing.assert_frame_equal(r0[cols], r1[cols])
    # same logical round count, counters, and drain flag in the manifest
    assert ckpts[0].round == ckpts[1].round
    assert ckpts[0].counters == ckpts[1].counters
    assert ckpts[0].finished and ckpts[1].finished
    # the micro-batched store actually fused: fewer committed versions
    assert len(ckpts[1].bloom_versions) < len(ckpts[0].bloom_versions)


def test_microbatch_resume_mid_batch_boundary(spark, fixture_dir, tmp_path_factory):
    """run(max_rounds=k) must stop at exactly k logical rounds even when a
    batch would span the boundary, and a fresh scheduler must resume from
    that commit to the identical final state."""
    spec, fx = fixture_dir
    w_ref = str(tmp_path_factory.mktemp("mbref"))
    ref = _mk(spark, spec, fx, w_ref)
    ref.run()

    w = str(tmp_path_factory.mktemp("mbpart"))
    part = _mk(spark, spec, fx, w)
    part.run(max_rounds=2)
    ckpt = part.store.load_checkpoint()
    assert ckpt.round == 2 and not ckpt.finished
    resumed = _mk(spark, spec, fx, w)
    resumed.run()
    a1, l1, f1 = _outputs(ref)
    a2, l2, f2 = _outputs(resumed)
    pd.testing.assert_frame_equal(a1, a2)
    pd.testing.assert_frame_equal(l1, l2)
    pd.testing.assert_frame_equal(f1, f2)


@pytest.fixture(scope="module")
def nav_site(spark, fixture_dir, tmp_path_factory):
    """The fixture site with a district nav bar: every district page also
    links the root and every crawled district, as the reference site's
    pages do. Region discovery then re-finds URLs an earlier round of the
    same batch already touched. Returns (spec, fixture dir, per-round
    outputs, per-round `rounds` table)."""
    spec, fx = fixture_dir
    nav = [spec.root_url] + [
        spec.district_url(d) for d in spec.districts if d != EXCLUDED_DISTRICT
    ]
    pages = spark.read.parquet(f"{fx}/site_pages_r1.parquet")

    def with_nav(row):
        page = row.asDict()
        if page["kind"] == "district":
            body = json.loads(page["body"])
            page["body"] = json.dumps({**body, "children": body["children"] + nav})
        return tuple(page.values())

    nfx = str(tmp_path_factory.mktemp("navfx"))
    local_df(spark, map(with_nav, pages.collect()), pages.schema).write.parquet(
        f"{nfx}/site_pages_r1.parquet"
    )
    os.symlink(f"{fx}/items_r1.parquet", f"{nfx}/items_r1.parquet")
    ref = _mk(spark, spec, nfx, str(tmp_path_factory.mktemp("navref")),
              microbatch_threshold=0)
    ref.run()
    ckpt = ref.store.load_checkpoint()
    rounds = (
        ref.store.read_appended("rounds", ckpt.appended_rounds)
        .toPandas().sort_values("round").reset_index(drop=True)
    )
    return spec, nfx, _outputs(ref), rounds


@pytest.mark.parametrize("over", [False, True], ids=["at_cap", "over_cap"])
def test_microbatch_overflow_flush_equivalence(spark, nav_site, tmp_path_factory, over):
    """A discovery fan-out larger than the driver budget must overflow to
    the distributed flush (_microbatch_new_rows returns a DataFrame, the
    batch commits immediately) and still produce byte-identical outputs —
    the driver-residency guard is a physical choice, never a semantic one.

    microbatch_touched_cap sits exactly at round 2's need (the touched rows
    of round 1 plus round 2's fresh candidates) or one below it. Round 2's
    candidates also hold already-touched URLs (the nav links), which the
    bounded candidate collect must see past: at the cap nothing overflows
    in round 2, one below it round 2 overflows. Both equal the per-round
    commit."""
    spec, nfx, want, ref_rounds = nav_site
    r = ref_rounds.set_index("round")
    need = int(r.loc[1, "dequeued"] + r.loc[1, "new_urls"] + r.loc[2, "new_urls"])
    s = _mk(spark, spec, nfx, str(tmp_path_factory.mktemp("wcap")),
            microbatch_touched_cap=need - 1 if over else need)
    overflowed = {}
    probe = s._microbatch_new_rows

    def spy(parsed, kind_counts, base, touched, round_no, *args):
        rows, overflow_df = probe(parsed, kind_counts, base, touched, round_no, *args)
        overflowed[round_no] = overflow_df is not None
        return rows, overflow_df

    s._microbatch_new_rows = spy
    s.run()
    assert overflowed[1] is False and overflowed[2] is over
    for got, exp in zip(_outputs(s), want):
        pd.testing.assert_frame_equal(got, exp)
    ckpt = s.store.load_checkpoint()
    rounds = (
        s.store.read_appended("rounds", ckpt.appended_rounds)
        .toPandas().sort_values("round").reset_index(drop=True)
    )
    cols = [c for c in rounds.columns if c != "wall_s"]  # wall is physical
    pd.testing.assert_frame_equal(rounds[cols], ref_rounds[cols])


def _root_parsed(spark, spec):
    """The parsed root page, as the round's chains see it."""
    body = json.dumps({
        "kind": "root",
        "children": [spec.district_url(d) for d in spec.districts],
    })
    page = local_df(
        spark, [(spec.root_url, "h0.lianjia.test", "root", body)],
        "url string, host string, kind string, body string",
    )
    return parsed_body(page).select("url", "host", "kind", "parsed")


def test_discoveries_plan_only_dequeued_parent_kinds(spark, fixture_dir, tmp_path_factory):
    """Each discovery branch reads only its parent kind's rows, and the
    round's chains only see dequeued rows: a root-only round plans the one
    root → district branch (no Union), a listing-only round plans none."""
    spec, fx = fixture_dir
    s = _mk(spark, spec, fx, str(tmp_path_factory.mktemp("wdisc")))
    parsed = _root_parsed(spark, spec)
    roots = s._discoveries_from(parsed, {"root": 1})
    assert "Union" not in roots._jdf.queryExecution().analyzed().toString()
    assert {r["kind"] for r in roots.collect()} == {"district"}
    every = s._discoveries_from(parsed, {"root": 1, "district": 2, "region": 3})
    assert "Union" in every._jdf.queryExecution().analyzed().toString()
    assert s._discoveries_from(parsed, {"listing_page": 4}) is None


def test_listing_only_round_writes_state_delta_only(
    spark, fixture_dir, tmp_path_factory, monkeypatch
):
    """A round that dequeues only listing pages can discover nothing, so it
    builds no candidates and no URL-seen probe: it commits the fetch states
    of its dequeued rows, no new URLs and no bloom version."""
    spec, fx = fixture_dir
    s = _mk(spark, spec, fx, str(tmp_path_factory.mktemp("wlist")))
    region = next(
        r for r in spec.regions.values()
        if r.total_page >= 2 and r.abbr != spec.blocked_region
    )
    pages = [
        (region.page_url(p), "listing_page", LISTING_P + region.total_page, p, 3,
         region.abbr)
        for p in range(1, region.total_page + 1)
    ]
    monkeypatch.setattr(s, "_seeds_df", lambda: local_df(
        spark, pages,
        "url string, kind string, priority int, page int, depth int, region string",
    ))
    ckpt = s.bootstrap()

    def boom(*a, **k):
        raise AssertionError("a listing-only round planned discovery work")

    monkeypatch.setattr(scheduler, "prepare_candidates", boom)
    monkeypatch.setattr(scheduler, "filter_unseen", boom)
    new_ckpt, info = s.run_round(ckpt)
    assert info["dequeued"] == len(pages) and info["new_urls"] == 0
    assert info["cards"] > 0
    assert new_ckpt.bloom_versions == ckpt.bloom_versions
    frontier = s.store.read_frontier(new_ckpt.frontier_version)
    assert {(r["url"], r["state"]) for r in frontier.select("url", "state").collect()} == {
        (p[0], "fetched") for p in pages
    }
    assert new_ckpt.bucket_lineage == {
        str(scheduler.host_bucket_py(region.host)): {"fetched": len(pages)}
    }
