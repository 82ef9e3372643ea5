"""The crawl scheduler: driver round loop over Spark batches.

Rebuilds the reference's master/worker engine
(/root/reference/src/pegasus/master/masterproj.go:158-180 sequential job
runner; masterjob.go:399-455 dispatcher; worker/workertask.go executors) as
the SURVEY §7.1 design: each round is one Spark batch —

    ① dequeue top-K per host under politeness budget (window rank, W3/K1)
    ② mapInPandas fetch batch (robots pre-marked, spacing in-batch)
    ③ parse (Catalyst expressions only) + route by page kind
    ④ CDC merge into apartments (+ change/meta-change side outputs)
    ⑤ payload join-back → items table
    ⑥ canonicalize + bloom/left_anti dedup → salted enqueue (a round that
      dequeued no parent kind — root/district/region — writes only the
      fetch-state delta)
    ⑦ metrics + fetch-log append, snapshot + checkpoint commit

The fixed 5-stage Lianjia DAG (lianjia/proj.go:48-59) falls out of the
priority encoding: stage rank dominates, so districts drain before regions
before listing pages — while staying a general frontier scheduler (arbitrary
depth). Within the listing stage, priority = LISTING_P + total_page gives
the reference's LPT big-regions-first dispatch (region_maxpage.go:97-111).

Determinism contract (SURVEY §4.3): every dequeue, dedup, and merge is
ordered by the canonical key (round, priority desc, region, page, url), so
local[1] and local[32] produce identical fetch logs, URL-seen sets, and
table contents — the property the N-vs-4N scaling evidence relies on.

Scale posture: the driver loop holds ONLY scalar state (round number,
version ids, counters). Frontier, bloom shards, payloads live in tables;
nothing is ever collect()ed except tiny per-round counters.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pegasus_spark.crawler.bloom import SHARD_SCHEMA, BloomShards
from pegasus_spark.crawler.cdc import empty_apartments, merge_apartments
from pegasus_spark.crawler.fetch import StoreFetcher, fetch_batch, rate_stats
from pegasus_spark.crawler.frontier import (
    Checkpoint,
    FrontierStore,
    dequeue,
    filter_unseen,
    host_bucket,
    host_bucket_py,
    prepare_candidates,
    with_dequeue_seq,
)
from pegasus_spark.crawler.items import extract_items
from pegasus_spark.crawler.parse import (
    abbr_from_url,
    child_links,
    dedupe_cards,
    parse_cards,
    parsed_body,
    split_malformed,
    total_page_col,
)
from pegasus_spark.crawler.urlnorm import with_url_columns
from pegasus_spark.session import local_df

# one row per crawl round in the store's `rounds` table
ROUNDS_DDL = (
    "round int, dequeued int, new_urls int, cards int, pending bigint, "
    "fetched bigint, failed bigint, robots_blocked bigint, wall_s double"
)

# Stage-rank priority encoding: higher = earlier. Listing pages add
# total_page so larger regions dispatch first (LPT, K1).
ROOT_P = 5_000_000
DISTRICT_P = 4_000_000
REGION_P = 3_000_000
LISTING_P = 1_000_000

EXCLUDED_DISTRICTS = ("shanghaizhoubian",)  # F2, regions.go:53-57


@dataclass
class RunResult:
    rounds: int
    pages_fetched: int
    urls_enqueued: int
    cards_parsed: int
    wall_s: float


class CrawlScheduler:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        page_store_path: str,
        image_store_path: str,
        budget: DataFrame,
        allowlist: dict[str, list[str]] | None = None,
        seed_urls: list[str] | None = None,
        n_partitions: int = 8,
        now_ts: int | None = None,
        bloom: BloomShards | None = None,
        max_retries: int = 3,
        bloom_partitioned_threshold: int = 100_000_000,
        microbatch_threshold: int = 256,
        microbatch_max_rounds: int = 16,
        microbatch_touched_cap: int = 100_000,
    ):
        self.spark = spark
        self.store = FrontierStore(spark, workdir)
        self.page_store_path = page_store_path
        self.image_store_path = image_store_path
        self.budget = budget
        self.allowlist = allowlist or {}
        self.seed_urls = seed_urls or []
        self.n_partitions = n_partitions
        self.now_ts = int(now_ts if now_ts is not None else time.time())
        self.bloom = bloom or BloomShards(n_shards=16, m_bits=1 << 17, k=7)
        # fetch-level fault tolerance: a failed URL re-enters the pending
        # pool up to max_retries times before resting at state='failed' —
        # the rebuild of the reference's ≤3 tasklet retries
        # (workertask.go:23,218-224); unlike TASK_MAX_ERR=0 job aborts
        # (masterjob.go:19), a permanently failing URL never kills the crawl
        self.max_retries = max_retries
        # driver-held merged bloom bitsets, ORed incrementally per round (the
        # persisted shard versions remain the source of truth for resume)
        self._bloom_arrays: dict | None = None
        self._bloom_loaded: tuple[int, ...] = ()
        # above this many seen keys the merged filter stops fitting a
        # broadcast (~1.2 bytes/key at 1% FPR ⇒ 10^8 keys ≈ 120 MB); the
        # membership probe then switches to the shard-cogrouped path where
        # bitsets never leave their task (bloom.check_partitioned)
        self.bloom_partitioned_threshold = bloom_partitioned_threshold
        # micro-batch mode (round-4 driver-floor amortization): consecutive
        # DISCOVERY rounds whose dequeue is below this row count — and has no
        # listing pages, so the CDC/apartments path always commits per round —
        # fuse into ONE store commit; their tiny frontier updates ride the
        # driver between rounds. 0 disables (every round commits itself).
        self.microbatch_threshold = microbatch_threshold
        self.microbatch_max_rounds = microbatch_max_rounds
        # driver-held touched-row bound: a fan-out that outgrows it forces an
        # early commit, so micro-batching can never accumulate unbounded
        # driver state (the scale posture behind allowing ANY driver rows)
        self.microbatch_touched_cap = microbatch_touched_cap

    # -- helpers -------------------------------------------------------------

    def _bloom_dict(self, ckpt: Checkpoint) -> dict:
        """Merged bloom bitsets, loaded once per (resume) and kept on the
        driver across rounds; new shard versions are ORed in by
        ``_bloom_absorb``."""
        if self._bloom_arrays is None or self._bloom_loaded != tuple(ckpt.bloom_versions):
            shards = self.store.read_bloom(ckpt.bloom_versions)
            self._bloom_arrays = {} if shards is None else self.bloom.to_dict(shards)
            self._bloom_loaded = tuple(ckpt.bloom_versions)
        return self._bloom_arrays

    def _bloom_absorb(self, shard_rows: list, version: int, versions: list[int]) -> None:
        import numpy as np

        assert self._bloom_arrays is not None
        for r in shard_rows:
            arr = np.frombuffer(r["bitset"], dtype=np.uint8)
            cur = self._bloom_arrays.get(int(r["shard"]))
            self._bloom_arrays[int(r["shard"])] = (
                arr.copy() if cur is None else np.bitwise_or(cur, arr)
            )
        self._bloom_loaded = tuple(versions)

    def _fetch_and_log(self, dq: DataFrame, round_no: int, n_dq: int) -> DataFrame:
        """② fetch + golden-ordering log, shared VERBATIM by both commit
        paths — the §4.3 equivalence between per-round and micro-batched
        commits depends on exactly one copy of this block existing.

        Politeness/robots config rides the dequeued rows (budget-joined in
        dequeue) so the fetcher closure is O(1) — no per-task host maps; the
        CPU-bound Python fetch stage pins its parallelism from the known
        dequeue count (~32 pages/task floor, capped at n_partitions). The
        fetch_log append carries seq assigned at DEQUEUE time, so the
        ordering contract is a pure function of the dequeue decision,
        independent of fetch outcome."""
        fetcher = StoreFetcher(
            self.page_store_path, round_start_ms=round_no * 10_000_000
        )
        fetch_parts = max(1, min(self.n_partitions, n_dq // 32 + 1))
        fetched = (
            fetch_batch(dq.drop("round", "seq"), fetcher, fetch_parts)
            .drop("min_interval_ms", "robots_disallow")
            .cache()
        )
        self.store.append(
            "fetch_log",
            fetched.join(dq.select("round", "seq", "url"), "url").select(
                "round", "seq", "url", "host", "kind", "priority", "region",
                "page", "status", "nbytes", "duration_ms", "fetch_ts_ms",
            ),
            round_no,
        )
        return fetched

    def _dequeue_breakdown(self, dq_raw: DataFrame) -> tuple[dict, set]:
        """One collect → ({kind: count}, dequeued host set)."""
        kind_counts: dict[str, int] = {}
        hosts: set[str] = set()
        for r in dq_raw.groupBy("kind", "host").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect():
            kind_counts[r["kind"]] = kind_counts.get(r["kind"], 0) + int(r["cnt"])
            hosts.add(r["host"])
        return kind_counts, hosts

    def _apply_fetch_states(self, rows: DataFrame, res: DataFrame) -> DataFrame:
        """Fetch-outcome state transition, the single source of truth for
        both commit paths: 200→fetched, 451→robots_blocked, other errors
        re-enqueue (pending, retry_cnt+1) until max_retries then failed;
        untouched rows keep their state. ``res`` is (url, status)."""
        retryable = F.col("retry_cnt") + 1 <= F.lit(self.max_retries)
        is_err = F.col("status").isNotNull() & ~F.col("status").isin(200, 451)
        return (
            rows.join(res, "url", "left")
            .withColumn(
                "state",
                F.when(F.col("status") == 200, "fetched")
                .when(F.col("status") == 451, "robots_blocked")
                .when(is_err & retryable, "pending")     # re-enqueue
                .when(is_err, "failed")                  # retries exhausted
                .otherwise(F.col("state")),
            )
            .withColumn(
                "retry_cnt",
                F.when(is_err, F.col("retry_cnt") + 1).otherwise(F.col("retry_cnt")),
            )
            .drop("status")
        )

    def _discoveries_from(self, parsed: DataFrame, kind_counts: dict) -> DataFrame | None:
        """③ route: per parent kind, emit raw child rows (url, kind, priority,
        page, depth, region) — the F1/F2/F3 source-side filters applied here,
        the cheapest place (SURVEY §4.1). ``parsed`` holds only dequeued
        rows, so a parent kind missing from the round's ``kind_counts`` has
        no rows and its branch is not planned at all. None when the round
        dequeued no parent kind: a listing-only round discovers nothing."""
        branches = [
            build(parsed.filter(F.col("kind") == kind))
            for kind, build in (
                ("root", self._district_links),
                ("district", self._region_links),
                ("region", self._listing_links),
            )
            if kind_counts.get(kind)
        ]
        return reduce(DataFrame.unionByName, branches) if branches else None

    def _district_links(self, roots: DataFrame) -> DataFrame:
        """root → district links (F2 excluded districts, allowlist)."""
        d = (
            with_url_columns(child_links(roots))
            .withColumn("abbr", abbr_from_url())
            .filter(~F.col("abbr").isin(*EXCLUDED_DISTRICTS))
        )
        if self.allowlist:
            d = d.filter(F.col("abbr").isin(*self.allowlist.keys()))
        return d.select(
            "url", F.lit("district").alias("kind"), F.lit(DISTRICT_P).alias("priority"),
            F.lit(0).alias("page"), F.lit(1).alias("depth"),
            F.lit(None).cast("string").alias("region"),
        )

    def _region_links(self, districts: DataFrame) -> DataFrame:
        """district → region links (F3: per-district region allowlist)."""
        r = (
            with_url_columns(child_links(districts))
            .withColumn("abbr", abbr_from_url())
            .withColumn("parent_abbr", abbr_from_url("parent_url"))
        )
        restricted = {k: v for k, v in self.allowlist.items() if v}
        if restricted:
            pairs = local_df(
                self.spark, [(dd, rr) for dd, rs in restricted.items() for rr in rs],
                "parent_abbr string, abbr string",
            )
            unrestricted = r.filter(~F.col("parent_abbr").isin(*restricted.keys()))
            allowed = r.join(F.broadcast(pairs), ["parent_abbr", "abbr"], "left_semi")
            r = unrestricted.unionByName(allowed)
        return r.select(
            "url", F.lit("region").alias("kind"), F.lit(REGION_P).alias("priority"),
            F.lit(0).alias("page"), F.lit(2).alias("depth"),
            F.col("abbr").alias("region"),
        )

    def _listing_links(self, regions: DataFrame) -> DataFrame:
        """region → listing-page fan-out (F4 empty-region elision; K1 LPT
        prio)."""
        reg = (
            regions.withColumn("total_page", total_page_col())
            .filter(F.col("total_page") > 0)
            .withColumn("abbr", abbr_from_url())
        )
        return reg.select(
            "url", "abbr", "total_page",
            F.explode(F.sequence(F.lit(1), F.col("total_page"))).alias("pg"),
        ).select(
            F.concat(F.col("url"), F.lit("pg"), F.col("pg"), F.lit("co32/")).alias("url"),
            F.lit("listing_page").alias("kind"),
            (F.lit(LISTING_P) + F.col("total_page")).alias("priority"),
            F.col("pg").alias("page"),
            F.lit(3).alias("depth"),
            F.col("abbr").alias("region"),
        )

    # -- bootstrap / resume --------------------------------------------------

    def _seeds_df(self) -> DataFrame:
        return local_df(
            self.spark, [(u,) for u in self.seed_urls], "url string"
        ).select(
            "url", F.lit("root").alias("kind"), F.lit(ROOT_P).alias("priority"),
            F.lit(0).alias("page"), F.lit(0).alias("depth"),
            F.lit(None).cast("string").alias("region"),
        )

    def bootstrap(self) -> Checkpoint:
        """Seed the frontier (round 0). Seeds default to nothing — callers
        pass the root URL(s); reference analog: the hardcoded root link,
        links.go:8-11."""
        seeds = self._seeds_df()
        # materialize the (tiny) candidate build once — four independent
        # bootstrap writes consume it — then overlap them: sequential
        # first-touch jobs paid ~15 s of Python-worker spin-up + codegen
        # latency end-to-end (measured), pure driver floor at any scale
        cand = prepare_candidates(seeds, self.budget, round_no=0).localCheckpoint(
            eager=True
        )
        seed_parts = max(1, min(self.n_partitions, len(self.seed_urls) or 1))
        with ThreadPoolExecutor(max_workers=3) as ex:
            f_frontier = ex.submit(self.store.write_frontier, cand, 0, seed_parts)
            f_bloom = ex.submit(
                self.store.write_bloom, self.bloom.build(cand, version=0), 0
            )
            f_budget = ex.submit(
                self.budget.write.mode("overwrite").parquet,
                f"{self.store.workdir}/politeness_budget",
            )
            bucket_lineage = self._seed_lineage(cand, version=0)
            for f in (f_frontier, f_bloom, f_budget):
                f.result()
        ckpt = Checkpoint(round=0, frontier_version=0, apartments_version=-1,
                          bloom_versions=[0], bucket_lineage=bucket_lineage,
                          lineage_version=0)
        self.store.write_checkpoint(ckpt)
        return ckpt

    def _seed_lineage(self, cand: DataFrame, version: int) -> dict:
        """Full lineage write at (re-)seed time; returns the per-bucket
        state counters for the checkpoint (seed cardinality — tiny)."""
        # cache the tiny (host, state) aggregate: the table write and the
        # bucket-counter collect both consume it, and without the cache each
        # re-evaluates the full upstream candidate plan (window dedup +
        # robots marking) from scratch.
        lin_rows = cand.groupBy(
            "host", "state", host_bucket().alias("_bucket")
        ).agg(F.count(F.lit(1)).alias("url_cnt")).cache()
        self.store.write_lineage(lin_rows.drop("_bucket"), version, self.n_partitions)
        bucket_lineage: dict[str, dict[str, int]] = {}
        for r in lin_rows.groupBy("_bucket", "state").agg(
            F.sum("url_cnt").alias("cnt")
        ).collect():
            bucket_lineage.setdefault(str(r["_bucket"]), {})[r["state"]] = int(r["cnt"])
        lin_rows.unpersist()
        return bucket_lineage

    # -- one round -----------------------------------------------------------

    def run_round(
        self, ckpt: Checkpoint, max_batch_rounds: int | None = None
    ) -> tuple[Checkpoint, dict]:
        import os

        phase_log = bool(os.environ.get("SPARK_GRAFT_PHASE_LOG"))
        phases: dict[str, float] = {}
        t_round = time.perf_counter()
        t = t_round
        round_no = ckpt.round + 1
        frontier = self.store.read_frontier(ckpt.frontier_version)
        dq_raw = dequeue(frontier, self.budget).cache()
        # ONE collect yields the kind breakdown, the total, AND the dequeued
        # host set (fetched hosts ≡ dequeued hosts — fetch_batch emits one
        # result row per input row), so neither the micro-batch path nor the
        # enqueue chain pays a separate hosts-distinct job. Cardinality is
        # O(dequeued hosts) — the same as the hosts collect it replaces.
        kind_counts, dq_hosts = self._dequeue_breakdown(dq_raw)
        n_dq = sum(kind_counts.values())
        if n_dq == 0:
            dq_raw.unpersist()
            return ckpt, {"dequeued": 0}
        if (
            self.microbatch_threshold
            and n_dq < self.microbatch_threshold
            and not kind_counts.get("listing_page", 0)
            and (max_batch_rounds is None or max_batch_rounds > 1)
        ):
            return self._run_microbatch(
                ckpt, frontier, dq_raw, kind_counts, dq_hosts, max_batch_rounds
            )
        dq = with_dequeue_seq(
            dq_raw, round_no, n_rows=n_dq, n_partitions=self.n_partitions
        ).cache()
        if phase_log:
            phases["dequeue"] = time.perf_counter() - t
            t = time.perf_counter()
        fetched = self._fetch_and_log(dq, round_no, n_dq)
        # Re-spread before the parse: fetch's output keeps its politeness
        # partitioning (hash on host — all of one host's rows in one task),
        # so every post-fetch CPU stage would inherit ≤|hosts| busy
        # partitions. Fine at web scale (hosts ≫ cores) but it serializes
        # the JSON parse + card work whenever hosts ≪ cores (measured:
        # parse+dedupe 3.7 s on 4 of 32 cores at the weak4 point) — and at
        # web scale the same skew reappears on hot hosts. One url-hash
        # exchange of the bodies (order-insensitive downstream: dedup/merge
        # keys are explicit, §4.3) buys full-width parallelism for
        # everything after the fetch.
        ok = fetched.filter(F.col("status") == 200)
        if n_dq >= 256:
            ok = ok.repartition(
                max(1, min(self.n_partitions, n_dq // 64 + 1)), F.col("url")
            )
        # the cache holds ONLY what the chains read (url/host/kind + the
        # parsed struct): carrying the raw body through the cache doubled
        # the serialized row for a column nothing downstream touches
        parsed = parsed_body(ok).select("url", "host", "kind", "parsed").cache()
        if phase_log:
            phases["fetch+log"] = time.perf_counter() - t
            t = time.perf_counter()

        # ④-⑦ run as CONCURRENT job chains: a sequential driver loop would
        # serialize ~14 small Spark jobs and pay their scheduling latency
        # end-to-end (the reference has the same concurrency — master
        # dispatches while workers fetch, masterjob.go:399-434). All chains
        # read only the materialized `fetched` cache; their outputs are
        # disjoint tables, so ordering across chains is irrelevant.
        with ThreadPoolExecutor(max_workers=5) as ex:
            f_metrics = ex.submit(
                self.store.append, "metrics", rate_stats(fetched, round_no), round_no
            )
            f_cdc = ex.submit(self._cdc_chain, parsed, kind_counts, ckpt, round_no)
            f_enq = ex.submit(
                self._enqueue_chain, parsed, kind_counts, frontier, fetched, ckpt,
                round_no, dq_hosts,
            )

            # lineage, updated INCREMENTALLY: a dirty bucket's delta carries
            # all of its hosts' rows, so dirty buckets are replaced wholesale
            # and clean buckets inherit — no full-frontier scan (O(dirty
            # buckets) like the write itself). The HOST-level breakdown goes
            # to the store `lineage` table (dirty-bucket manifest commit);
            # the checkpoint keeps only per-BUCKET per-state counters, so the
            # manifest and the driver collect are O(buckets) regardless of
            # host cardinality. It depends ONLY on the enqueue chain's delta,
            # so it starts the moment that chain resolves and runs UNDER the
            # CDC chain's tail (round 5: the enqueue chain finishes ~2-3 s
            # before CDC on the weak4 listing round); the lineage version dir
            # lands before the checkpoint exactly as before — an uncommitted
            # dir from a crash is invisible, manifest-last discipline.
            def _lineage_job():
                n_new, bloom_versions, delta, dirty_buckets = f_enq.result()
                lin_rows = delta.groupBy(
                    "host", "state", host_bucket().alias("_bucket")
                ).agg(F.count(F.lit(1)).alias("url_cnt")).cache()
                if ckpt.lineage_version >= 0:
                    self.store.write_lineage_delta(
                        lin_rows.drop("_bucket"), round_no, ckpt.lineage_version,
                        self.n_partitions,
                    )
                else:
                    self.store.write_lineage(
                        lin_rows.drop("_bucket"), round_no, self.n_partitions
                    )
                bucket_rows = (
                    lin_rows.groupBy("_bucket", "state")
                    .agg(F.sum("url_cnt").alias("cnt")).collect()
                )
                lin_rows.unpersist()
                delta.unpersist()
                return n_new, bloom_versions, dirty_buckets, bucket_rows

            f_lin = ex.submit(_lineage_job)
            f_metrics.result()
            apt_version, n_cards = f_cdc.result()
            if phase_log:
                phases["chains:cdc_done"] = time.perf_counter() - t
                t_lin = time.perf_counter()
            n_new, bloom_versions, dirty_buckets, bucket_rows = f_lin.result()
            if phase_log:
                phases["chains:lineage_extra"] = time.perf_counter() - t_lin
                t = time.perf_counter()

        bucket_lineage: dict[str, dict[str, int]] = {
            b: dict(v)
            for b, v in ckpt.bucket_lineage.items()
            if int(b) not in dirty_buckets
        }
        for r in bucket_rows:
            bucket_lineage.setdefault(str(r["_bucket"]), {})[r["state"]] = int(r["cnt"])

        counters = dict(ckpt.counters)
        counters["pages_fetched"] = counters.get("pages_fetched", 0) + n_dq
        counters["urls_enqueued"] = counters.get("urls_enqueued", 0) + n_new
        counters["cards_parsed"] = counters.get("cards_parsed", 0) + n_cards

        # queryable per-round progress row (entry point B — the reference's
        # status surface, cli/status.go:473-498 / masterproj.go:223-238):
        # dequeue/new/cards counts + global frontier state totals + wall.
        # Written BEFORE the checkpoint so the atomic manifest commit covers
        # it like every other per-round table (a crash between the two can
        # only lose an uncommitted round, never commit a round whose rounds
        # row is missing).
        state_totals: dict[str, int] = {}
        for states in bucket_lineage.values():
            for s, c in states.items():
                state_totals[s] = state_totals.get(s, 0) + c
        self.store.append(
            "rounds",
            local_df(
                self.spark, [(
                    round_no, n_dq, n_new, n_cards,
                    state_totals.get("pending", 0), state_totals.get("fetched", 0),
                    state_totals.get("failed", 0), state_totals.get("robots_blocked", 0),
                    float(time.perf_counter() - t_round),
                )],
                ROUNDS_DDL,
            ),
            round_no,
        )
        new_ckpt = Checkpoint(
            round=round_no,
            frontier_version=round_no,
            apartments_version=apt_version,
            bloom_versions=bloom_versions,
            appended_rounds=ckpt.appended_rounds + [round_no],
            bucket_lineage=bucket_lineage,
            lineage_version=round_no,
            counters=counters,
        )
        self.store.write_checkpoint(new_ckpt)
        for df in (dq_raw, dq, fetched, parsed):
            df.unpersist()
        if phase_log:
            phases["rounds+ckpt"] = time.perf_counter() - t
            print(
                f"PHASES round={round_no} dq={n_dq} "
                + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()),
                flush=True,
            )
        return new_ckpt, {"dequeued": n_dq, "new_urls": n_new, "cards": n_cards}

    # -- micro-batched discovery rounds --------------------------------------

    def _run_microbatch(
        self, ckpt: Checkpoint, base_frontier: DataFrame, dq_raw: DataFrame,
        kind_counts: dict, dq_hosts: set, max_batch_rounds: int | None = None,
    ) -> tuple[Checkpoint, dict]:
        """Fuse consecutive TINY discovery rounds into ONE store commit — the
        round-4 attack on the per-round driver floor: each committed round
        pays a fixed ~2-3 s of job-scheduling + manifest IO regardless of
        cores (measured via SPARK_GRAFT_PHASE_LOG: ~9 s/round at dq≤47, of
        which ~7 s is the enqueue chain + lineage/checkpoint commit), which
        bounds strong scaling in the sandbox and, at the 10^10-URL design
        point, taxes the small rounds at a crawl's head and tail the same
        way. The reference's master pays the analogous cost per job dispatch
        round-trip (masterjob.go:399-434).

        What changes vs per-round commits — and what provably does not:

        - logical rounds keep their numbers and run the SAME code paths
          (dequeue → with_dequeue_seq → fetch_batch → parse → discoveries →
          prepare_candidates; state transitions via the shared
          _apply_fetch_states), so the §4.3 golden ordering is byte-identical;
        - fetch_log / metrics / rounds rows are still written per round
          (append dirs are idempotent overwrites); ONLY the frontier, bloom,
          lineage, and checkpoint commits are batched, at the last fused
          round's version — intermediate version numbers are simply never
          created (readers resolve manifests, never enumerate versions);
        - the batch's frontier updates ride the driver between rounds (the
          `touched` url→row dict — bounded by the entry condition
          dq < microbatch_threshold plus microbatch_touched_cap: candidate
          collection is bounded by the remaining cap and a single round's
          oversized fan-out overflows to a fully DISTRIBUTED flush
          (_microbatch_new_rows), so no round can exceed the driver budget),
          composed with the committed base via a broadcast anti-join union
          for the next dequeue;
        - URL-seen keeps filter_unseen's two-tier semantics: candidates are
          probed driver-side against the held bloom dict (identical math —
          bloom.probe_dict) plus the touched set; bloom-positives get the
          exact anti-join vs the committed frontier; on the partitioned-bloom
          tier (no driver dict) everything takes the exact anti-join;
        - crash mid-batch: the manifest still names the pre-batch round, the
          rerun reproduces identical rounds (§4.3 determinism) and overwrites
          any partial per-round artifacts — the same recovery argument as a
          single crashed round (test_crash_recovery);
        - rounds containing listing pages never enter a batch (entry + exit
          condition), so the CDC/apartments path always commits per round.

        Equivalence to per-round commits is pinned by
        tests/test_resume.py::test_microbatch_equals_per_round."""
        import os

        phase_log = bool(os.environ.get("SPARK_GRAFT_PHASE_LOG"))
        base_schema = base_frontier.schema
        base_cols = [f.name for f in base_schema.fields]
        state_totals: dict[str, int] = {}
        for states in ckpt.bucket_lineage.values():
            for s, c in states.items():
                state_totals[s] = state_totals.get(s, 0) + int(c)
        touched: dict[str, object] = {}   # url → current frontier row
        new_rows_all: list = []
        dirty_hosts: set[str] = set()
        round_rows: list[tuple] = []
        counters = dict(ckpt.counters)
        n_seen0 = ckpt.counters.get("urls_enqueued", 0)
        budget = self.microbatch_max_rounds
        if max_batch_rounds is not None:
            budget = min(budget, max_batch_rounds)
        round_no = ckpt.round
        total_dq = total_new = 0
        drained = False
        while True:
            t_round = time.perf_counter()
            round_no += 1
            n_dq = sum(kind_counts.values())
            dirty_hosts |= dq_hosts
            dq = with_dequeue_seq(
                dq_raw, round_no, n_rows=n_dq, n_partitions=self.n_partitions
            ).cache()
            fetched = self._fetch_and_log(dq, round_no, n_dq)
            parsed = parsed_body(fetched.filter(F.col("status") == 200))
            # metrics ∥ state-transition collect ∥ discovery/unseen collect —
            # touched is read-only until both collects resolve
            with ThreadPoolExecutor(max_workers=3) as ex:
                f_metrics = ex.submit(
                    self.store.append, "metrics", rate_stats(fetched, round_no), round_no
                )
                f_upd = ex.submit(
                    lambda: self._apply_fetch_states(
                        dq.drop("min_interval_ms", "robots_disallow", "round", "seq"),
                        fetched.select("url", "status"),
                    ).select(*base_cols).collect()
                )
                f_new = ex.submit(
                    self._microbatch_new_rows,
                    parsed, kind_counts, base_frontier, touched, round_no,
                    base_cols, n_seen0, ckpt,
                )
                f_metrics.result()
                upd_rows = f_upd.result()
                new_rows, overflow_df = f_new.result()
            for r in upd_rows:   # dequeued rows were pending by definition
                state_totals["pending"] = state_totals.get("pending", 0) - 1
                state_totals[r["state"]] = state_totals.get(r["state"], 0) + 1
                touched[r["url"]] = r
            if overflow_df is not None:
                # a fan-out outgrew the driver budget: the round's new rows
                # stayed distributed; fold their aggregates in (O(states) +
                # O(new hosts) collects — the same posture as the normal
                # enqueue chain's dirty-host collect) and flush the batch
                n_new = 0
                for r in overflow_df.groupBy("state").count().collect():
                    state_totals[r["state"]] = (
                        state_totals.get(r["state"], 0) + int(r["count"])
                    )
                    n_new += int(r["count"])
                dirty_hosts |= {
                    r[0] for r in overflow_df.select("host").distinct().collect()
                }
            else:
                for r in new_rows:
                    state_totals[r["state"]] = state_totals.get(r["state"], 0) + 1
                    touched[r["url"]] = r
                    dirty_hosts.add(r["host"])
                new_rows_all.extend(new_rows)
                n_new = len(new_rows)
            total_dq += n_dq
            total_new += n_new
            counters["pages_fetched"] = counters.get("pages_fetched", 0) + n_dq
            counters["urls_enqueued"] = counters.get("urls_enqueued", 0) + n_new
            # discovery rounds parse no cards, but the key must exist so the
            # committed counters carry the same shape as per-round mode
            counters["cards_parsed"] = counters.get("cards_parsed", 0)
            round_rows.append((
                round_no, n_dq, n_new, 0,
                state_totals.get("pending", 0), state_totals.get("fetched", 0),
                state_totals.get("failed", 0), state_totals.get("robots_blocked", 0),
                float(time.perf_counter() - t_round),
            ))
            for df in (dq_raw, dq, fetched):
                df.unpersist()
            if phase_log:
                print(
                    f"MICRO round={round_no} dq={n_dq} new={n_new} "
                    f"wall={time.perf_counter() - t_round:.2f}s",
                    flush=True,
                )
            if (
                overflow_df is not None
                or round_no - ckpt.round >= budget
                or len(touched) > self.microbatch_touched_cap
            ):
                break
            # next dequeue over base ⊕ touched (broadcast-tiny overlay)
            touched_df = local_df(self.spark, touched.values(), base_schema)
            eff = base_frontier.join(
                F.broadcast(touched_df.select("url")), "url", "left_anti"
            ).unionByName(touched_df)
            dq_raw = dequeue(eff, self.budget).cache()
            kind_counts, dq_hosts = self._dequeue_breakdown(dq_raw)
            if sum(kind_counts.values()) == 0:
                dq_raw.unpersist()
                drained = True
                break
            if (
                sum(kind_counts.values()) >= self.microbatch_threshold
                or kind_counts.get("listing_page", 0)
            ):
                # commit what we have; the next (big / CDC) round re-derives
                # this dequeue from the committed store via the normal path
                dq_raw.unpersist()
                break
        new_ckpt = self._microbatch_commit(
            ckpt, base_schema, touched, new_rows_all, dirty_hosts, round_rows,
            counters, round_no, n_seen0, extra_new_df=overflow_df,
        )
        return new_ckpt, {
            "dequeued": total_dq, "new_urls": total_new, "cards": 0,
            "rounds_run": round_no - ckpt.round, "drained": drained,
        }

    def _microbatch_new_rows(
        self, parsed, kind_counts, base_frontier, touched, round_no, base_cols,
        n_seen, ckpt,
    ) -> tuple[list | None, DataFrame | None]:
        """Discoveries → candidates → URL-seen pruning, micro-batch flavor.
        Normally the candidate set is tiny (batch entry condition × page
        fan-out), so the two-tier check collapses to a driver-side bloom
        probe + touched-dict lookup, with one exact semi-join vs the
        committed frontier for bloom-positives only — returns (rows, None),
        row order immaterial (every consumer sorts canonically).

        The driver-residency is NOT assumed, it is enforced: one bounded
        collect takes at most ``cap + len(touched) + 1`` candidate rows,
        where ``cap`` is what is left of microbatch_touched_cap — so at most
        microbatch_touched_cap + 1 rows while the touched dict is within its
        cap, and a surprise fan-out (a sub-threshold dequeue of region pages
        each advertising thousands of listing pages) can never OOM the
        driver. Candidates are unique by URL, so at most ``len(touched)`` of
        the collected rows are touched ones: more than ``cap`` untouched
        candidates exist iff more than ``cap`` are among the collected rows.
        On overflow the collected rows are discarded and the round's new
        rows are computed fully DISTRIBUTED — exact anti-join vs the
        committed base and the touched overlay — returning (None, new_df);
        the caller folds that DataFrame into an immediate batch flush."""
        cand = prepare_candidates(
            self._discoveries_from(parsed, kind_counts), self.budget, round_no
        ).select(*base_cols)
        cap = max(0, self.microbatch_touched_cap - len(touched))
        dict_tier = n_seen <= self.bloom_partitioned_threshold
        probe_src = (
            cand
            if dict_tier
            else cand.join(base_frontier.select("url"), "url", "left_anti")
        )
        rows = [
            r for r in probe_src.limit(cap + len(touched) + 1).collect()
            if r["url"] not in touched
        ]
        overflow = len(rows) > cap
        if not overflow:
            if not dict_tier or not rows:
                return rows, None
            import numpy as np

            arrays = self._bloom_dict(ckpt)
            maybe = self.bloom.probe_dict(
                arrays,
                np.array([r["url_hash64"] for r in rows], dtype=np.int64),
            )
            fresh = [r for r, m in zip(rows, maybe) if not m]
            suspects = [r for r, m in zip(rows, maybe) if m]
            if suspects:
                sdf = local_df(self.spark, suspects, base_frontier.schema)
                seen = {
                    r["url"]
                    for r in base_frontier.select("url")
                    .join(F.broadcast(sdf.select("url")), "url", "left_semi")
                    .collect()
                }
                fresh.extend(r for r in suspects if r["url"] not in seen)
            return fresh, None
        # overflow: exact, distributed, nothing row-shaped on the driver
        new_df = cand.join(base_frontier.select("url"), "url", "left_anti")
        if touched:
            tdf = local_df(self.spark, [(u,) for u in touched], "url string")
            new_df = new_df.join(F.broadcast(tdf), "url", "left_anti")
        return None, new_df.localCheckpoint(eager=True)

    def _microbatch_commit(
        self, ckpt: Checkpoint, base_schema, touched, new_rows_all,
        dirty_hosts, round_rows, counters, last_round, n_seen0,
        extra_new_df: DataFrame | None = None,
    ) -> Checkpoint:
        """One commit for the whole batch: frontier delta (dirty buckets =
        dequeued ∪ discovered hosts, exactly the per-round rule), one bloom
        version over the batch's new URLs, one lineage delta, the buffered
        per-round rounds rows, then the atomic checkpoint. ``extra_new_df``
        is the overflow round's DISTRIBUTED new rows (already checkpointed),
        when a fan-out outgrew the driver budget — it joins the touched rows
        in the delta and the bloom build without ever landing on the
        driver."""
        dirty_buckets = {host_bucket_py(h) for h in dirty_hosts}
        touched_df = local_df(self.spark, touched.values(), base_schema)
        if extra_new_df is not None:
            touched_df = touched_df.unionByName(extra_new_df.select(*touched_df.columns))
        old_dirty = self.store.read_frontier_buckets(
            ckpt.frontier_version, sorted(dirty_buckets)
        )
        # materialize the delta ONCE (eager localCheckpoint), then every
        # commit write — frontier delta, bloom, per-round rounds rows, the
        # lineage pair — runs concurrently against the frozen rows: the
        # sequential form paid ~10 s of serialized job latency per batch
        # (measured), most of the amortization the batch exists to win back
        delta = (
            old_dirty.join(F.broadcast(touched_df.select("url")), "url", "left_anti")
            .unionByName(touched_df)
            .localCheckpoint(eager=True)
        )
        bloom_versions = list(ckpt.bloom_versions)
        with ThreadPoolExecutor(max_workers=5) as ex:
            futs = [
                ex.submit(
                    self.store.write_frontier_delta, delta, last_round,
                    ckpt.frontier_version, self.n_partitions,
                )
            ]
            if new_rows_all or extra_new_df is not None:
                bloom_versions.append(last_round)
                new_df = None
                if new_rows_all:
                    new_df = local_df(self.spark, new_rows_all, base_schema)
                if extra_new_df is not None:
                    extra = extra_new_df.select(
                        *(new_df.columns if new_df is not None else base_schema.fieldNames())
                    )
                    new_df = extra if new_df is None else new_df.unionByName(extra)
                futs.append(
                    ex.submit(
                        self._bloom_commit, new_df, n_seen0, ckpt, last_round,
                        bloom_versions,
                    )
                )
            for row in round_rows:
                futs.append(
                    ex.submit(
                        self.store.append, "rounds",
                        local_df(self.spark, [row], ROUNDS_DDL), row[0],
                    )
                )
            lin_rows = delta.groupBy(
                "host", "state", host_bucket().alias("_bucket")
            ).agg(F.count(F.lit(1)).alias("url_cnt")).cache()
            if ckpt.lineage_version >= 0:
                self.store.write_lineage_delta(
                    lin_rows.drop("_bucket"), last_round, ckpt.lineage_version,
                    self.n_partitions,
                )
            else:
                self.store.write_lineage(
                    lin_rows.drop("_bucket"), last_round, self.n_partitions
                )
            bucket_rows = (
                lin_rows.groupBy("_bucket", "state")
                .agg(F.sum("url_cnt").alias("cnt"))
                .collect()
            )
            lin_rows.unpersist()
            for f in futs:
                f.result()
        bucket_lineage = {
            b: dict(v)
            for b, v in ckpt.bucket_lineage.items()
            if int(b) not in dirty_buckets
        }
        for r in bucket_rows:
            bucket_lineage.setdefault(str(r["_bucket"]), {})[r["state"]] = int(r["cnt"])
        batch_rounds = list(range(ckpt.round + 1, last_round + 1))
        new_ckpt = Checkpoint(
            round=last_round,
            frontier_version=last_round,
            apartments_version=ckpt.apartments_version,
            bloom_versions=bloom_versions,
            appended_rounds=ckpt.appended_rounds + batch_rounds,
            bucket_lineage=bucket_lineage,
            lineage_version=last_round,
            counters=counters,
        )
        self.store.write_checkpoint(new_ckpt)
        return new_ckpt

    # -- round chains (run concurrently per round) ---------------------------

    def _cdc_chain(self, parsed, kind_counts, ckpt: Checkpoint, round_no: int):
        """④+⑤: cards → CDC merge → side outputs → items payload join-back.
        Returns (apartments_version, n_cards)."""
        import os

        phase_log = bool(os.environ.get("SPARK_GRAFT_PHASE_LOG"))
        t = time.perf_counter()
        cdc_phases: dict[str, float] = {}

        def mark(name):
            nonlocal t
            if phase_log:
                cdc_phases[name] = time.perf_counter() - t
                t = time.perf_counter()

        apt_version = ckpt.apartments_version
        if not kind_counts.get("listing_page", 0):
            return apt_version, 0
        cards_all = parse_cards(parsed.filter(F.col("kind") == "listing_page"))
        cards_ok, cards_bad = split_malformed(cards_all)
        cards = dedupe_cards(cards_ok).cache()
        # ONE job materializes the cards cache AND yields the count plus the
        # dirty-region breakdown (round 5: was count, then a separate
        # regions-distinct collect — ~0.4 s of the weak4 chain's critical
        # path for a ≤|regions|-row answer the same scan already knows)
        region_counts = cards.groupBy("region").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
        n_cards = sum(int(r["cnt"]) for r in region_counts)
        mark("parse+dedupe")
        if n_cards:
            with ThreadPoolExecutor(max_workers=6) as ex:
                # items (decode + payload join-back) and the errors side
                # output depend ONLY on the cached cards — not on the merge —
                # so they start FIRST and run under the merge's commit wait:
                # the apartments write is store-latency-bound (BASELINE.md §3,
                # core-count-independent) while the decode is executor-CPU-
                # bound, so the two overlap cleanly. Measured (phase log,
                # small bench): items was 5.5 s of a 22.9 s serial chain.
                # card side broadcasts while it plausibly fits (ids+captions,
                # ~100 B/row ⇒ 200k ≈ 20 MB); beyond that fall back to the
                # shuffle join with pinned decode parallelism
                image_store = self.spark.read.parquet(self.image_store_path)
                item_parts = max(1, min(self.n_partitions, n_cards // 256 + 1))
                def _items_job():
                    t0 = time.perf_counter()
                    self.store.append(
                        "items",
                        extract_items(
                            cards, image_store, item_parts,
                            broadcast_cards=n_cards <= 200_000,
                        ),
                        round_no,
                    )
                    if phase_log:
                        cdc_phases["items_job"] = time.perf_counter() - t0

                f_items = ex.submit(_items_job)
                f_errors = ex.submit(self.store.append, "errors", cards_bad, round_no)
                # MERGE at partition granularity: only the batch's regions are
                # dirty — read and rewrite those regions alone, inherit the
                # rest via the manifest (per-round apartments IO is O(dirty
                # regions), not O(table)). The dirty set rode the parse+dedupe
                # collect above — no extra job.
                dirty_regions = sorted(
                    {r["region"] for r in region_counts if r["region"]}
                )
                mark("dirty_regions")
                old = (
                    self.store.read_apartments_regions(apt_version, dirty_regions)
                    if apt_version >= 0
                    else None
                ) or empty_apartments(self.spark)
                mark("read_old_plan")
                batch = cards.select(
                    "location", "aid", "price", "size", "total", "subway", "station",
                    "smeter", "floor", "tfloor", "year", "withlift", "visitcnt", "region",
                )
                merged, changes, meta_changes, stats = merge_apartments(
                    old, batch, self.now_ts
                )
                # the three side outputs are projections of the SAME cached
                # join as the merged snapshot — submit them WITH the write
                # instead of after it (round 5): the join cache's per-block
                # locks make whichever job reaches a partition first compute
                # it while the others wait-then-read, so the appends ride
                # under the write's wall (~0.6 s of weak4 chain tail).
                # Different tables ⇒ no ordering requirement; the round's
                # commit point is still the checkpoint write.
                prev_version = apt_version

                def _write_merged():
                    t0 = time.perf_counter()
                    if prev_version >= 0:
                        self.store.write_apartments_delta(
                            merged, round_no, prev_version, self.n_partitions
                        )
                    else:
                        self.store.write_apartments(merged, round_no, self.n_partitions)
                    if phase_log:
                        cdc_phases["merge+write"] = time.perf_counter() - t0

                f_merge = ex.submit(_write_merged)
                futs = {
                    "changes": ex.submit(self.store.append, "changes", changes, round_no),
                    "meta": ex.submit(
                        self.store.append, "meta_changes", meta_changes, round_no
                    ),
                    "stats": ex.submit(self.store.append, "merge_stats", stats, round_no),
                }
                f_merge.result()
                apt_version = round_no
                mark("merge_wall")
                for name, fut in futs.items():
                    fut.result()
                f_errors.result()
                mark("side_outputs")  # residual sides NOT hidden by the write
                f_items.result()
                mark("items_wait")  # residual items time NOT hidden by merge
        else:
            self.store.append("errors", cards_bad, round_no)
        cards.unpersist()
        if phase_log and cdc_phases:
            print(
                f"CDC round={round_no} cards={n_cards} "
                + " ".join(f"{k}={v:.2f}s" for k, v in cdc_phases.items()),
                flush=True,
            )
        return apt_version, n_cards

    def _enqueue_chain(
        self, parsed, kind_counts, frontier, fetched, ckpt: Checkpoint,
        round_no: int, dq_hosts: set,
    ):
        """⑥: discoveries → canonicalize → bloom/left_anti dedup → bloom
        version append → INCREMENTAL frontier commit. Only the dirty host
        buckets (dequeued hosts + hosts of new URLs) are read for the state
        update and rewritten; clean buckets are inherited through the version
        manifest — per-round frontier IO is O(dirty buckets + new rows), the
        Iceberg-MERGE shape the 10^10-URL design point needs. ``dq_hosts``
        (the fetched side of the dirty set) comes from the round's single
        dequeue-breakdown collect. A round that dequeued no parent kind
        (``_discoveries_from`` is None) writes only the fetch-state delta of
        the dequeued hosts' buckets: no candidates, no unseen probe, no count
        and no bloom version — what the full chain computes for an empty
        ``new_rows``. Returns
        (n_new, bloom_versions, cached delta df, dirty bucket set)."""
        discoveries = self._discoveries_from(parsed, kind_counts)
        n_new, new_rows = 0, None
        bloom_versions = list(ckpt.bloom_versions)
        dirty_hosts = set(dq_hosts)
        if discoveries is not None:
            cand = prepare_candidates(discoveries, self.budget, round_no)
            n_seen = ckpt.counters.get("urls_enqueued", 0)
            if n_seen > self.bloom_partitioned_threshold:
                # filter too big to broadcast: probe via shard cogroup
                shards = self.store.read_bloom(ckpt.bloom_versions)
                new_rows = filter_unseen(
                    self.spark, cand, frontier, self.bloom,
                    bloom_shards_partitioned=shards,
                ).cache()
            else:
                new_rows = filter_unseen(
                    self.spark, cand, frontier, self.bloom,
                    bloom_arrays=self._bloom_dict(ckpt),
                ).cache()
            # the chain's driver-sequential Spark jobs dominated small rounds
            # (~7 s of fixed latency even at dq=8, measured via
            # SPARK_GRAFT_PHASE_LOG); the independent ones overlap here
            # instead: unseen count ∥ (bloom build/write ∥ new-host collect).
            # The fetched side of the dirty set is already known (dq_hosts,
            # from the round's single dequeue collect). Writes stay
            # independent tables (bloom vs frontier) and the round's commit
            # point is unchanged.
            with ThreadPoolExecutor(max_workers=2) as pool:
                n_new = new_rows.count()
                if n_new:
                    bloom_versions.append(round_no)
                    f_bloom = pool.submit(
                        self._bloom_commit, new_rows, n_seen, ckpt, round_no,
                        bloom_versions,
                    )
                    f_hosts_new = pool.submit(
                        lambda: {r[0] for r in new_rows.select("host").distinct().collect()}
                    )
                    dirty_hosts |= f_hosts_new.result()
                    f_bloom.result()
        dirty_buckets = {host_bucket_py(h) for h in dirty_hosts}
        old_dirty = self.store.read_frontier_buckets(
            ckpt.frontier_version, sorted(dirty_buckets)
        )
        delta = self._apply_fetch_states(old_dirty, fetched.select("url", "status"))
        if new_rows is not None:
            delta = delta.unionByName(new_rows)
        delta = delta.cache()
        self.store.write_frontier_delta(
            delta, round_no, ckpt.frontier_version, self.n_partitions
        )
        if new_rows is not None:
            new_rows.unpersist()
        return n_new, bloom_versions, delta, dirty_buckets

    def _bloom_commit(self, new_rows, n_seen, ckpt: Checkpoint, round_no: int,
                      bloom_versions: list) -> None:
        """Persist the round's URL-seen filter delta (runs concurrently with
        the dirty-host collects — bloom and frontier are independent tables,
        and the round's atomic commit point is still the checkpoint write)."""
        if n_seen > self.bloom_partitioned_threshold:
            # scale path: shard bytes go straight to the store — they are
            # too big to collect, and no driver dict exists to absorb into
            self.store.write_bloom(
                self.bloom.build(new_rows, version=round_no), round_no
            )
        else:
            shard_rows = self.bloom.build(new_rows, version=round_no).collect()
            self.store.write_bloom(
                local_df(self.spark, shard_rows, SHARD_SCHEMA), round_no
            )
            if self._bloom_arrays is not None:
                self._bloom_absorb(shard_rows, round_no, bloom_versions)

    # -- full run ------------------------------------------------------------

    def run(self, max_rounds: int = 64) -> RunResult:
        """Crawl until the frontier drains (or max_rounds). Resumes from the
        checkpoint manifest if one exists — exact resume is the ST4/§5.6
        contract; see tests/test_resume.py."""
        t0 = time.perf_counter()
        ckpt = self.store.load_checkpoint() or self.bootstrap()
        if ckpt.lineage_version < 0 and ckpt.frontier_version >= 0:
            # legacy store (pre-lineage-table manifest): rebuild the lineage
            # table and the per-bucket counters from the committed frontier
            # once, and commit the upgraded manifest — subsequent rounds take
            # the incremental path, and status.py stops needing its frontier
            # fallback for this store.
            bucket_lineage = self._seed_lineage(
                self.store.read_frontier(ckpt.frontier_version), version=ckpt.round
            )
            ckpt.bucket_lineage = bucket_lineage
            ckpt.lineage_version = ckpt.round
            self.store.write_checkpoint(ckpt)
        start_ts = self.now_ts
        rounds = 0
        drained = False
        while rounds < max_rounds:
            # a micro-batched call may run several logical rounds in one
            # commit — it reports how many, and whether it drained in-batch,
            # so the round budget and the finished flag stay exact
            ckpt, info = self.run_round(ckpt, max_batch_rounds=max_rounds - rounds)
            if info.get("dequeued", 0) == 0:
                drained = True
                break
            rounds += info.get("rounds_run", 1)
            if info.get("drained"):
                drained = True
                break
        wall = time.perf_counter() - t0
        if drained and not ckpt.finished:
            ckpt.finished = True
            self.store.write_checkpoint(ckpt)
            self._write_run_history(ckpt, start_ts, wall)
        return RunResult(
            rounds=rounds,
            pages_fetched=ckpt.counters.get("pages_fetched", 0),
            urls_enqueued=ckpt.counters.get("urls_enqueued", 0),
            cards_parsed=ckpt.counters.get("cards_parsed", 0),
            wall_s=wall,
        )

    def _write_run_history(self, ckpt: Checkpoint, start_ts: int, wall_s: float) -> None:
        """crawl_runs lineage row — UpdateHistory rebuild (proj.go:90-127).
        The reference's ``log`` column is a per-job start-time SERIES
        (proj.go:97-127, one line per job with its start time); the rebuild's
        analog is the per-round series read back from the rounds table."""
        series = []
        rounds_df = self.store.read_appended("rounds", ckpt.appended_rounds)
        if rounds_df is not None:
            offset = 0.0
            for r in sorted(rounds_df.collect(), key=lambda x: x["round"]):
                series.append({
                    "round": int(r["round"]),
                    "start": start_ts + int(offset),
                    "dequeued": int(r["dequeued"]),
                    "wall_s": round(float(r["wall_s"]), 3),
                })
                offset += float(r["wall_s"])
        row = [(
            start_ts,
            start_ts + int(wall_s) + 1,
            json.dumps({"rounds": ckpt.round, "series": series}),
            json.dumps(ckpt.counters),
        )]
        self.store.append(
            "crawl_runs",
            local_df(
                self.spark, row, "start bigint, end bigint, log string, result string"
            ),
            ckpt.round,
        )

    # -- second crawl run (CDC round 2) --------------------------------------

    def new_run(self, page_store_path: str, now_ts: int) -> None:
        """Start a fresh crawl over a (possibly mutated) site while KEEPING
        the apartments/changes lineage — the reference's repeated project runs
        against the same MySQL tables. Frontier re-seeds; the URL-seen filter
        resets (each run re-crawls; seen-dedup is per-run, matching the
        per-run Go maps)."""
        ckpt = self.store.load_checkpoint()
        if ckpt is None:
            raise RuntimeError("no prior run to continue from")
        self.page_store_path = page_store_path
        self.now_ts = int(now_ts)
        base = ckpt.round + 1
        seeds = self._seeds_df()
        cand = prepare_candidates(seeds, self.budget, round_no=base)
        self.store.write_frontier(cand, base, self.n_partitions)
        self.store.write_bloom(self.bloom.build(cand, version=base), base)
        bucket_lineage = self._seed_lineage(cand, version=base)
        new_ckpt = Checkpoint(
            round=base,
            frontier_version=base,
            apartments_version=ckpt.apartments_version,
            bloom_versions=[base],
            appended_rounds=ckpt.appended_rounds,
            bucket_lineage=bucket_lineage,
            lineage_version=base,
            counters=ckpt.counters,
        )
        self.store.write_checkpoint(new_ckpt)
