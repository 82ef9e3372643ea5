"""The ``crawl`` workload: a fresh crawl of the seeded site, bootstrap to
drain, then reports over the tables it wrote.

It is the only workload that writes, and the crawler layers do nearly all
of its work; the relational queries and the curation chains stay idle.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pyspark.sql.functions as F

from ops import fingerprint, fingerprint_rows, materialize
from pegasus_spark.analytics import reports as R
from pegasus_spark.crawler.fixtures import budget_df
from pegasus_spark.crawler.frontier import FrontierStore
from pegasus_spark.crawler.scheduler import CrawlScheduler
from crawlsite import build_site, expected_apartments, expected_urls

NOW_TS = 1_700_000_000

# FrontierStore methods by layer; ``append`` is split by table name below
STORE_LAYERS = {
    "crawler.frontier": [
        "write_frontier", "write_frontier_delta", "read_frontier",
        "read_frontier_buckets", "write_lineage", "write_lineage_delta",
        "read_lineage", "write_checkpoint", "load_checkpoint",
    ],
    "crawler.bloom": ["write_bloom", "read_bloom"],
    "crawler.cdc": [
        "write_apartments", "write_apartments_delta", "read_apartments_regions",
    ],
}
APPEND_LAYERS = {
    "fetch_log": "crawler.fetch",
    "items": "crawler.items",
    "changes": "crawler.cdc",
    "meta_changes": "crawler.cdc",
    "merge_stats": "crawler.cdc",
    "errors": "crawler.cdc",
    "rounds": "crawler.frontier",
    "metrics": "crawler.frontier",
}


# Reports run over the crawled tables. Each costs about a second cold; more
# do not fit the run budget.
REPORTS = {
    "top_by_total": lambda apt: R.top_by_total(apt, now_ts=NOW_TS),
}


class CrawlWorkload:
    name = "crawl"

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self, spark) -> None:
        self.spec, self.fx = build_site(self.ctx.cache_dir, self.ctx.scale, self.ctx.seed)

    def open(self, spark) -> None:
        self.spark = spark
        for name in ("site_pages_r1", "items_r1"):
            spark.read.parquet(f"{self.fx}/{name}.parquet").schema  # noqa: B018
        self.budget = budget_df(spark, self.spec)

    def instrument(self, tracer) -> None:
        for m in ("bootstrap", "run_round", "new_run"):
            tracer.patch(CrawlScheduler, m, "crawler.scheduler")
        for layer, methods in STORE_LAYERS.items():
            for m in methods:
                tracer.patch(FrontierStore, m, layer)
        tracer.patch(FrontierStore, "append", None,
                     name_of=lambda a: (APPEND_LAYERS[a[1]], f"append:{a[1]}"))

    def warm_up(self, tracer) -> None:
        """Warm the fresh JVM with the bootstrap of a crawl into a store of
        its own: the first Spark jobs, the Python workers and the store's
        write paths start here, not in the timed crawl. A whole cold crawl
        first would cost about 50 s of the run budget, the bootstrap about
        12 s."""
        self.store_dir = os.path.join(self.ctx.run_dir, "warm_store")
        self._scheduler().bootstrap()
        shutil.rmtree(self.store_dir, ignore_errors=True)

    def _scheduler(self) -> CrawlScheduler:
        return CrawlScheduler(
            self.spark, self.store_dir,
            page_store_path=f"{self.fx}/site_pages_r1.parquet",
            image_store_path=f"{self.fx}/items_r1.parquet",
            budget=self.budget, seed_urls=[self.spec.root_url],
            now_ts=NOW_TS, n_partitions=self.ctx.cores,
        )

    def _crawl(self) -> dict:
        sched = self._scheduler()
        ckpt = sched.bootstrap()
        rounds = []
        while True:
            r = time.perf_counter()
            ckpt, info = sched.run_round(ckpt)
            if info.get("dequeued", 0) == 0:
                break
            rounds.append({**info, "wall_s": time.perf_counter() - r,
                           "listing": "rounds_run" not in info})
            if info.get("drained"):
                break
        return {"sched": sched, "ckpt": ckpt, "rounds": rounds}

    def _check_crawl(self, res) -> dict:
        sched, ckpt = res["sched"], res["ckpt"]
        store = sched.store
        log = store.read_appended("fetch_log", ckpt.appended_rounds)
        log_rows = sorted((r["round"], r["seq"], r["url"])
                          for r in log.select("round", "seq", "url").collect())
        frontier = store.read_frontier(ckpt.frontier_version)
        seen = sorted((r["url"], r["state"])
                      for r in frontier.select("url", "state").collect())
        apt = {(r["region"], r["aid"], r["price"], r["total"]) for r in
               store.read_apartments(ckpt.apartments_version)
               .select("region", "aid", "price", "total").collect()}
        if {u for u, _ in seen} != expected_urls(self.spec):
            raise ValueError("crawled URL set differs from the site oracle")
        if apt != expected_apartments(self.spec, self.ctx.seed):
            raise ValueError("apartments table differs from the site oracle")
        return {
            "fetch_log": hashlib.sha256(str(log_rows).encode()).hexdigest()[:16],
            "url_seen": hashlib.sha256(str(seen).encode()).hexdigest()[:16],
            "apartments": fingerprint_rows(apt)["digest"],
        }

    def run_pass(self, rec, tracer) -> None:
        # every pass crawls into a fresh, empty store
        self.store_dir = os.path.join(self.ctx.run_dir, "crawl_store")
        shutil.rmtree(self.store_dir, ignore_errors=True)
        res = rec.run("crawl", "main", self._crawl, self._check_crawl)
        if res is None:
            return
        self.crawl = res
        self.store_mb = _du_mb(res["sched"].store.workdir)
        apartments = res["sched"].store.read_apartments(res["ckpt"].apartments_version)
        for name, build in REPORTS.items():
            def op(build=build, name=name):
                with tracer.span("analytics.reports", name):
                    df = build(apartments)
                    materialize(df)
                return df
            rec.run(f"report:{name}", "op", op, fingerprint)

    def detail(self) -> dict:
        """The workload's own named metrics (see NOTES.md)."""
        res = getattr(self, "crawl", None)
        if res is None:
            return {}
        lst = [r for r in res["rounds"] if r["listing"]]
        return {
            "pages": res["ckpt"].counters.get("pages_fetched", 0),
            "listing_pages_per_s": (
                sum(r["dequeued"] for r in lst) / sum(r["wall_s"] for r in lst)
                if lst else None),
            "rounds": res["rounds"],
        }

    def layer_extras(self, spans) -> dict:
        res = getattr(self, "crawl", None)
        if res is None:
            return {}
        log = res["sched"].store.read_appended("fetch_log", res["ckpt"].appended_rounds)
        n, ok, urls = log.select(
            F.count(F.lit(1)), F.sum((F.col("status") == 200).cast("int")),
            F.countDistinct("url"),
        ).first()
        changes = 0
        for t in ("changes", "meta_changes"):
            df = res["sched"].store.read_appended(t, res["ckpt"].appended_rounds)
            changes += df.count() if df is not None else 0
        return {
            "crawler.scheduler.rounds": sum(r.get("rounds_run", 1) for r in res["rounds"]),
            "crawler.frontier.store_mb": self.store_mb,
            "crawler.fetch.ok_ratio": (ok or 0) / n if n else 0.0,
            "crawler.fetch.retries": n - urls,
            "crawler.cdc.change_rows": changes,
        }


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total / 1e6
