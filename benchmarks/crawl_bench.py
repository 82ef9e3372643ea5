"""Crawl-loop throughput bench (BASELINE.json metric: pages/sec +
frontier-URLs/sec on the synthetic Lianjia-shaped seed crawl).

Fixture scales (seed=42, generated once per scale into a cached /tmp dir —
generation cost is excluded from timing):

- ``small`` — ~1.4k listing pages / ~7k cards; used by bench.py's per-round
  JSON line so the driver bench stays fast.
- ``large`` — ~10k listing pages / ~50k cards; used by the N-vs-4N scaling
  evidence (benchmarks/scaling_bench.py) so executor-side work (fetch, parse,
  CDC join, image decode) dominates the fixed per-round driver overhead.

Reported numbers:
- ``pages_per_sec`` / ``urls_per_sec`` — whole-run wall-clock throughput.
- ``sustained_pages_per_sec`` — throughput over the listing-stage rounds only
  (dequeues ≥ 100), the steady-state number the two-cluster-size comparison
  uses; the first three rounds (root/districts/regions) are latency-bound
  driver round-trips at ANY cluster size and would otherwise swamp the signal
  at small fixture scale.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

# canonical home is the package (self-contained spark-submit zip); re-exported
# here for existing callers
from pegasus_spark.crawler.fixtures import SCALES


def _fixture_dir(scale: str) -> str:
    """Cache directory of one scale's fixture. Its name carries a digest of
    the scale's parameters and of the generator's source, so a fixture
    written by an older ``crawler/fixtures.py`` is never reused."""
    import hashlib

    from pegasus_spark.crawler import fixtures

    h = hashlib.sha256(json.dumps(SCALES[scale], sort_keys=True).encode())
    with open(fixtures.__file__, "rb") as f:
        h.update(f.read())
    return os.path.join(
        tempfile.gettempdir(), f"pegasus_spark_bench_fx_{scale}_{h.hexdigest()[:12]}"
    )


def build_bench_fixture(spark: SparkSession, scale: str = "small") -> tuple:
    """Generate (or reuse) the bench fixture. A DONE marker makes the cache
    safe across the two scaling-bench processes."""
    from pegasus_spark.crawler.fixtures import HOSTS, ROOT_HOST, make_site_spec, write_fixture

    p = SCALES[scale]
    spec = make_site_spec(
        n_districts=p["n_districts"],
        regions_per_district=p["regions_per_district"],
        pages_per_region_max=p["pages_per_region_max"],
        image_dims=p["image_dims"],
    )
    for h in HOSTS:
        spec.budget[h] = p["budget_hot"] if h == ROOT_HOST else p["budget_cold"]
    fx = _fixture_dir(scale)
    marker = os.path.join(fx, "DONE")
    if not os.path.exists(marker):
        shutil.rmtree(fx, ignore_errors=True)
        os.makedirs(fx, exist_ok=True)
        write_fixture(spark, spec, fx, round_no=1)
        with open(marker, "w") as f:
            f.write("ok")
    return spec, fx


def run_crawl_bench(spark: SparkSession, scale: str | None = None) -> dict:
    from pegasus_spark.crawler.fixtures import budget_df
    from pegasus_spark.crawler.scheduler import CrawlScheduler

    scale = scale or os.environ.get("SPARK_GRAFT_CRAWL_SCALE", "small")
    spec, fx = build_bench_fixture(spark, scale)
    work = tempfile.mkdtemp(prefix="pegasus_crawl_bench_")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sched = CrawlScheduler(
        spark, work,
        page_store_path=f"{fx}/site_pages_r1.parquet",
        image_store_path=f"{fx}/items_r1.parquet",
        budget=budget_df(spark, spec),
        seed_urls=[spec.root_url],
        now_ts=1_700_000_000,
        n_partitions=cpus,
    )
    t0 = time.perf_counter()
    ckpt = sched.store.load_checkpoint() or sched.bootstrap()
    # (dequeued, wall_s, logical_rounds): a micro-batched call fuses several
    # discovery rounds into one commit and reports rounds_run — count LOGICAL
    # rounds, and keep fused batches out of the sustained filter (they are
    # the latency-bound head/tail the sustained metric exists to exclude;
    # the summed batch dequeue could otherwise sneak past the >=100 cut)
    round_walls: list[tuple[int, float, int]] = []
    while True:
        r0 = time.perf_counter()
        ckpt, info = sched.run_round(ckpt)
        dq = info.get("dequeued", 0)
        if dq == 0:
            break
        round_walls.append((dq, time.perf_counter() - r0, info.get("rounds_run", 1)))
        if info.get("drained"):
            break
    wall = time.perf_counter() - t0
    pages = ckpt.counters.get("pages_fetched", 0)
    urls = ckpt.counters.get("urls_enqueued", 0)
    sus_pages = sum(d for d, _, k in round_walls if k == 1 and d >= 100)
    sus_wall = sum(w for d, w, k in round_walls if k == 1 and d >= 100)
    # determinism digests: identical across ANY parallelism level for the
    # same fixture (the §4.3 contract, checked cross-JVM by scaling_bench)
    import hashlib

    log = sched.store.read_appended("fetch_log", ckpt.appended_rounds)
    log_rows = sorted(
        (r["round"], r["seq"], r["url"]) for r in log.select("round", "seq", "url").collect()
    )
    fetch_log_hash = hashlib.sha256(str(log_rows).encode()).hexdigest()[:16]
    frontier = sched.store.read_frontier(ckpt.frontier_version)
    seen_rows = sorted(
        (r["url"], r["state"]) for r in frontier.select("url", "state").collect()
    )
    url_seen_hash = hashlib.sha256(str(seen_rows).encode()).hexdigest()[:16]

    out = {
        "crawl_scale": scale,
        "crawl_rounds": sum(k for _, _, k in round_walls),
        "crawl_pages": pages,
        "crawl_urls_enqueued": urls,
        "crawl_wall_s": round(wall, 2),
        "pages_per_sec": round(pages / wall, 2),
        "urls_per_sec": round(urls / wall, 2),
        "sustained_pages_per_sec": round(sus_pages / sus_wall, 2) if sus_wall else 0.0,
        "fetch_log_hash": fetch_log_hash,
        "url_seen_hash": url_seen_hash,
    }
    shutil.rmtree(work, ignore_errors=True)
    return out


def run_component_bench(spark: SparkSession, n_images: int | None = None, dim: int = 96) -> dict:
    """Disk-free data-plane scaling probe: decode + phash over cached
    in-memory images, noop sink. Isolates the vectorized-UDF compute path
    (the per-page work of a listing round) from the sandbox's single shared
    disk — on a real cluster storage bandwidth scales with executors, local
    disk does not."""
    import pandas as pd

    from pegasus_spark.crawler.codec import decode_image, encode_image, phash64, synth_image

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if n_images is None:
        # large enough that per-stage scheduling overhead is <5% of the
        # 2-core wall — the efficiency number then measures compute scaling
        n_images = int(os.environ.get("SPARK_GRAFT_COMPONENT_IMAGES", "60000"))

    def gen(batches):
        for pdf in batches:
            ids = [f"cb-{i}" for i in pdf["id"]]
            yield pd.DataFrame(
                {"image_id": ids,
                 "bytes": [encode_image(synth_image(i, dim, dim), "jpeg") for i in ids]}
            )

    src = (
        spark.range(n_images).repartition(cpus)
        .mapInPandas(gen, "image_id string, bytes binary")
        .cache()
    )
    src.count()  # materialize — generation excluded from timing

    def feats(batches):
        for pdf in batches:
            hashes = []
            for b in pdf["bytes"]:
                hashes.append(phash64(decode_image(bytes(b))))
            yield pd.DataFrame({"image_id": pdf["image_id"], "phash": hashes})

    # the cached source already has exactly `cpus` evenly-sized partitions
    # (range → repartition above), so the timed stage is NARROW: cache read →
    # pandas UDF → noop. An earlier version repartitioned by image_id here,
    # which shuffled every image's BYTES through the one shared local disk —
    # reintroducing, inside the probe, exactly the resource the probe exists
    # to exclude (and taxing the higher-core side disproportionately).
    t0 = time.perf_counter()
    src.mapInPandas(feats, "image_id string, phash long") \
        .write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    src.unpersist()
    return {
        "component_images": n_images,
        "component_wall_s": round(wall, 2),
        "images_per_sec": round(n_images / wall, 1),
    }


def main() -> None:
    from pegasus_spark.session import get_spark

    spark = get_spark(app_name="pegasus_crawl_bench")
    spark.sparkContext.setLogLevel("ERROR")
    if "--component" in sys.argv:
        print(json.dumps(run_component_bench(spark)))
    else:
        print(json.dumps(run_crawl_bench(spark)))
    spark.stop()


if __name__ == "__main__":
    main()
