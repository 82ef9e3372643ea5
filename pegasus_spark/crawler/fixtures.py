"""Synthetic Lianjia-shaped crawl fixture (seed=42, FIXTURES.md §2).

Replaces live ``sh.lianjia.com`` — the fetch target of
``/root/reference/src/pegasus/rate/rate.go:119-129`` — with a deterministic
page store keyed by canonical URL. Shape mirrors the reference's 5-stage
traversal (``/root/reference/src/pegasus/lianjia/proj.go:48-59``; URL grammar
``links.go:8-25``):

    root → districts → regions (maxpage) → listing pages (cards)

Every page body is JSON (no HTML parser in the container; the reference's
soup.go HTML selects become ``F.from_json`` + column expressions — SURVEY
§2.2 P1/P2). Cards carry the Apartment source attributes of SURVEY §1.2 plus
an ``image_id`` ref into the items (image+caption) store.

Deliberate hazards, each exercising a reference code path:
- an excluded district ``shanghaizhoubian`` (regions.go:53-57, F2);
- duplicate region abbrs across two districts (regions.go:118-124, D1);
- regions with total_page == 0 (apartments.go:92-99, F4);
- ~2% malformed cards (apartments.go:288-295, F5);
- ~1% duplicate aids on later pages — first page wins (apartments.go:234-247, D2);
- non-canonical child URLs (uppercase host, default port, dot-segments,
  fragments) that must collapse under RFC 3986 canonicalization;
- one deliberately hot host (~60% of listing pages) → skew salting path;
- robots-disallowed prefixes that must never be fetched.

Scale knob ``pages_per_region_max`` lets the bench generate 100× the test
volume; structure stays driver-side (tiny), page bodies and images are
generated distributed (mapInPandas) so fixture generation itself scales.
"""

from __future__ import annotations

import json
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pegasus_spark.crawler.codec import encode_image, phash64, synth_image
from pegasus_spark.session import local_df

SEED = 42
HOSTS = ["h0.lianjia.test", "h1.lianjia.test", "h2.lianjia.test", "h3.lianjia.test"]
ROOT_HOST = HOSTS[0]
EXCLUDED_DISTRICT = "shanghaizhoubian"
CARDS_PER_PAGE = 5

# Named fixture-scale presets. Lives here (not in benchmarks/) so the
# spark-submit zip (scripts/make_pyfiles.py packs only pegasus_spark/) is
# self-contained — scripts/run_crawl.py resolves --scale through this table
# on the cluster launch path; benchmarks/crawl_bench.py imports it too.
SCALES = {
    "small": dict(n_districts=8, regions_per_district=6, pages_per_region_max=60,
                  budget_hot=1024, budget_cold=512, image_dims=(32, 48, 64)),
    "large": dict(n_districts=8, regions_per_district=25, pages_per_region_max=100,
                  budget_hot=4096, budget_cold=2048, image_dims=(32, 48, 64)),
    # weak-scaling pair: weak4 is ~4× weak1's workload AND 4× its per-round
    # dequeue budget — the production regime where a 4N cluster crawls 4× the
    # pages per round (round count stays constant). Small images keep the
    # single sandbox disk (the one resource that does NOT scale locally but
    # does on a cluster) out of the critical path.
    "weak1": dict(n_districts=8, regions_per_district=6, pages_per_region_max=100,
                  budget_hot=2048, budget_cold=1024, image_dims=(32, 48, 64)),
    "weak4": dict(n_districts=8, regions_per_district=24, pages_per_region_max=100,
                  budget_hot=8192, budget_cold=4096, image_dims=(32, 48, 64)),
}

PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("kind", StringType()),
        StructField("body", StringType()),
        StructField("total_page", IntegerType()),
    ]
)

ITEM_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
    ]
)


def _h(s: str) -> int:
    """Stable 32-bit hash (NOT Python hash(), which is salted per process)."""
    return zlib.crc32(s.encode()) & 0xFFFFFFFF


def _rng(*parts: object) -> np.random.Generator:
    return np.random.default_rng((SEED << 32) ^ _h("|".join(str(p) for p in parts)))


# ---------------------------------------------------------------------------
# structure (driver-side, tiny)
# ---------------------------------------------------------------------------

@dataclass
class RegionSpec:
    abbr: str
    host: str
    total_page: int
    districts: list[str] = field(default_factory=list)

    @property
    def url(self) -> str:
        return f"https://{self.host}/ershoufang/{self.abbr}/"

    def page_url(self, page: int) -> str:
        return f"https://{self.host}/ershoufang/{self.abbr}/pg{page}co32/"


@dataclass
class SiteSpec:
    districts: list[str]                    # includes EXCLUDED_DISTRICT last
    regions: dict[str, RegionSpec]          # abbr → spec (deduped)
    district_regions: dict[str, list[str]]  # district → region abbrs (with dups)
    robots: dict[str, list[str]]            # host → disallowed path prefixes
    budget: dict[str, int]                  # host → max fetches per round
    blocked_region: str                     # region fully robots-disallowed
    image_dims: tuple[int, ...] = (32, 48, 64)  # bench scales use larger

    @property
    def root_url(self) -> str:
        return f"https://{ROOT_HOST}/ershoufang/"

    def district_url(self, abbr: str) -> str:
        return f"https://{ROOT_HOST}/ershoufang/{abbr}/"


def make_site_spec(
    n_districts: int = 8,
    regions_per_district: int = 5,
    pages_per_region_max: int = 10,
    image_dims: tuple[int, ...] = (32, 48, 64),
) -> SiteSpec:
    districts = [f"dist{i:02d}" for i in range(n_districts)] + [EXCLUDED_DISTRICT]
    n_regions = n_districts * regions_per_district
    rng = _rng("structure", n_districts, regions_per_district, pages_per_region_max)

    regions: dict[str, RegionSpec] = {}
    district_regions: dict[str, list[str]] = {d: [] for d in districts}
    # hot-host skew: 60% of regions on HOSTS[0]
    host_p = [0.6, 0.2, 0.1, 0.1]
    abbrs = [f"r{j:03d}" for j in range(n_regions)]
    zero_page = set(rng.choice(n_regions, size=min(3, n_regions), replace=False).tolist())
    for j, abbr in enumerate(abbrs):
        host = HOSTS[int(rng.choice(len(HOSTS), p=host_p))]
        tp = 0 if j in zero_page else int(rng.integers(2, pages_per_region_max + 1))
        regions[abbr] = RegionSpec(abbr=abbr, host=host, total_page=tp)
        d = districts[j // regions_per_district]
        regions[abbr].districts.append(d)
        district_regions[d].append(abbr)
    # two duplicate regions: also listed under the NEXT district (D1 merge)
    for j in (0, regions_per_district):
        abbr = abbrs[j]
        other = districts[(j // regions_per_district + 1) % n_districts]
        if other not in regions[abbr].districts:
            regions[abbr].districts.append(other)
            district_regions[other].append(abbr)
    # the excluded district lists real regions — none may be crawled through it
    district_regions[EXCLUDED_DISTRICT] = abbrs[:2]

    # robots: one region on a non-hot host fully disallowed + a global /private/
    blocked_region = next(
        (a for a in abbrs if regions[a].host != ROOT_HOST and regions[a].total_page > 0),
        abbrs[-1],
    )
    robots = {h: ["/private/"] for h in HOSTS}
    robots[regions[blocked_region].host] = [
        "/private/",
        f"/ershoufang/{blocked_region}/",
    ]
    budget = {h: (64 if h == ROOT_HOST else 32) for h in HOSTS}
    return SiteSpec(
        districts, regions, district_regions, robots, budget, blocked_region,
        image_dims=tuple(image_dims),
    )


# ---------------------------------------------------------------------------
# card model — pure functions of (abbr, page, pos, round) for CDC determinism
# ---------------------------------------------------------------------------

FLOORS = ["低", "中", "高"]
LIFTS = ["有电梯", "无电梯", ""]


def card_aid(abbr: str, page: int, pos: int) -> str:
    return str(100_000_000 + (_h(f"aid|{abbr}|{page}|{pos}") % 900_000_000))


def image_id_for(abbr: str, page: int, pos: int) -> str:
    return f"img-{abbr}-{page:04d}-{pos:02d}"


def make_card(abbr: str, page: int, pos: int, round_no: int = 1) -> dict:
    """One listing card. Round 2 applies deterministic mutations:
    ~10% price/total change, ~20% meta change (floor/year/withlift),
    ~30% visitcnt change (MUST NOT emit meta-change rows — blacklist at
    /root/reference/src/pegasus/lianjia/updatedb.go:336-338)."""
    rng = _rng("card", abbr, page, pos)
    aid = card_aid(abbr, page, pos)
    price = int(rng.integers(20_000, 120_000))
    size = float(np.round(rng.uniform(30, 200), 1))
    floor = FLOORS[int(rng.integers(0, 3))]
    tfloor = int(rng.integers(6, 34))
    year = int(rng.integers(1990, 2019))
    lift = LIFTS[int(rng.integers(0, 3))]
    subway = bool(rng.random() < 0.4)
    visitcnt = int(rng.integers(0, 500))
    loc_n = int(rng.integers(1, 40))
    location = f"小区 {loc_n}" if rng.random() < 0.3 else f"小区{loc_n}"
    malformed = (_h(f"mal|{aid}") % 100) < 2

    if round_no == 2:
        mrng = _rng("mut", aid)
        if _h(f"mutp|{aid}") % 100 < 10:
            price = int(price * (1 + float(mrng.uniform(-0.15, 0.15))))
        if _h(f"mutm|{aid}") % 100 < 20:
            year = year + 1
            lift = LIFTS[(LIFTS.index(lift) + 1) % 3]
        if _h(f"mutv|{aid}") % 100 < 30:
            visitcnt += int(mrng.integers(1, 50))

    total = int(price * size / 10_000)
    rooms, halls = int(rng.integers(1, 5)), int(rng.integers(0, 3))
    caption = f"{location.replace(' ', '')} {rooms}室{halls}厅 {size}平米"
    return {
        "aid": aid,
        "location": location,
        "price_text": "暂无" if malformed else f"{price:,}元/平米",
        "size_text": f"{size}平米",
        "total_text": f"{total}万",
        "position": f"{floor}楼层(共{tfloor}层){year}年建",
        "lift": lift,
        "tags": "近地铁 随时看房" if subway else "随时看房",
        "visitcnt": visitcnt,
        "image_id": image_id_for(abbr, page, pos),
        "caption": caption,
        # ground-truth ints for the pandas oracle (parsers must not read these)
        "_price": None if malformed else price,
        "_total": total,
        "_size": size,
        "_floor": {"低": "L", "中": "M", "高": "H"}[floor],
        "_tfloor": tfloor,
        "_year": year,
        "_withlift": {"有电梯": "Y", "无电梯": "N", "": "U"}[lift],
        "_subway": 99 if subway else 0,
    }


def cards_for_page(abbr: str, page: int, round_no: int = 1) -> list[dict]:
    """Cards on one listing page. Round 2: ~5% of aids dropped, ~5% new
    appended on the region's last page. ~1% of page>1 slots re-list a page-1
    card (dup-aid path, first-seen-wins)."""
    out = []
    for pos in range(CARDS_PER_PAGE):
        if page > 1 and (_h(f"dup|{abbr}|{page}|{pos}") % 100) < 1:
            out.append(make_card(abbr, 1, pos, round_no))
            continue
        card = make_card(abbr, page, pos, round_no)
        if round_no == 2 and (_h(f"drop|{card['aid']}") % 100) < 5:
            continue
        out.append(card)
    if round_no == 2 and (_h(f"addpg|{abbr}|{page}") % 100) < 25:
        out.append(make_card(abbr, page, 90 + (_h(f"addpos|{abbr}|{page}") % 5), round_no))
    return out


def _noncanonical(url: str, salt: str) -> str:
    """Rewrite a URL into an equivalent non-canonical form (~20% of links)."""
    k = _h(f"nc|{salt}|{url}") % 10
    if k >= 2:
        return url
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    if k == 0:
        return f"HTTPS://{host.upper()}:443/{path}#frag"
    first, tail = path.split("/", 1)
    return f"{scheme}://{host}/{first}/../{first}/{tail}"


# ---------------------------------------------------------------------------
# page store + items generation (Spark-distributed for the big parts)
# ---------------------------------------------------------------------------

def robots_txt_body(prefixes: list[str]) -> str:
    """A real robots.txt payload (User-agent: * with Disallow lines) — the
    fetch layer downloads and parses this per host (north rule: robots.txt
    enforcement inside the fetch batch)."""
    return "User-agent: *\n" + "\n".join(f"Disallow: {p}" for p in prefixes) + "\n"


def _structure_pages(spec: SiteSpec) -> list[tuple]:
    rows: list[tuple] = []
    for h in HOSTS:
        rows.append(
            (f"https://{h}/robots.txt", h, "robots",
             robots_txt_body(spec.robots.get(h, [])), 0)
        )
    root_children = [_noncanonical(spec.district_url(d), "root") for d in spec.districts]
    root_children.append(f"https://{ROOT_HOST}/private/stats/")  # robots trap
    rows.append(
        (spec.root_url, ROOT_HOST, "root",
         json.dumps({"kind": "root", "children": root_children}), 0)
    )
    for d in spec.districts:
        children = [
            _noncanonical(spec.regions[a].url, f"dist|{d}") for a in spec.district_regions[d]
        ]
        rows.append(
            (spec.district_url(d), ROOT_HOST, "district",
             json.dumps({"kind": "district", "children": children}), 0)
        )
    for r in spec.regions.values():
        body = json.dumps({"kind": "region", "page_data": f'{{"totalPage":{r.total_page}}}'})
        rows.append((r.url, r.host, "region", body, r.total_page))
    return rows


def gen_pages_df(spark: SparkSession, spec: SiteSpec, round_no: int = 1) -> DataFrame:
    """The full page store for one crawl round, listing-page bodies built
    distributed (one task per slice of (region, page) pairs)."""
    struct_df = local_df(spark, _structure_pages(spec), PAGE_SCHEMA)

    pairs = [
        (r.abbr, r.host, p)
        for r in spec.regions.values()
        for p in range(1, r.total_page + 1)
    ]
    if not pairs:
        return struct_df
    pair_df = local_df(spark, pairs, "abbr string, host string, page int")

    def build(batches):
        for pdf in batches:
            urls, hosts, bodies = [], [], []
            for abbr, host, page in zip(pdf["abbr"], pdf["host"], pdf["page"]):
                cards = cards_for_page(abbr, int(page), round_no)
                public = [
                    {k: v for k, v in c.items() if not k.startswith("_")} for c in cards
                ]
                urls.append(f"https://{host}/ershoufang/{abbr}/pg{page}co32/")
                hosts.append(host)
                bodies.append(json.dumps({"kind": "listing_page", "cards": public}))
            yield pd.DataFrame(
                {"url": urls, "host": hosts, "kind": "listing_page",
                 "body": bodies, "total_page": 0}
            )

    n_parts = max(1, len(pairs) // 64)
    listing_df = pair_df.repartition(n_parts).mapInPandas(build, PAGE_SCHEMA)
    return struct_df.unionByName(listing_df)


def gen_items_df(spark: SparkSession, spec: SiteSpec, round_no: int = 1) -> DataFrame:
    """The image store (FIXTURES.md §1): one row per image_id appearing on any
    listing page, with deterministic pixels encoded png/jpeg ≈ 50/50."""
    metas: list[tuple[str, str]] = []
    seen: set[str] = set()
    for r in spec.regions.values():
        for p in range(1, r.total_page + 1):
            for c in cards_for_page(r.abbr, p, round_no):
                if c["image_id"] not in seen:
                    seen.add(c["image_id"])
                    metas.append((c["image_id"], c["caption"]))
    meta_df = local_df(spark, metas, "image_id string, caption string")

    dims = list(spec.image_dims)

    def build(batches):
        for pdf in batches:
            rows = []
            for image_id, caption in zip(pdf["image_id"], pdf["caption"]):
                hh = dims[_h(f"h|{image_id}") % len(dims)]
                ww = dims[_h(f"w|{image_id}") % len(dims)]
                fmt = "png" if _h(f"fmt|{image_id}") % 2 == 0 else "jpeg"
                arr = synth_image(image_id, hh, ww)
                rows.append(
                    (image_id, encode_image(arr, fmt), ww, hh, fmt, caption, phash64(arr))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in ITEM_SCHEMA.fields])

    n_parts = max(1, len(metas) // 256)
    return meta_df.repartition(n_parts).mapInPandas(build, ITEM_SCHEMA)


def budget_df(spark: SparkSession, spec: SiteSpec) -> DataFrame:
    """politeness_budget table (FIXTURES.md §5)."""
    schema = StructType(
        [
            StructField("host", StringType()),
            StructField("max_per_round", IntegerType()),
            StructField("min_interval_ms", IntegerType()),
            StructField("robots_disallow", ArrayType(StringType())),
        ]
    )
    rows = [(h, spec.budget[h], 10, spec.robots[h]) for h in HOSTS]
    return local_df(spark, rows, schema)


def write_fixture(spark: SparkSession, spec: SiteSpec, out_dir: str, round_no: int = 1) -> None:
    gen_pages_df(spark, spec, round_no).write.mode("overwrite").parquet(
        f"{out_dir}/site_pages_r{round_no}.parquet"
    )
    gen_items_df(spark, spec, round_no).write.mode("overwrite").parquet(
        f"{out_dir}/items_r{round_no}.parquet"
    )
    budget_df(spark, spec).write.mode("overwrite").parquet(f"{out_dir}/politeness_budget.parquet")
