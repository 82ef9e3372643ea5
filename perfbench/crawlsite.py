"""The seeded Lianjia-shaped site the crawl workload fetches, and its oracle.

``pegasus_spark.crawler.fixtures`` draws every random choice from its module
constant ``SEED``. The benchmark applies its ``--seed`` by setting that
constant while it builds the site, then restores it. The page and image
stores are built here in the Spark driver from the fixture's own card and page
functions: ``fixtures.write_fixture`` builds page bodies inside Python
workers, which import the module afresh and would see the default seed.

Writing the stores with pyarrow keeps Spark jobs out of the run before the
timed crawl. The oracle below is the expected crawl result derived from the
same card functions, so a crawl of any seed can be checked.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from pegasus_spark.crawler import fixtures as FX
from pegasus_spark.crawler.codec import encode_image, phash64, synth_image

# site sizes; "bench" is what the crawl workload times, "tiny" is for the
# self-test. Budgets are the fixture's defaults (64 per round on the hot
# host, 32 on the others).
SCALES = {
    "bench": dict(n_districts=4, regions_per_district=3, pages_per_region_max=5),
    "tiny": dict(n_districts=2, regions_per_district=2, pages_per_region_max=3),
}


@contextlib.contextmanager
def seeded(seed: int):
    old = FX.SEED
    FX.SEED = seed
    try:
        yield
    finally:
        FX.SEED = old


def make_spec(scale: str, seed: int) -> FX.SiteSpec:
    with seeded(seed):
        return FX.make_site_spec(**SCALES[scale])


def _listing_rows(spec: FX.SiteSpec) -> tuple[list[tuple], list[tuple]]:
    pages, items, seen = [], [], set()
    dims = list(spec.image_dims)
    for r in spec.regions.values():
        for page in range(1, r.total_page + 1):
            cards = FX.cards_for_page(r.abbr, page, 1)
            public = [{k: v for k, v in c.items() if not k.startswith("_")} for c in cards]
            pages.append((r.page_url(page), r.host, "listing_page",
                          json.dumps({"kind": "listing_page", "cards": public}), 0))
            for c in cards:
                iid = c["image_id"]
                if iid in seen:
                    continue
                seen.add(iid)
                hh = dims[FX._h(f"h|{iid}") % len(dims)]
                ww = dims[FX._h(f"w|{iid}") % len(dims)]
                fmt = "png" if FX._h(f"fmt|{iid}") % 2 == 0 else "jpeg"
                arr = synth_image(iid, hh, ww)
                items.append((iid, encode_image(arr, fmt), ww, hh, fmt,
                              c["caption"], phash64(arr)))
    return pages, items


def _write(rows: list[tuple], schema, path: str) -> None:
    names = [f.name for f in schema.fields]
    types = {"string": pa.string(), "integer": pa.int32(), "long": pa.int64(),
             "binary": pa.binary()}
    table = pa.table(
        {n: pa.array([r[i] for r in rows], type=types[f.dataType.typeName()])
         for i, (n, f) in enumerate(zip(names, schema.fields))}
    )
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def build_site(cache_root: str, scale: str, seed: int) -> tuple[FX.SiteSpec, str]:
    """The site for (scale, seed), generated once into ``cache_root`` and
    reused by later runs with the same key."""
    spec = make_spec(scale, seed)
    tag = zlib.crc32(json.dumps(SCALES[scale], sort_keys=True).encode()) & 0xFFFFFF
    out = os.path.join(cache_root, f"site-{scale}-{tag:06x}-seed{seed}")
    if os.path.exists(os.path.join(out, "DONE")):
        return spec, out
    shutil.rmtree(out, ignore_errors=True)
    with seeded(seed):
        pages, items = _listing_rows(spec)
        pages = FX._structure_pages(spec) + pages
    _write(pages, FX.PAGE_SCHEMA, f"{out}/site_pages_r1.parquet")
    _write(items, FX.ITEM_SCHEMA, f"{out}/items_r1.parquet")
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write("ok")
    return spec, out


def expected_urls(spec: FX.SiteSpec) -> set[str]:
    """Every canonical URL the crawl must put in its frontier."""
    urls = {spec.root_url, f"https://{FX.ROOT_HOST}/private/stats/"}
    urls |= {spec.district_url(d) for d in spec.districts if d != FX.EXCLUDED_DISTRICT}
    for r in spec.regions.values():
        urls.add(r.url)
        if r.abbr != spec.blocked_region:
            urls |= {r.page_url(p) for p in range(1, r.total_page + 1)}
    return urls


def expected_apartments(spec: FX.SiteSpec, seed: int) -> set[tuple]:
    """(region, aid, price, total) of every listing the crawl must store:
    malformed cards dropped, the first (page, position) of a duplicate aid
    kept, the robots-blocked region never fetched."""
    out: dict[tuple[str, str], tuple] = {}
    with seeded(seed):
        for abbr, r in spec.regions.items():
            if abbr == spec.blocked_region:
                continue
            for page in range(1, r.total_page + 1):
                for c in FX.cards_for_page(abbr, page, 1):
                    if c["_price"] is not None:
                        out.setdefault((abbr, c["aid"]), (abbr, c["aid"], c["_price"], c["_total"]))
    return set(out.values())
