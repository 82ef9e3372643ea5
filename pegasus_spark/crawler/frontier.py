"""Frontier table: priority dequeue, dedup-guarded enqueue, versioned store.

Schema (FIXTURES.md §3): ``(url, url_hash, url_hash64, host, kind, priority,
page, depth, region, state, discovered_round)`` — the generalization of the
reference's per-stage input lists (districts/regions/pages flowing through
master RAM, /root/reference/src/pegasus/master/masterjob.go:487-506) into one
partitioned table.

Dequeue = the north rule's "window-ranked top-K per host-partition": the
politeness budget is enforced HERE, pre-dispatch, so no executor can exceed
it (reference analog: one-task-per-free-worker dispatch + MaxPage-desc
priority sort, /root/reference/src/pegasus/master/wmgr.go:254-274,
lianjia/region_maxpage.go:97-111).

Enqueue = canonicalize → hash → two-tier dedup: bloom-negative rows are
definitely new (no join at all); bloom-positive rows resolve through the
exact ``left_anti`` against the frontier — the canonical URL string is the
equality authority, so bloom FPs cost a probe, never a lost URL. Writes are
salted-repartitioned on (host, salt) to break hot-host file skew.

Persistence is a versioned-parquet stand-in for Iceberg snapshots (no
Iceberg runtime jar in the sandbox): writes are INCREMENTAL at partition
granularity — the frontier is bucketed by ``crc32(host) % n_buckets`` (the
north rule's "partitioned by hash(host)") and each round rewrites ONLY the
dirty buckets (buckets containing this round's dequeued hosts or newly
discovered URLs); a per-version ``parts.json`` manifest maps every bucket to
the version directory that owns its current rows, exactly like Iceberg's
snapshot → manifest → data-file indirection where a ``MERGE INTO`` commits
new files only for touched partitions. Apartments use the same scheme keyed
by region. Per-round IO is therefore O(dirty partitions + new rows), not
O(table) — the property that keeps a 10^10-URL frontier writable at a
per-round cadence. Resume = time-travel to the checkpoint's version ids.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field, fields as dc_fields

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pegasus_spark.crawler.bloom import SHARD_SCHEMA, BloomShards
from pegasus_spark.crawler.cdc import APARTMENTS_DDL
from pegasus_spark.crawler.urlnorm import host_of, with_url_columns
from pegasus_spark.operators import ordered_prefix
from pegasus_spark.session import local_df

FRONTIER_DDL = (
    "url string, url_hash int, url_hash64 bigint, host string, kind string, "
    "priority int, page int, depth int, region string, state string, "
    "discovered_round int, retry_cnt int"
)
LINEAGE_DDL = "host string, state string, url_cnt bigint"

N_SALTS = 8  # hot-host write-skew breaker
N_FRONTIER_BUCKETS = 32  # hash(host) partition count (thousands at 10^10 scale)


def host_bucket(n_buckets: int = N_FRONTIER_BUCKETS, host_col: str = "host"):
    """Frontier partition key: crc32(host) % n_buckets. crc32 is the standard
    zlib polynomial on both Spark and Python, so the driver can compute the
    same bucket for lineage bookkeeping without a Spark job."""
    return F.pmod(F.crc32(F.col(host_col).cast("binary")), F.lit(n_buckets)).cast("int")


def host_bucket_py(host: str, n_buckets: int = N_FRONTIER_BUCKETS) -> int:
    import zlib

    return zlib.crc32(host.encode("utf-8")) % n_buckets


# ---------------------------------------------------------------------------
# dequeue
# ---------------------------------------------------------------------------

def dequeue(frontier: DataFrame, budget: DataFrame) -> DataFrame:
    """Top-K pending per host under the politeness budget, in the canonical
    order (priority desc, region, page, url — SURVEY §4.3). ``budget`` is the
    politeness table (host, max_per_round, …), always broadcast (it is
    host-cardinality small).

    The batch CARRIES its politeness config: ``min_interval_ms`` and
    ``robots_disallow`` ride the dequeued rows (one broadcast join, already
    paid here for max_per_round), so the fetch stage needs no O(hosts)
    driver-side map in its closure — the config path that survives millions
    of hosts."""
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"),
        F.asc(F.coalesce("region", F.lit(""))),
        F.asc("page"),
        F.asc("url"),
    )
    return (
        frontier.filter(F.col("state") == "pending")
        .join(
            F.broadcast(
                budget.select("host", "max_per_round", "min_interval_ms", "robots_disallow")
            ),
            "host",
            "left",
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.coalesce("max_per_round", F.lit(32)))
        .drop("_rk", "max_per_round")
    )


def with_dequeue_seq(
    dequeued: DataFrame, round_no: int, n_rows: int | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Global canonical sequence over this round's batch — the golden crawl
    ordering (parallelism-independent by construction; §4.3 contract).

    seq is the row number in (priority DESC, region, page, url) order,
    through ``operators.ordered_prefix``: the order ends in the unique url,
    so every seq is the same on both of its physical forms. A round of
    10^3-10^4 rows (``n_rows``, which the scheduler always passes) is one
    cheap global-window task; a larger or unsized batch sequences at full
    parallelism with no single-partition exchange.

    seq is BIGINT on both forms (a round can exceed 2^31 rows at the
    10^10-URL design point, and a single type keeps multi-round fetch_log
    parquet reads schema-stable across the size switch)."""
    keys = [
        F.desc("priority"),
        F.asc(F.coalesce("region", F.lit(""))),
        F.asc("page"),
        F.asc("url"),
    ]
    return ordered_prefix(
        dequeued, keys, "seq", n_rows=n_rows, n_partitions=n_partitions
    ).withColumn("round", F.lit(round_no))


# ---------------------------------------------------------------------------
# enqueue
# ---------------------------------------------------------------------------

def _robots_state(budget: DataFrame):
    """state column: robots_blocked iff any disallowed prefix matches the
    URL path — evaluated as a Catalyst lambda over the broadcast budget row,
    no UDF."""
    return F.when(
        F.exists(
            F.coalesce("robots_disallow", F.array().cast("array<string>")),
            lambda p: F.startswith(F.parse_url("url", F.lit("PATH")), p),
        ),
        F.lit("robots_blocked"),
    ).otherwise(F.lit("pending"))


def prepare_candidates(discoveries: DataFrame, budget: DataFrame, round_no: int) -> DataFrame:
    """Raw discovered links → frontier-shaped candidate rows: canonicalize,
    hash, within-batch dedup (highest priority wins, deterministic), robots
    marking."""
    cand = with_url_columns(discoveries).withColumn("host", host_of())
    w = Window.partitionBy("url").orderBy(
        F.desc("priority"), F.asc(F.coalesce("region", F.lit("")))
    )
    cand = cand.withColumn("_rk", F.row_number().over(w)).filter("_rk = 1").drop("_rk")
    cand = cand.join(F.broadcast(budget.select("host", "robots_disallow")), "host", "left")
    return cand.select(
        "url", "url_hash", "url_hash64", "host", "kind", "priority", "page",
        "depth", "region",
        _robots_state(budget).alias("state"),
        F.lit(round_no).alias("discovered_round"),
        F.lit(0).alias("retry_cnt"),
    )


def filter_unseen(
    spark: SparkSession,
    candidates: DataFrame,
    frontier: DataFrame,
    bloom: BloomShards,
    bloom_shards=None,
    bloom_arrays=None,
    bloom_shards_partitioned=None,
) -> DataFrame:
    """Two-tier URL-seen prune. Bloom-negative → new with zero join work;
    bloom-positive → exact left_anti on the canonical URL. Pass
    ``bloom_arrays`` (driver-held dict) to skip the shard merge job, or
    ``bloom_shards_partitioned`` (shard-row DataFrame) for the 10^10-key path
    where the filter no longer fits a broadcast: probes cogroup with their
    shard's bitset, so membership shuffles only (hash, shard) pairs and each
    task holds exactly one shard."""
    if bloom_shards_partitioned is not None:
        checked = bloom.check_partitioned(candidates, bloom_shards_partitioned)
    elif bloom_arrays is not None:
        checked = bloom.check_with_dict(spark, candidates, bloom_arrays)
    elif bloom_shards is not None:
        checked = bloom.check_broadcast(spark, candidates, bloom_shards)
    else:
        return candidates.join(frontier.select("url"), "url", "left_anti")
    fresh = checked.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspect = (
        checked.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(frontier.select("url"), "url", "left_anti")
    )
    return fresh.unionByName(suspect)


def salted(df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """Salted repartition on (host, salt): a hot host's rows spread over
    N_SALTS hash keys instead of one (north-rule skew handling). Partition
    count stays with AQE unless the caller pins it — the salt column is what
    breaks the skew, not the count."""
    out = df.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(N_SALTS)))
    if n_partitions:
        out = out.repartition(n_partitions, F.col("host"), F.col("_salt"))
    else:
        out = out.repartition(F.col("host"), F.col("_salt"))
    return out.drop("_salt")


# ---------------------------------------------------------------------------
# versioned store + checkpoint manifest
# ---------------------------------------------------------------------------

@dataclass
class Checkpoint:
    round: int = 0
    frontier_version: int = -1
    apartments_version: int = -1
    bloom_versions: list[int] = field(default_factory=list)
    appended_rounds: list[int] = field(default_factory=list)
    # per-PARTITION lineage: bucket(str) → {pending, fetched, failed,
    # robots_blocked} counters — O(n_buckets) entries, so the checkpoint
    # stays small at any host cardinality. The HOST-level breakdown is a
    # store table (`lineage`, dirty-bucket incremental commits keyed by
    # lineage_version) — at 10^6+ hosts a host map here would make the
    # manifest write and the per-round collect a driver bottleneck.
    bucket_lineage: dict = field(default_factory=dict)
    lineage_version: int = -1
    counters: dict = field(default_factory=dict)
    finished: bool = False


class FrontierStore:
    """Versioned parquet layout under ``workdir`` (Iceberg snapshot stand-in).

    Atomicity contract: a round is visible iff the manifest names its
    versions — data writes happen first, the manifest rename is the commit
    point (same ordering Iceberg gives via snapshot swap)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    # paths ------------------------------------------------------------------
    def _p(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    @property
    def manifest_path(self) -> str:
        return self._p("checkpoint.json")

    # manifest ---------------------------------------------------------------
    def load_checkpoint(self) -> Checkpoint | None:
        if not os.path.exists(self.manifest_path):
            return None
        with open(self.manifest_path) as f:
            raw = json.load(f)
        # forward-compatible load: manifests written by earlier layouts may
        # carry retired keys (e.g. the round-2 host-level partition_lineage);
        # unknown keys are dropped so the dataclass defaults apply —
        # lineage_version stays -1 and the scheduler/status legacy fallbacks
        # take over (scheduler.run upgrades the store on next resume).
        known = {f.name for f in dc_fields(Checkpoint)}
        return Checkpoint(**{k: v for k, v in raw.items() if k in known})

    def write_checkpoint(self, ckpt: Checkpoint) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(ckpt), f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic commit point

    # partition manifests ------------------------------------------------------
    # Reads pass the schema the store wrote (columns in written order), so
    # building a read does not run Spark's one-task footer job to infer it.
    # Tables without an entry (clusters, legacy flat snapshots) still infer.
    _SCHEMAS = {
        "frontier": FRONTIER_DDL,
        "lineage": LINEAGE_DDL,
        "apartments": APARTMENTS_DDL,
    }

    # Each version dir holds data for its DIRTY partitions only plus a
    # parts.json mapping every live partition -> the version that owns its
    # current rows (Iceberg manifest-list stand-in). Readers union the
    # referenced paths; clean partitions are never rewritten.

    def _parts_path(self, table: str, version: int) -> str:
        return self._p(table, f"v{version}", "parts.json")

    def _load_parts(self, table: str, version: int) -> dict[str, int] | None:
        p = self._parts_path(table, version)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _write_parts(self, table: str, version: int, parts: dict[str, int]) -> None:
        tmp = self._parts_path(table, version) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(parts, f, sort_keys=True)
        os.replace(tmp, self._parts_path(table, version))

    def _read_parts(self, table: str, parts: dict[str, int], keys=None) -> DataFrame:
        sel = parts if keys is None else {k: parts[k] for k in map(str, keys) if k in parts}
        paths = [self._p(table, f"v{v}", "data", f"pk={k}") for k, v in sorted(sel.items())]
        if not paths:
            raise FileNotFoundError(f"{table}: no partitions for {keys}")
        reader = self.spark.read
        if table in self._SCHEMAS:
            reader = reader.schema(self._SCHEMAS[table])
        return reader.parquet(*paths)

    def _write_partitioned(
        self, table: str, df: DataFrame, version: int, key_col, n_partitions: int | None
    ) -> list[str]:
        """Write df's rows under v{version}/data/pk=<key>/ and return the keys
        written. The pk partition column is a duplicate of the key expression
        so the data files keep their original schema."""
        out = df.withColumn("pk", key_col).withColumn(
            "_salt", F.pmod(F.coalesce(F.col("url_hash"), F.lit(0)), F.lit(N_SALTS))
            if "url_hash" in df.columns
            else F.lit(0)
        )
        n = n_partitions or out.sparkSession.sparkContext.defaultParallelism
        out = out.repartition(n, "pk", "_salt").drop("_salt")
        out.write.mode("overwrite").partitionBy("pk").parquet(
            self._p(table, f"v{version}", "data")
        )
        dd = self._p(table, f"v{version}", "data")
        return sorted(
            d.split("=", 1)[1] for d in os.listdir(dd) if d.startswith("pk=")
        )

    # frontier snapshots -----------------------------------------------------
    def write_frontier(self, df: DataFrame, version: int, n_partitions: int | None = None) -> None:
        """Full rewrite (bootstrap / re-seed): every bucket is dirty."""
        written = self._write_partitioned(
            "frontier", df, version, host_bucket(), n_partitions
        )
        self._write_parts("frontier", version, {k: version for k in written})

    def write_frontier_delta(
        self,
        df: DataFrame,
        version: int,
        prev_version: int,
        n_partitions: int | None = None,
    ) -> None:
        """Incremental commit: ``df`` carries the complete new contents of the
        dirty buckets (and nothing else); clean buckets inherit the previous
        manifest's version pointers. This is the Iceberg ``MERGE INTO``
        shape — per-round write IO is O(dirty buckets)."""
        prev = self._load_parts("frontier", prev_version) or {}
        written = self._write_partitioned(
            "frontier", df, version, host_bucket(), n_partitions
        )
        parts = dict(prev)
        parts.update({k: version for k in written})
        self._write_parts("frontier", version, parts)

    def read_frontier(self, version: int) -> DataFrame:
        parts = self._load_parts("frontier", version)
        if parts is None:  # legacy flat snapshot
            return self.spark.read.parquet(self._p("frontier", f"v{version}"))
        return self._read_parts("frontier", parts)

    def read_frontier_buckets(self, version: int, buckets) -> DataFrame:
        """Only the named host-buckets' rows — the partition-pruned scan that
        makes the round's state-update join O(dirty buckets)."""
        parts = self._load_parts("frontier", version)
        if parts is None:
            return self.spark.read.parquet(self._p("frontier", f"v{version}"))
        return self._read_parts("frontier", parts, keys=buckets)

    # bloom shard versions ---------------------------------------------------
    def write_bloom(self, shards: DataFrame, version: int) -> None:
        shards.write.mode("overwrite").parquet(self._p("bloom", f"v{version}"))

    def read_bloom(self, versions: list[int]) -> DataFrame | None:
        if not versions:
            return None
        dfs = [
            self.spark.read.schema(SHARD_SCHEMA).parquet(self._p("bloom", f"v{v}"))
            for v in versions
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    # apartments snapshots ---------------------------------------------------
    # Region-partitioned with the same dirty-partition manifest scheme: a
    # listing round that touches one region rewrites one region (the Iceberg
    # MERGE the reference's table-per-region MySQL layout maps to,
    # updatedb.go:238-249).

    def write_apartments(self, df: DataFrame, version: int, n_partitions: int | None = None) -> None:
        written = self._write_partitioned(
            "apartments", df, version, F.col("region"), n_partitions
        )
        self._write_parts("apartments", version, {k: version for k in written})

    def write_apartments_delta(
        self, df: DataFrame, version: int, prev_version: int, n_partitions: int | None = None
    ) -> None:
        """``df`` = complete new contents of the dirty regions only."""
        prev = self._load_parts("apartments", prev_version) or {}
        written = self._write_partitioned(
            "apartments", df, version, F.col("region"), n_partitions
        )
        parts = dict(prev)
        parts.update({k: version for k in written})
        self._write_parts("apartments", version, parts)

    def read_apartments(self, version: int) -> DataFrame:
        parts = self._load_parts("apartments", version)
        if parts is None:  # legacy flat snapshot
            return self.spark.read.parquet(self._p("apartments", f"v{version}"))
        return self._read_parts("apartments", parts)

    def read_apartments_regions(self, version: int, regions) -> DataFrame | None:
        """Partition-pruned read of the named regions (None if none exist yet
        — e.g. every region in the batch is brand new)."""
        parts = self._load_parts("apartments", version)
        if parts is None:
            return self.spark.read.parquet(self._p("apartments", f"v{version}"))
        try:
            return self._read_parts("apartments", parts, keys=regions)
        except FileNotFoundError:
            return None

    # lineage table ----------------------------------------------------------
    # Host-level frontier-state breakdown (host, state, url_cnt), bucketed by
    # crc32(host) % n_buckets with the same dirty-partition manifest scheme
    # as the frontier itself: each round commits only the dirty buckets'
    # rows, clean buckets inherit. Keeps the checkpoint manifest O(buckets)
    # while the full host breakdown stays queryable (status.py reads this).

    def write_lineage(self, df: DataFrame, version: int, n_partitions: int | None = None) -> None:
        written = self._write_partitioned(
            "lineage", df, version, host_bucket(), n_partitions
        )
        self._write_parts("lineage", version, {k: version for k in written})

    def write_lineage_delta(
        self, df: DataFrame, version: int, prev_version: int, n_partitions: int | None = None
    ) -> None:
        """``df`` = complete new lineage rows of the dirty buckets only."""
        prev = self._load_parts("lineage", prev_version) or {}
        written = self._write_partitioned(
            "lineage", df, version, host_bucket(), n_partitions
        )
        parts = dict(prev)
        parts.update({k: version for k in written})
        self._write_parts("lineage", version, parts)

    def read_lineage(self, version: int) -> DataFrame:
        parts = self._load_parts("lineage", version)
        if parts is None:
            return self.spark.read.parquet(self._p("lineage", f"v{version}"))
        return self._read_parts("lineage", parts)

    # curation clusters table --------------------------------------------------
    # Cross-modal near-dup cluster assignment (doc_id, cluster_id), bucketed
    # by crc32(doc_id) % n_buckets like the frontier. Write-ONCE per input
    # snapshot: clusters/meta.json names the committed version plus the input
    # fingerprint (sf_dir + source-parquet mtimes) the build consumed; a
    # reader whose inputs moved treats the table as absent and the next
    # curation run recommits. Data + parts.json land first, the meta.json
    # rename is the commit point (the store's manifest-last discipline) —
    # this is the materialized form of pipeline_queries' in-process cluster
    # memo: build the assignment once, run keepers/curation/audits against
    # the table.

    def _clusters_meta_path(self) -> str:
        return self._p("clusters", "meta.json")

    def load_clusters_meta(self) -> dict | None:
        if not os.path.exists(self._clusters_meta_path()):
            return None
        with open(self._clusters_meta_path()) as f:
            return json.load(f)

    def write_clusters(self, df: DataFrame, meta: dict) -> int:
        """Commit (doc_id, cluster_id) built from the inputs ``meta``
        fingerprints; returns the committed version. The superseded version
        dir is dropped after the commit (write-once table — no reader ever
        resolves more than the meta-named version)."""
        import shutil

        old = self.load_clusters_meta()
        version = (old["version"] + 1) if old else 0
        key = F.pmod(
            F.crc32(F.col("doc_id").cast("string")), F.lit(N_FRONTIER_BUCKETS)
        ).cast("int")
        written = self._write_partitioned("clusters", df, version, key, None)
        self._write_parts("clusters", version, {k: version for k in written})
        tmp = self._clusters_meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, **meta}, f, sort_keys=True)
        os.replace(tmp, self._clusters_meta_path())
        if old is not None:
            shutil.rmtree(self._p("clusters", f"v{old['version']}"), ignore_errors=True)
        return version

    def read_clusters(self) -> tuple[DataFrame, dict] | None:
        """The committed assignment + its meta, or None if never committed.
        Freshness (meta vs current inputs) is the CALLER's check — the store
        only guarantees the rows match the recorded fingerprint."""
        meta = self.load_clusters_meta()
        if meta is None:
            return None
        parts = self._load_parts("clusters", meta["version"])
        if parts is None:
            return None
        return self._read_parts("clusters", parts), meta

    # snapshot lifecycle -----------------------------------------------------
    def snapshot_diff(self, v_old: int, v_new: int) -> DataFrame:
        """Row-level diff between two frontier snapshots — the local
        equivalent of an Iceberg changelog scan (ST4 incremental semantics):
        change_type ∈ {added, state_changed}. Join on the canonical URL
        (the identity column), one shuffle. With manifest-based incremental
        writes, only buckets whose version pointer moved can differ — the
        scan prunes to those (clean buckets share physical files)."""
        po = self._load_parts("frontier", v_old)
        pn = self._load_parts("frontier", v_new)
        if po is not None and pn is not None:
            changed = [k for k, v in pn.items() if po.get(k) != v]
            if not changed:
                return local_df(
                    self.spark, [],
                    "url string, host string, kind string, old_state string, "
                    "state string, change_type string",
                )
            new = self._read_parts("frontier", pn, keys=changed)
            old_keys = [k for k in changed if k in po]
            if old_keys:
                old = self._read_parts("frontier", po, keys=old_keys).select(
                    "url", F.col("state").alias("old_state")
                )
            else:
                old = local_df(self.spark, [], "url string, old_state string")
        else:
            old = self.read_frontier(v_old).select(
                "url", F.col("state").alias("old_state")
            )
            new = self.read_frontier(v_new)
        joined = new.join(old, "url", "left")
        return (
            joined.filter(
                F.col("old_state").isNull() | (F.col("old_state") != F.col("state"))
            )
            .withColumn(
                "change_type",
                F.when(F.col("old_state").isNull(), "added").otherwise("state_changed"),
            )
            .select("url", "host", "kind", "old_state", "state", "change_type")
        )

    def compact(self, keep_last: int = 2) -> list[str]:
        """Drop frontier/bloom versions no checkpoint needs. A version dir is
        LIVE if the current checkpoint's manifest chain references it — with
        incremental writes a clean bucket's data may live many versions back,
        so liveness comes from parts.json, not recency. Returns removed paths.
        (Iceberg equivalent: expire_snapshots.)"""
        import shutil

        ckpt = self.load_checkpoint()
        if ckpt is None:
            return []
        removed: list[str] = []
        keep_f = {ckpt.frontier_version}
        parts = self._load_parts("frontier", ckpt.frontier_version)
        if parts:
            keep_f |= set(parts.values())
        if ckpt.apartments_version >= 0:
            aparts = self._load_parts("apartments", ckpt.apartments_version)
            if aparts:
                keep_a = set(aparts.values()) | {ckpt.apartments_version}
            else:
                keep_a = {ckpt.apartments_version}
        else:
            keep_a = set()
        if ckpt.lineage_version >= 0:
            lparts = self._load_parts("lineage", ckpt.lineage_version)
            keep_l = {ckpt.lineage_version} | (set(lparts.values()) if lparts else set())
        else:
            keep_l = set()
        for table, keep in (("frontier", keep_f), ("apartments", keep_a), ("lineage", keep_l)):
            tdir = self._p(table)
            if not os.path.isdir(tdir):
                continue
            versions = sorted(int(d[1:]) for d in os.listdir(tdir) if d.startswith("v"))
            expirable = versions[:-keep_last] if len(versions) > keep_last else []
            for v in expirable:
                if v not in keep:
                    shutil.rmtree(os.path.join(tdir, f"v{v}"), ignore_errors=True)
                    removed.append(f"{table}/v{v}")
        bdir = self._p("bloom")
        keep_b = set(ckpt.bloom_versions)
        if os.path.isdir(bdir):
            for d in os.listdir(bdir):
                v = int(d[1:])
                # v > ckpt.round is the IN-FLIGHT round's delta: the
                # scheduler writes bloom shards before the round's atomic
                # checkpoint commit, so a concurrent compaction must treat
                # versions above the committed round as live (frontier/
                # apartments get the same protection from keep_last)
                if v not in keep_b and v <= ckpt.round:
                    shutil.rmtree(os.path.join(bdir, d), ignore_errors=True)
                    removed.append(f"bloom/v{v}")
        return removed

    # append-only tables -----------------------------------------------------
    def append(self, name: str, df: DataFrame, round_no: int) -> None:
        df.write.mode("overwrite").parquet(self._p(name, f"r{round_no}"))

    def read_appended(self, name: str, rounds: list[int]) -> DataFrame | None:
        paths = [self._p(name, f"r{r}") for r in rounds if os.path.exists(self._p(name, f"r{r}"))]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)
