"""URL-seen membership at frontier scale: sharded Bloom filter + cuckoo fallback.

The reference keeps "seen" sets as in-memory Go maps per region
(/root/reference/src/pegasus/lianjia/apartments.go:234-247 seen-aid dict;
updatedb.go:278-295 aid→row dict). That caps out at one machine's RAM. The
rebuild follows the north rule: a **partitioned bloom filter built as numpy
bitset shards** inside Arrow batches, OR-merged across versions, and used to
prune the frontier enqueue before the exact ``left_anti`` join.

Scale math (documented, sandbox-evidenced at small scale): 10^10 URLs at
target FPR 1% need m ≈ 9.6·n bits ≈ 12 GB total. That cannot be a single
broadcast, so membership testing has two paths:

- ``check_broadcast``   — merged shards broadcast to executors; right for
  ≤ 10^8 keys (≤ ~120 MB). Zero shuffle on the probe side.
- ``check_partitioned`` — probes are repartitioned by shard id and cogrouped
  with the shard rows, so each task holds exactly one shard's bitset. This is
  the 10^10-scale path: shuffle of (hash64, shard) pairs only — the bitsets
  never move through a wide shuffle.

Bit addressing uses double hashing (Kirsch-Mitzenmacher): pos_i =
(h1 + i·h2) mod m with h1/h2 split from the 64-bit xxhash — no per-key
rehashing, fully vectorized in numpy.

False positives cost only a redundant exact-join probe (the canonical URL
string stays the equality authority); false negatives are impossible —
property-tested in tests/test_bloom.py.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pegasus_spark.session import local_df

SHARD_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("version", IntegerType()),
        StructField("bitset", BinaryType()),
    ]
)


def optimal_params(n_per_shard: int, fpr: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) for expected n keys per shard at the target FPR."""
    n = max(1, n_per_shard)
    m = max(64, int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2))))
    m = ((m + 7) // 8) * 8  # byte-align
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _split_hash(h64: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    u = h64.astype(np.uint64)
    h1 = u & np.uint64(0xFFFFFFFF)
    h2 = (u >> np.uint64(32)) | np.uint64(1)  # odd ⇒ full-period stepping
    return h1, h2


def _positions(h64: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(len(h64), k) bit positions."""
    h1, h2 = _split_hash(h64)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bitset: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitset, pos.ravel() >> 3, (1 << (pos.ravel() & 7)).astype(np.uint8))


def _test_bits(bitset: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k bits set (possible member)."""
    byte = bitset[pos >> 3]
    hit = (byte & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=1)


def shard_of(col, n_shards: int):
    """Shard id from the 64-bit hash, as a Catalyst expression."""
    return F.pmod(col, F.lit(n_shards)).cast("int")


class BloomShards:
    """Builder + checker for one logical bloom filter stored as shard rows."""

    def __init__(self, n_shards: int = 32, m_bits: int = 1 << 16, k: int = 7):
        self.n_shards = n_shards
        self.m_bits = m_bits
        self.k = k

    @classmethod
    def sized_for(cls, expected_n: int, n_shards: int = 32, fpr: float = 0.01) -> "BloomShards":
        m, k = optimal_params(max(1, expected_n // n_shards), fpr)
        return cls(n_shards=n_shards, m_bits=m, k=k)

    # -- build ---------------------------------------------------------------

    def build(self, df: DataFrame, hash_col: str = "url_hash64", version: int = 0) -> DataFrame:
        """df[hash_col] (long) → shard rows. One applyInPandas group per
        shard: the bitset is built map-side in one numpy pass."""
        m_bits, k = self.m_bits, self.k

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            bitset = np.zeros(m_bits // 8, dtype=np.uint8)
            h = pdf["h64"].to_numpy(dtype=np.int64)
            if len(h):
                _set_bits(bitset, _positions(h, m_bits, k))
            return pd.DataFrame(
                {"shard": [int(pdf["shard"].iloc[0])], "version": [version],
                 "bitset": [bitset.tobytes()]}
            )

        probes = df.select(F.col(hash_col).alias("h64")).withColumn(
            "shard", shard_of(F.col("h64"), self.n_shards)
        )
        return probes.groupBy("shard").applyInPandas(build_shard, SHARD_SCHEMA)

    @staticmethod
    def merge(shards_df: DataFrame) -> DataFrame:
        """OR-reduce all versions of each shard into version = max(version)."""

        def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = None
            for b in pdf["bitset"]:
                arr = np.frombuffer(b, dtype=np.uint8)
                acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
            return pd.DataFrame(
                {"shard": [int(pdf["shard"].iloc[0])],
                 "version": [int(pdf["version"].max())],
                 "bitset": [acc.tobytes()]}
            )

        return shards_df.groupBy("shard").applyInPandas(or_merge, SHARD_SCHEMA)

    # -- membership ----------------------------------------------------------

    @staticmethod
    def to_dict(shards_df: DataFrame) -> dict[int, np.ndarray]:
        """Collect shard rows into a driver-side {shard: bitset} dict
        (already-merged or single-version rows)."""
        out: dict[int, np.ndarray] = {}
        for r in shards_df.collect():
            arr = np.frombuffer(r["bitset"], dtype=np.uint8)
            if r["shard"] in out:
                out[int(r["shard"])] = np.bitwise_or(out[int(r["shard"])], arr)
            else:
                out[int(r["shard"])] = arr.copy()
        return out

    def check_broadcast(
        self, spark: SparkSession, df: DataFrame, shards_df: DataFrame,
        hash_col: str = "url_hash64", out_col: str = "maybe_seen",
    ) -> DataFrame:
        """Small-filter path: collect merged shards, broadcast, probe in a
        vectorized Arrow batch. Adds boolean ``out_col``."""
        return self.check_with_dict(
            spark, df, self.to_dict(shards_df), hash_col=hash_col, out_col=out_col
        )

    def probe_dict(self, arrays: dict[int, np.ndarray], h64) -> np.ndarray:
        """Driver-side membership probe over the merged shard dict — the
        IDENTICAL math to check_with_dict's executor probe (pmod shard
        assignment, double-hash positions, all-k bit test), for callers whose
        candidate set is already driver-resident: the scheduler's micro-batch
        rounds probe a handful of URLs without paying a Spark job."""
        h = np.asarray(h64, dtype=np.int64)
        out = np.zeros(len(h), dtype=bool)
        sh = (h % self.n_shards + self.n_shards) % self.n_shards
        for s in np.unique(sh):
            bits = arrays.get(int(s))
            idx = np.where(sh == s)[0]
            if bits is not None and len(idx):
                out[idx] = _test_bits(bits, _positions(h[idx], self.m_bits, self.k))
        return out

    def check_with_dict(
        self, spark: SparkSession, df: DataFrame, arrays: dict[int, np.ndarray],
        hash_col: str = "url_hash64", out_col: str = "maybe_seen",
    ) -> DataFrame:
        """Probe against a driver-held {shard: bitset} dict (the scheduler
        keeps one across rounds and ORs new shard versions in incrementally —
        no per-round re-merge job)."""
        bc = spark.sparkContext.broadcast(arrays)
        m_bits, k, n_shards = self.m_bits, self.k, self.n_shards
        cols = df.columns

        def probe(batches):
            shards = bc.value
            for pdf in batches:
                h = pdf[hash_col].to_numpy(dtype=np.int64)
                out = np.zeros(len(h), dtype=bool)
                sh = (h % n_shards + n_shards) % n_shards
                for s in np.unique(sh):
                    bits = shards.get(int(s))
                    idx = np.where(sh == s)[0]
                    if bits is not None and len(idx):
                        out[idx] = _test_bits(bits, _positions(h[idx], m_bits, k))
                pdf = pdf.copy()
                pdf[out_col] = out
                yield pdf

        schema = StructType(df.schema.fields + [StructField(out_col, BooleanType())])
        return df.mapInPandas(probe, schema)

    def check_partitioned(
        self, df: DataFrame, shards_df: DataFrame,
        hash_col: str = "url_hash64", out_col: str = "maybe_seen",
    ) -> DataFrame:
        """10^10-scale path: cogroup probes with their shard's bitset — each
        task sees one shard only; no filter broadcast, no bitset-wide shuffle."""
        m_bits, k = self.m_bits, self.k
        probes = df.withColumn("shard", shard_of(F.col(hash_col), self.n_shards))
        merged = self.merge(shards_df)

        out_fields = StructType(
            [f for f in df.schema.fields] + [StructField(out_col, BooleanType())]
        )

        def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(columns=[f.name for f in out_fields.fields])
            h = left[hash_col].to_numpy(dtype=np.int64)
            if right.empty:
                res = np.zeros(len(h), dtype=bool)
            else:
                bits = np.frombuffer(right["bitset"].iloc[0], dtype=np.uint8)
                res = _test_bits(bits, _positions(h, m_bits, k))
            out = left.drop(columns=["shard"]).copy()
            out[out_col] = res
            return out

        return (
            probes.groupBy("shard")
            .cogroup(merged.groupBy("shard"))
            .applyInPandas(probe, out_fields)
        )


# ---------------------------------------------------------------------------
# Cuckoo filter fallback (deletion support, north_rule)
#
# Distributed form (CuckooShards) mirrors BloomShards: per-shard tables built
# in applyInPandas groups, stored as rows (shard, version, table bytes),
# membership via broadcast. Deletion is what bloom cannot do — e.g. purging
# a host's URL-seen entries after a robots change so they can be re-enqueued.
# ---------------------------------------------------------------------------

class CuckooFilter:
    """Compact numpy cuckoo filter: 4-slot buckets, 16-bit fingerprints.

    Exists for the frontier's *deletion* story (bloom cannot unsee a URL —
    e.g. a purge of a host's entries after a robots change). Driver/
    batch-local structure; the distributed story shards it exactly like
    BloomShards (same shard_of key) — property-tested in tests/test_bloom.py.
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int = 1 << 12, seed: int = 7):
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self._rng = np.random.default_rng(seed)

    def _fp(self, h: int) -> int:
        return (h & 0xFFFF) or 1  # 0 marks an empty slot

    def _b1(self, h: int) -> int:
        return (h >> 16) % self.n_buckets

    def _b2(self, b1: int, fp: int) -> int:
        # partial-key cuckoo: alt bucket from fp hash only, so kicks work
        return (b1 ^ (fp * 0x5BD1E995)) % self.n_buckets

    def insert(self, h: int) -> bool:
        fp = self._fp(h)
        for b in (self._b1(h), self._b2(self._b1(h), fp)):
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        b = self._b1(h) if self._rng.random() < 0.5 else self._b2(self._b1(h), fp)
        for _ in range(self.MAX_KICKS):
            slot = int(self._rng.integers(0, self.SLOTS))
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = self._b2(b, fp)
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        return False  # table full — caller resizes

    def contains(self, h: int) -> bool:
        fp = self._fp(h)
        b1 = self._b1(h)
        return bool((self.table[b1] == fp).any() or (self.table[self._b2(b1, fp)] == fp).any())

    def delete(self, h: int) -> bool:
        fp = self._fp(h)
        b1 = self._b1(h)
        for b in (b1, self._b2(b1, fp)):
            hit = np.where(self.table[b] == fp)[0]
            if len(hit):
                self.table[b, hit[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int, seed: int = 7) -> "CuckooFilter":
        cf = cls(n_buckets=n_buckets, seed=seed)
        cf.table = np.frombuffer(data, dtype=np.uint16).reshape(n_buckets, cls.SLOTS).copy()
        return cf


class CuckooShards:
    """Sharded cuckoo filter over a DataFrame of 64-bit hashes — the
    deletion-capable URL-seen variant. Same shard key as BloomShards
    (``shard_of``), so a deployment can swap filters without repartitioning."""

    def __init__(self, n_shards: int = 16, n_buckets: int = 1 << 12):
        self.n_shards = n_shards
        self.n_buckets = n_buckets

    def _apply(self, df: DataFrame, shards_df: DataFrame | None,
               op: str, hash_col: str, version: int) -> DataFrame:
        """Cogroup new keys with their shard's prior table (the table bytes
        are never replicated per key) and emit the updated shard row. Shards
        untouched by this batch re-emit unchanged, so the output is a
        complete new filter version."""
        n_buckets = self.n_buckets

        def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(right):
                shard = int(right["shard"].iloc[0])
                cf = CuckooFilter.from_bytes(right["bitset"].iloc[0], n_buckets)
            else:
                shard = int(left["shard"].iloc[0])
                cf = CuckooFilter(n_buckets=n_buckets)
            if len(left):
                overflowed = 0
                for h in left["h64"].astype("int64"):
                    if op == "insert":
                        if not cf.insert(int(h)):
                            overflowed += 1
                    else:
                        cf.delete(int(h))
                if overflowed:
                    # a full shard must be DETECTED, not silently lose
                    # membership (a false negative here re-crawls a URL at
                    # best, corrupts the seen-set contract at worst)
                    raise ValueError(
                        f"cuckoo shard {shard} overflow: {overflowed} keys did "
                        f"not fit in {n_buckets} buckets — rebuild the filter "
                        "with more buckets (CuckooShards(n_buckets=...))"
                    )
            return pd.DataFrame(
                {"shard": [shard], "version": [version], "bitset": [cf.to_bytes()]}
            )

        keys = df.select(F.col(hash_col).alias("h64")).withColumn(
            "shard", shard_of(F.col("h64"), self.n_shards)
        )
        if shards_df is None:
            shards_df = local_df(keys.sparkSession, [], SHARD_SCHEMA)
        return (
            keys.groupBy("shard")
            .cogroup(self.latest(shards_df).groupBy("shard"))
            .applyInPandas(run, SHARD_SCHEMA)
        )

    def build(self, df: DataFrame, hash_col: str = "url_hash64", version: int = 0) -> DataFrame:
        return self._apply(df, None, "insert", hash_col, version)

    def insert(self, shards_df: DataFrame, df: DataFrame,
               hash_col: str = "url_hash64", version: int = 1) -> DataFrame:
        """Complete new filter version with df's keys added."""
        return self._apply(df, shards_df, "insert", hash_col, version)

    def delete(self, shards_df: DataFrame, df: DataFrame,
               hash_col: str = "url_hash64", version: int = 1) -> DataFrame:
        """New shard version with df's keys REMOVED — the operation bloom
        fundamentally cannot do."""
        return self._apply(df, shards_df, "delete", hash_col, version)

    @staticmethod
    def latest(shards_df: DataFrame) -> DataFrame:
        """Resolve stacked versions: keep each shard's highest version."""
        from pyspark.sql import Window

        w = Window.partitionBy("shard").orderBy(F.desc("version"))
        return (
            shards_df.withColumn("_rk", F.row_number().over(w))
            .filter("_rk = 1").drop("_rk")
        )

    def check_broadcast(
        self, spark: SparkSession, df: DataFrame, shards_df: DataFrame,
        hash_col: str = "url_hash64", out_col: str = "maybe_seen",
    ) -> DataFrame:
        tables = {
            int(r["shard"]): CuckooFilter.from_bytes(r["bitset"], self.n_buckets)
            for r in self.latest(shards_df).collect()
        }
        bc = spark.sparkContext.broadcast(tables)
        n_shards = self.n_shards
        schema = StructType(df.schema.fields + [StructField(out_col, BooleanType())])

        def probe(batches):
            shards = bc.value
            for pdf in batches:
                h = pdf[hash_col].to_numpy(dtype=np.int64)
                sh = (h % n_shards + n_shards) % n_shards
                out = np.zeros(len(h), dtype=bool)
                for i in range(len(h)):
                    cf = shards.get(int(sh[i]))
                    out[i] = cf.contains(int(h[i])) if cf is not None else False
                pdf = pdf.copy()
                pdf[out_col] = out
                yield pdf

        return df.mapInPandas(probe, schema)
