"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k — the correctness baseline; one broadcast of the
  query vector, narrow map + TakeOrderedAndProject. At 100 TB this is a full
  scan but embarrassingly parallel (no shuffle before the top-k combine).
- sign-LSH bucketed variants — the scale path: a deterministic sign pattern
  over coordinate differences buckets vectors so near-dup search and ANN
  probe only same-bucket rows (equality-join shape, like MinHash bands).
  The sign family (element_at differences) is deliberately SQL-expressible
  so the DuckDB oracle reproduces the buckets bit-for-bit.
- random-hyperplane ANN — numpy pandas-UDF variant with proper Gaussian
  planes (seeded), for recall-tested approximate search where SQL parity
  is not required (property-tested against brute force instead).

Cosine is computed in double precision, element-order-sequential on both
engines, and ROUNDED before any ordering/filtering so cross-engine float
ulps cannot flip comparisons.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from pegasus_spark.operators import bucket_pairs

N_SIGN_BITS = 16


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_pre(a, b):
    """_dot over arrays ALREADY cast to double — same element-sequential
    fold, same values, minus two per-element casts (use when the cast is
    hoisted out of a pair block, _argmax_cell / semantic_dedup)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_cosine_to(df: DataFrame, query_df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Cross-join the (single-row) query vector and add round(cos, 4)."""
    q = query_df.select(F.col(vec_col).alias("_qvec"))
    joined = df.crossJoin(F.broadcast(q))
    cos = _dot(F.col(vec_col), F.col("_qvec")) / (
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
        * F.sqrt(_dot(F.col("_qvec"), F.col("_qvec")))
    )
    return joined.withColumn("cos", F.round(cos, 4)).drop("_qvec")


def cosine_topk(
    df: DataFrame, query_vec_id: int, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine to the query row (excluded from results).
    Deterministic order: (cos desc, vec_id asc)."""
    q = df.filter(F.col(id_col) == query_vec_id)
    return (
        with_cosine_to(df.filter(F.col(id_col) != query_vec_id), q, vec_col)
        .select(id_col, "cos")
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_multi(
    df: DataFrame, query_ids: list[int], k: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Batch brute-force ANN: per-query top-k over a SET of query vectors in
    one pass — the realistic retrieval shape (a query batch, not one probe).
    The query set broadcasts once and every corpus vector scores against all
    of it in the same task (an explicit tiny crossJoin — queries ≪ corpus);
    the per-query rank is a WindowGroupLimit plan, so ≤ k rows per query
    survive map-side before the query_id exchange. At 100 TB the corpus
    side streams through one narrow scoring stage and the shuffle carries
    |queries|·k rows total. Deterministic order: (cos desc, id asc), cosine
    rounded to 4 dp before ranking (the oracle-parity float discipline)."""
    q = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    base = df.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("query_id"))
    cos = _dot(F.col(vec_col), F.col("_qvec")) / (
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
        * F.sqrt(_dot(F.col("_qvec"), F.col("_qvec")))
    )
    scored = base.withColumn("cos", F.round(cos, 4))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", id_col, "knn_rank", "cos")
        .orderBy("query_id", "knn_rank")
    )


def sign_bucket(vec_col: str = "embedding", n_bits: int = N_SIGN_BITS):
    """Deterministic sign-LSH bucket: bit j = 1 iff vec[2j] > vec[2j+1]
    (0-based). Cheap, SQL-expressible (element_at is 1-based in SQL), and
    locality-sensitive for cosine on centered data. Returns a bigint column."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_bits - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, j: acc
        + F.when(
            F.get(F.col(vec_col), (j * 2).cast("int"))
            > F.get(F.col(vec_col), (j * 2 + 1).cast("int")),
            F.pow(F.lit(2), j).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )


def embedding_near_dup_pairs(
    df: DataFrame, tau: float = 0.99,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_bits: int = N_SIGN_BITS,
) -> DataFrame:
    """Embedding-cosine near-dup: sign-LSH bucket equality join → exact
    cosine ≥ tau verify within buckets (``operators.bucket_pairs``, one
    bucket per row). `n_bits` trades candidate recall vs bucket size: fewer
    bits → bigger buckets → more exact-verify work (pick ~log2(n_rows) bits
    so expected bucket occupancy stays O(1) as the table grows)."""
    va, vb = F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")
    cos = _dot(va, vb) / (F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb)))
    return bucket_pairs(
        df, id_col, sign_bucket(vec_col, n_bits), [vec_col],
        F.round(cos, 4).alias("cos"), F.col("cos") >= tau,
    )


# ---------------------------------------------------------------------------
# random-hyperplane ANN (numpy path, recall-tested)
# ---------------------------------------------------------------------------

def hyperplane_buckets(
    df: DataFrame, dim: int, n_planes: int = 12, seed: int = 7,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane signature via a seeded Gaussian plane matrix,
    vectorized numpy matmul per Arrow batch."""
    planes = np.random.default_rng(seed).standard_normal((dim, n_planes))

    def sig(batches):
        for pdf in batches:
            vecs = np.stack(pdf[vec_col].to_numpy())
            bits = (vecs @ planes) > 0
            buckets = (bits * (1 << np.arange(n_planes))).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "bucket": buckets.astype("int64")})

    return df.select(id_col, vec_col).mapInPandas(sig, f"{id_col} long, bucket long")


def ann_topk(
    df: DataFrame, query_vec_id: int, k: int = 10, dim: int = 64,
    n_planes: int = 8, seed: int = 7, probe_hamming: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the query's hyperplane bucket (plus buckets
    within `probe_hamming` bit flips — multi-probe), brute-force only the
    probed rows. Recall is property-tested against cosine_topk.

    Defaults are tuned for the driver's near-orthogonal synthetic embeddings
    (worst case for LSH — top-10 cosines are ~0.45, so neighbors flip ~3.5
    of 8 sign bits; probe radius 4 recovers recall ≈ 0.8 while pruning ~40%
    of candidates). On real clustered embeddings the same machinery prunes
    far harder at radius 1-2; the knobs are per-call."""
    buckets = hyperplane_buckets(df, dim, n_planes, seed, id_col, vec_col)
    qb = buckets.filter(F.col(id_col) == query_vec_id).select(
        F.col("bucket").alias("qbucket")
    )
    cand = (
        buckets.crossJoin(F.broadcast(qb))
        .withColumn("hd", F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))))
        .filter(F.col("hd") <= probe_hamming)
        .select(id_col)
    )
    probed = df.join(cand, id_col, "left_semi")
    return cosine_topk(probed, query_vec_id, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# md5-derived Rademacher hyperplane ANN — deterministic, SQL-expressible
# ---------------------------------------------------------------------------

def md5_plane_signs(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 (Rademacher) hyperplane matrix: sign(d, p) = +1 iff
    the 60-bit integer from md5(f"{d}_{p}") is odd. Sign random projections
    are a standard LSH family for cosine (Achlioptas-style sparse/sign
    projections), and md5-derived parity makes the matrix reproducible by
    the DuckDB oracle (('0x'||substr(md5(d||'_'||p),1,15))::BIGINT % 2) —
    the mergesort md5-RNG discipline applied to ANN."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{d}_{p}".encode()).hexdigest()[:15], 16) % 2 == 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def md5_hyperplane_bucket(vec_col: str, dim: int, n_planes: int):
    """Bucket column: bit p = 1 iff round(vec · plane_p, 4) > 0. The plane
    rows are literal arrays (computed once on the driver — the md5s never
    evaluate per row), the projection is the element-sequential _dot fold
    both engines share, and the 4dp rounding keeps cross-engine float ulps
    from flipping a bit at the hyperplane boundary."""
    signs = md5_plane_signs(dim, n_planes)
    b = F.lit(0).cast("bigint")
    for p in range(n_planes):
        proj = _dot(F.col(vec_col), F.array(*[F.lit(s) for s in signs[p]]))
        b = b + F.when(
            F.round(proj, 4) > 0, F.lit(1 << p).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return b


def ann_topk_md5(
    df: DataFrame, query_vec_id: int, k: int = 10, dim: int = 64,
    n_planes: int = 8, probe_hamming: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with the md5-derived Rademacher planes: bucket every
    vector (narrow projection), multi-probe buckets within ``probe_hamming``
    bit flips of the query's bucket, brute-force cosine only on the probed
    rows. Fully deterministic AND SQL-expressible, so — unlike the
    seeded-Gaussian ``ann_topk`` — the DuckDB oracle runs the same algorithm
    and the driver gate value-hashes it. At scale the bucket column computes
    per-row with zero shuffle; candidate selection is one broadcast of the
    single query bucket. The Gaussian ``ann_topk`` remains the production
    alternative where numpy matmul throughput matters more than parity."""
    b = df.select(id_col, vec_col).withColumn(
        "bucket", md5_hyperplane_bucket(vec_col, dim, n_planes)
    )
    qb = b.filter(F.col(id_col) == query_vec_id).select(
        F.col("bucket").alias("qbucket")
    )
    cand = (
        b.crossJoin(F.broadcast(qb))
        .filter(
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= probe_hamming
        )
        .filter(F.col(id_col) != query_vec_id)
        .select(id_col, vec_col)
    )
    # query vector from the BASE table: a 1-row pushed-filter scan, not a
    # re-derivation of the bucket subtree (the ivf_topk discipline)
    q = df.filter(F.col(id_col) == query_vec_id).select(vec_col)
    return (
        with_cosine_to(cand, q, vec_col)
        .select(id_col, "cos")
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantize to cells, probe nearest cells
# ---------------------------------------------------------------------------

def ivf_assign_cells(
    df: DataFrame, n_cells: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid cell (IVF coarse
    quantization). Centroids are the first ``n_cells`` vectors by id — the
    deterministic stand-in for a k-means codebook (random-sample init IS the
    standard k-means seeding; training iterations would only move the
    centroids, not this assignment machinery), chosen so the DuckDB oracle
    reproduces the cells bit-for-bit.

    Shape: centroids broadcast (n_cells rows) → crossJoin is narrow row
    amplification ×n_cells inside each scan partition → per-vector argmax
    collapses map-side (max_by partial agg), so the only shuffle moves ONE
    row per vector. At 100 TB with a larger codebook (n_cells ~ √n) the same
    plan holds while the codebook fits a broadcast (~10^5 × dim floats);
    beyond that the assignment becomes a pandas-UDF matmul against the
    broadcast codebook — the cell→probe machinery downstream is unchanged.

    Ties: cosine is rounded to 4dp and encoded as the exact integer
    ``round(cos·10⁴)·10⁶ − cid`` so argmax tie-breaks to the LOWEST centroid
    id identically on both engines (float round-then-cast is exact: the
    rounded value is an integer-valued double).

    Returns (id_col, cell) plus pass-through of ``vec_col``."""
    cents = df.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    cos = _dot(F.col(vec_col), F.col("_cvec")) / (
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
        * F.sqrt(_dot(F.col("_cvec"), F.col("_cvec")))
    )
    scored = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "_val",
            F.round(cos * 10000, 0).cast("bigint") * F.lit(1_000_000) - F.col("_cid"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.max_by("_cid", "_val").alias("cell"),
        F.first(vec_col).alias(vec_col),
    )


def ivf_topk(
    df: DataFrame, query_vec_id: int, k: int = 10,
    n_cells: int = 16, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize all vectors to ``n_cells``
    cells, probe the ``nprobe`` cells nearest the query vector, brute-force
    cosine only within the probed cells (the classic inverted-file ANN scale
    path — scan cost drops to ~nprobe/n_cells of the table, and the probed
    subset arrives via a broadcast semi-join on the tiny probe-cell list).

    Fully SQL-expressible (unlike the seeded-Gaussian hyperplane ANN), so
    the DuckDB oracle runs the SAME algorithm and the result is
    deterministic: cell assignment and probe ranking use the 4dp-rounded
    integer encoding from ``ivf_assign_cells``; the final top-k orders by
    (cos desc, id asc). The query's own cell is always its top-1 probe, so
    the query row itself is in the probed set (then excluded from results,
    like cosine_topk)."""
    assigned = ivf_assign_cells(df, n_cells, id_col, vec_col)
    cents = df.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    q = df.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qvec"))
    qcos = _dot(F.col("_qvec"), F.col("_cvec")) / (
        F.sqrt(_dot(F.col("_qvec"), F.col("_qvec")))
        * F.sqrt(_dot(F.col("_cvec"), F.col("_cvec")))
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .withColumn(
            "_val",
            F.round(qcos * 10000, 0).cast("bigint") * F.lit(1_000_000) - F.col("_cid"),
        )
        .orderBy(F.desc("_val"))
        .limit(nprobe)
        .select(F.col("_cid").alias("cell"))
    )
    cand = assigned.join(F.broadcast(probe), "cell", "left_semi").select(id_col)
    probed = df.join(cand, id_col, "left_semi")
    # take the query vector from the BASE table (1-row pushed-filter scan),
    # not from `probed` — cosine_topk(probed, …) would re-derive the whole
    # assignment subtree a second time just to re-find the query row
    return (
        with_cosine_to(probed.filter(F.col(id_col) != query_vec_id), q.select(F.col("_qvec").alias(vec_col)), vec_col)
        .select(id_col, "cos")
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# spherical k-means — iterative clustering with exact cross-engine parity
# ---------------------------------------------------------------------------

def _argmax_cell(base: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Assign each quantized vector to its nearest centroid by cosine:
    broadcast the centroid table, 4dp-rounded integer argmax encoding
    (round(cos·10⁴)·10⁶ − cid — same tie discipline as ivf_assign_cells).

    ``base`` carries (_qd, _qn) and ``cents`` (_cd, _cn) — the double-cast
    arrays and norms hoisted OUT of this n×k pair block. The first form of
    this function recomputed both norms and four array casts per PAIR
    (interpreted higher-order exprs, ~6× the per-pair work): measured
    16.6 s → 4.9 s cold for the k=39 sf0.1 assignment. The float ops are
    bit-identical — the same sqrt(Σx²) just computed once — so the oracle
    math is untouched."""
    cos = _dot_pre(F.col("_qd"), F.col("_cd")) / (F.col("_qn") * F.col("_cn"))
    out = (
        base.crossJoin(F.broadcast(cents))
        .withColumn(
            "_val",
            F.round(cos * 10000, 0).cast("bigint") * F.lit(1_000_000) - F.col("_cid"),
        )
        .groupBy(id_col)
        # ONLY the integer vector rides the n×k aggregate — a first() over
        # the double view doubled the map-side hash-agg buffer width and
        # measurably slowed the whole assignment; the view is recomputed
        # once per SURVIVING row below (n rows, not n×k)
        .agg(F.max_by("_cid", "_val").alias("cell"), F.first("q").alias("q"))
    )
    qd = F.transform(F.col("q"), lambda x: x.cast("double"))
    return out.withColumn("_qd", qd).withColumn(
        "_qn", F.sqrt(_dot_pre(F.col("_qd"), F.col("_qd")))
    )


def spherical_kmeans(
    df: DataFrame, k: int = 8, iters: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (cosine Lloyd's) over an embedding column — the
    topic-bucketing step of a training-data curation pipeline, and the
    codebook trainer IVF ANN consumes. Deterministic and EXACTLY
    reproducible by the SQL oracle, which is what makes an iterative ML
    operator oracle-gateable at all:

    - embeddings quantize once to bigint (floor(x·10⁶)) — every centroid
      update is then an exact INTEGER element-wise sum. Cosine is
      scale-invariant, so the un-normalized sum vector IS the spherical
      centroid (mean direction) and no division ever happens — the one
      step of Lloyd's that would introduce cross-engine float drift is
      eliminated by construction.
    - assignment uses the 4dp-rounded integer argmax encoding (ties to the
      lowest centroid id), and the cosine folds element-sequentially on
      both engines (the proven _dot ≡ list_dot_product pattern).

    Seeds: the vectors with id in [0, k) — raises if any are missing
    (a silent empty centroid table would return an empty result). Vectors
    that quantize to all-zero (every component in [0, 1e-6) — note floor
    sends tiny negatives to −1, which still carries direction) are DROPPED,
    matching the oracle's norm filter: Spark's 0/0 is NULL while DuckDB's
    is NaN, so a zero-norm row must never reach the division on either
    engine. Each iteration = assign (broadcast
    centroids, map-side-combined argmax) + update (posexplode → SUM per
    (cell, position) — map-side combinable — → rebuild array ordered by
    position). A cell that loses all members drops out, identically on
    both engines. Returns the final (id, cell) assignment."""
    return _kmeans_assign(df, k, iters, id_col, vec_col).select(
        id_col, "cell"
    ).orderBy(id_col)


def _kmeans_assign(
    df: DataFrame, k: int, iters: int, id_col: str, vec_col: str
) -> DataFrame:
    """Unordered spherical-k-means core: returns (id, cell, q) — the final
    assignment WITH the quantized vector, no presentation sort — so callers
    that keep computing (semantic_dedup's pair probe) don't embed a total
    sort mid-plan."""
    base, cents = _kmeans_fit(df, k, iters, id_col, vec_col)
    # (id, cell, q, _qd, _qn) — quantized ints for centroid math, the
    # hoisted double view + norm for callers that keep computing cosines
    return _argmax_cell(base, cents, id_col)


def _kmeans_fit(
    df: DataFrame, k: int, iters: int, id_col: str, vec_col: str
):
    """Lloyd's loop shared by `_kmeans_assign` and `kmeans_silhouette`:
    returns (base, cents) — the filtered quantized vectors and the FINAL
    centroid table (with the hoisted double view + norm on both) — so an
    audit can score against the same centroids the assignment used instead
    of replaying the iteration."""
    qd = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    base = (
        df.select(
            id_col,
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * 1_000_000).cast("bigint"),
            ).alias("q"),
        )
        # double view + norm hoisted ONCE per vector — _argmax_cell's n×k
        # pair block reads them instead of recomputing per pair. sqrt(Σx²)>0
        # ⟺ the old Σx²>0 zero-norm filter (sum of squares is never <0).
        .withColumn("_qd", qd(F.col("q")))
        .withColumn("_qn", F.sqrt(_dot_pre(F.col("_qd"), F.col("_qd"))))
        .filter(F.col("_qn") > 0)
    )
    cents = base.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("_cid"),
        F.col("q").alias("_cvec"),
        F.col("_qd").alias("_cd"),
        F.col("_qn").alias("_cn"),
    )
    n_seeds = cents.count()
    if n_seeds != k:
        raise ValueError(
            f"spherical_kmeans seeds are the vectors with {id_col} in [0, {k}); "
            f"found {n_seeds} non-zero-norm seed vectors — pass a table with "
            f"contiguous ids from 0 or lower k"
        )
    for _ in range(iters):
        assign = _argmax_cell(base, cents, id_col)
        cents = (
            assign.select("cell", F.posexplode("q").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda e: e["s"],
                ).alias("_cvec")
            )
            .select(F.col("cell").alias("_cid"), "_cvec")
            # rebuilt centroids get the same hoisted double view + norm —
            # k rows, once per iteration
            .withColumn("_cd", qd(F.col("_cvec")))
            .withColumn("_cn", F.sqrt(_dot_pre(F.col("_cd"), F.col("_cd"))))
        )
    return base, cents


def kmeans_silhouette(
    df: DataFrame, k: int = 8, iters: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Simplified-silhouette audit of the spherical k-means clustering —
    the cluster-quality table (Rousseeuw 1987's silhouette, in the
    centroid-distance simplification every large-scale evaluation uses
    because true silhouette is all-pairs): per cluster, member count, mean
    cosine to the OWN centroid, mean cosine to the best OTHER centroid,
    and the mean silhouette s = (b − a) / max(a, b) with a = cosine
    distance to own centroid, b = distance to the nearest other. A cell
    with mean s near 0 is not a real topic bucket — the table that says
    whether SemDeDup's cells (and IVF's probe lists) can be trusted.

    Exactness discipline: cosines quantize to round(cos·10⁶) BIGINT, so
    a and b are exact integers; each row's silhouette is ONE IEEE division
    floored onto a micro grid (floor((b−a)·10⁶ / max(a,b)) — the quotient
    is the same correctly-rounded double on both engines), and all
    per-cluster means are exact BIGINT sums divided once. The degenerate
    a = b = 0 row (duplicate centroids) scores 0.

    Scale shape: one extra assignment-shaped pass — the n×k broadcast
    pair block with the hoisted double view/norm (same cost class as the
    final Lloyd assignment itself), collapsing map-side to one row per
    vector; the rollup is k rows. No corpus self-join, no new exchange
    beyond the |k|-key aggregate."""
    base, cents = _kmeans_fit(df, k, iters, id_col, vec_col)
    assign = _argmax_cell(base, cents, id_col)
    cos = _dot_pre(F.col("_qd"), F.col("_cd")) / (F.col("_qn") * F.col("_cn"))
    cm = F.round(cos * 1_000_000, 0).cast("bigint")
    per = (
        assign.crossJoin(F.broadcast(cents))
        .withColumn("_cm", cm)
        .groupBy(id_col, "cell")
        .agg(
            F.max(F.when(F.col("_cid") == F.col("cell"), F.col("_cm"))).alias("_own"),
            F.max(F.when(F.col("_cid") != F.col("cell"), F.col("_cm"))).alias("_oth"),
        )
    )
    a = F.lit(1_000_000) - F.col("_own")
    b = F.lit(1_000_000) - F.col("_oth")
    s = F.when(F.greatest(a, b) == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((b - a) * F.lit(1_000_000) / F.greatest(a, b))
    )
    return (
        per.withColumn("_s", s)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_own").alias("_so"),
            F.sum("_oth").alias("_sb"),
            F.sum("_s").alias("_ss"),
        )
        .select(
            "cell",
            "n",
            F.round(F.col("_so") / (F.col("n") * F.lit(1_000_000.0)), 4).alias(
                "mean_cos_own"
            ),
            F.round(F.col("_sb") / (F.col("n") * F.lit(1_000_000.0)), 4).alias(
                "mean_cos_other"
            ),
            F.round(F.col("_ss") / (F.col("n") * F.lit(1_000_000.0)), 4).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("cell")
    )


def quantized_topk(
    df: DataFrame, query_vec_id: int, k: int = 10, levels: int = 127,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine over symmetric per-vector scalar-
    quantized embeddings — the compressed-index retrieval path (Faiss
    SQ8/SQ4; 4-8× less index memory than float32 is what a corpus-scale
    vector store actually serves). Each vector quantizes independently:
    scale = max|x|, q_i = round(levels·x_i / scale) ∈ [−levels, levels]
    (levels=127 ⇒ int8, levels=7 ⇒ int4); cosine is scale-invariant so
    the per-vector scale never needs storing for ranking. Zero vectors
    (scale = 0) are dropped, like the k-means norm filter. Deterministic
    order: (cos desc, id asc), cosine rounded to 4 dp before ranking.

    Exactness: round() on a correctly-rounded product/quotient is
    bit-identical cross-engine (the round(cos·10⁴) precedent); the int8
    dot products are exact integer sums (≤ 127²·dims ≪ 2⁵³) folded
    element-sequentially on both engines.

    Scale shape: identical to `cosine_topk` — the 1-row query broadcasts,
    the corpus streams once through a narrow quantize+score pass, and the
    top-k is a TakeOrderedAndProject; quantization adds two array
    transforms to the scan, no exchange."""
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q8 = F.transform(
        F.col("_xd"),
        lambda x: F.round(x * F.lit(float(levels)) / F.col("_sc"), 0).cast("bigint"),
    )
    quant = (
        df.select(id_col, xd.alias("_xd"))
        .withColumn("_sc", F.array_max(F.transform(F.col("_xd"), F.abs)))
        .filter(F.col("_sc") > 0)
        .select(id_col, q8.alias("_q8"))
        .withColumn("_qd", F.transform(F.col("_q8"), lambda x: x.cast("double")))
        .withColumn("_qn", F.sqrt(_dot_pre(F.col("_qd"), F.col("_qd"))))
        .filter(F.col("_qn") > 0)
    )
    q = quant.filter(F.col(id_col) == query_vec_id).select(
        F.col("_qd").alias("_qvec"), F.col("_qn").alias("_qvn")
    )
    cos = _dot_pre(F.col("_qd"), F.col("_qvec")) / (F.col("_qn") * F.col("_qvn"))
    return (
        quant.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(id_col, F.round(cos, 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup: k-means cells, then within-cell cosine pruning
# ---------------------------------------------------------------------------

def semantic_dedup(
    df: DataFrame, k: int = 8, iters: int = 1, tau_x10k: int = 9500,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): spherical k-means buckets the embedding space, then
    ONLY within-cell pairs are compared — the cluster id is the equality
    join key that replaces the quadratic all-pairs scan, exactly like the
    LSH band / Hamming chunk / sign-bucket keys of the other near-dup
    operators. A vector is dropped when some LOWER-id vector in the same
    cell has cosine ≥ τ (the greedy keep-first variant: within a
    mutually-similar group the paper keeps an arbitrary-but-fixed member,
    and min-id is the deterministic choice both engines reproduce).

    Parity discipline: cosine runs over the SAME floor(x·1e6) bigint
    quantization as the k-means assignment and is compared in the
    round(cos·10⁴) integer domain (``tau_x10k``), so the dup decision is
    integer-exact cross-engine; zero-norm vectors are dropped up front like
    ``spherical_kmeans``.

    Scale shape: the assignment shuffles one row per vector; the pair probe
    is ``operators.bucket_pairs`` keyed on the cell. Within-cell work is
    quadratic in cell size BY DESIGN — SemDeDup scales k with n
    (k ≈ n / target_cell_size, the paper uses ~50k cells for LAION) so
    cells stay O(10³-10⁴) rows and every cell's pair block fits one task.

    Returns (id, cell, is_kept INT 0/1) — survivors carry is_kept=1; the
    curated view is ``filter(is_kept = 1)`` with payloads joined back late.
    """
    # the assignment already hoists the double view (_qd) and norm (_qn)
    # once per vector — inside the pair join both would run per PAIR (the
    # cast is an interpreted array transform, two per candidate pair);
    # measured 11.8 s → norm-hoisted → cast-hoisted at sf0.1
    v = _kmeans_assign(df, k, iters, id_col, vec_col).select(
        id_col, "cell", F.col("_qd").alias("qd"), F.col("_qn").alias("nrm")
    )
    # one assignment subtree feeding three plan arms (both probe sides + the
    # verdict join): pin it so the iterative k-means doesn't recompute 3×
    v = v.localCheckpoint(eager=False)
    cos = _dot_pre(F.col("qd_a"), F.col("qd_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    # the higher id of a pair is the one dropped
    dups = (
        bucket_pairs(
            v, id_col, F.col("cell"), ["qd", "nrm"],
            F.round(cos * 10000, 0).cast("bigint").alias("_c"),
            F.col("_c") >= F.lit(tau_x10k),
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        v.join(dups.withColumn("_dup", F.lit(1)), id_col, "left")
        .select(
            id_col,
            "cell",
            F.when(F.col("_dup").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_kept"),
        )
        .orderBy(id_col)
    )


def embedding_dispersion(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding dispersion: the mean pairwise cosine over all
    i ≠ j pairs in a group, WITHOUT forming pairs.  For unit vectors,
    Σ_{i≠j} u_i·u_j = ‖Σ u_i‖² − Σ ‖u_i‖² (the centroid identity), so the
    O(n²) pairwise mean collapses to one element-wise sum per group — at
    10^10 vectors the naive form is 10^20 cosine evaluations; this is a
    posexplode → (group, pos) partial-aggregated SUM, map-side combinable,
    one exchange of |groups|·dim rows.  It is the knob-setting diagnostic
    for SemDeDup-style pruning (arXiv:2303.09540 picks per-cluster
    thresholds from exactly this cohesion signal).

    Exact oracle parity by the repo's quantize-once discipline
    (spherical_kmeans pattern): raw vectors quantize to bigint
    (floor(x·10⁶)); the quantized norm is a sqrt of an exact integer dot
    (correctly-rounded IEEE, identical on both engines); the NORMALIZED
    components re-quantize to floor(u·10⁴) bigints so every aggregate is
    an exact integer sum — order- and engine-independent.  Zero-norm rows
    drop (0/0 is NULL vs NaN across engines).  Overflow bound: the final
    Σ_pos s² needs dim·(n·10⁴)² < 2⁶³ → exact to n ≈ 1.2·10⁵ rows/group at
    dim 64; past that swap the squared-sum to DOUBLE (the identity itself
    is exact either way; parity is what needs the integer grid).

    Returns (group, n_vecs, mean_pairwise_cos) on the 10⁻⁸ grid implied by
    the 4dp quantization, rounded to 6dp; single-row groups report NULL."""
    base = (
        df.select(
            F.col(group_col).alias("grp"),
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * 1_000_000).cast("bigint"),
            ).alias("q"),
        )
        .withColumn("_qd", F.transform(F.col("q"), lambda x: x.cast("double")))
        .withColumn("_qn", F.sqrt(_dot_pre(F.col("_qd"), F.col("_qd"))))
        .filter(F.col("_qn") > 0)
    )
    # ONE explode chain carries everything: per (grp, pos) the component sum
    # s, the squared-component sum (Σ_pos of it = the self term), and the
    # member count (identical at every pos — max() reads it back).  No
    # second scan of the quantize chain, no join of aggregate arms.
    # Normalization happens AFTER the explode on scalar columns: a
    # transform(λ x/_qn) lambda would get the 64-step norm fold substituted
    # into the per-ELEMENT lambda body, and higher-order functions are
    # evaluated interpretively — measured 3.3 s vs 0.9 s at sf0.1 for the
    # identical values.  Exploded-first, the fold runs once per ROW and the
    # division is plain codegen'd arithmetic.
    stats = (
        base.select("grp", "_qn", F.posexplode("_qd").alias("pos", "xd"))
        .select(
            "grp",
            "pos",
            F.floor(F.col("xd") / F.col("_qn") * 10_000)
            .cast("bigint")
            .alias("x"),
        )
        .groupBy("grp", "pos")
        .agg(
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("sq"),
            F.count(F.lit(1)).alias("c"),
        )
        .groupBy("grp")
        .agg(
            F.sum(F.col("s") * F.col("s")).alias("ss"),
            F.sum("sq").alias("self_sum"),
            F.max("c").alias("n_vecs"),
        )
    )
    return (
        stats.select(
            F.col("grp").alias(group_col),
            "n_vecs",
            F.when(
                F.col("n_vecs") > 1,
                F.round(
                    (F.col("ss") - F.col("self_sum")).cast("double")
                    / (
                        F.col("n_vecs").cast("double")
                        * (F.col("n_vecs") - 1).cast("double")
                        * F.lit(1e8)
                    ),
                    6,
                ),
            ).alias("mean_pairwise_cos"),
        )
        .orderBy(group_col)
    )


def label_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    grid: int = 1000,
) -> DataFrame:
    """Label-noise audit by nearest-class-centroid (the distance side of
    "confident learning", Northcutt et al. arXiv:1911.00068; the standard
    pre-training label-QA sweep over a classification/caption-class corpus):
    for every vector, its exact squared distance to its OWN label centroid
    vs the nearest OTHER label centroid — a row whose nearest centroid is a
    different label is a mislabel candidate.

    Exact cross-engine arithmetic, no float accumulation anywhere:
    - components land on a shifted integer grid q = floor((x + 1)·grid)
      (the +1 shift makes every value non-negative, so truncating integer
      division below IS floor division in both Spark and DuckDB);
    - each label centroid is quantized to the finer grid
      c_j = (grid · Σ q_j) DIV n — one exact integer division;
    - distances are Σ (grid·q_j − c_j)² in BIGINT.  With |q| ≤ 2·grid and
      64 dims this stays < 2^63 for any corpus size (n cancels out of the
      per-row math entirely — only the centroid build sees it).

    Scale shape at 100 TB: one bounded partial-agg (label × dim → sum,
    |labels|·dims groups), a driver collect of |labels| centroid rows
    (class-label cardinality — the k-means-centroid precedent), then a
    ZERO-exchange narrow fold per row against the literal centroid array.
    Ties on distance break toward the smaller label (deterministic, §4.3).

    Returns (id_col, label, nearest_label, d_own, d_nearest, is_outlier)
    where d_* are the exact BIGINT grid distances.
    """
    g = F.lit(grid)
    q = df.select(
        F.col(id_col),
        F.col(label_col).cast("int").alias("_lbl"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor((x.cast("double") + F.lit(1.0)) * g).cast("long"),
        ).alias("_qv"),
    )
    sums = (
        q.select("_lbl", F.posexplode("_qv").alias("dim", "v"))
        .groupBy("_lbl", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cent_rows = (
        sums.select(
            "_lbl", "dim", F.expr(f"({grid} * s) DIV n").alias("c")
        )
        .groupBy("_lbl")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("cs"))
        .collect()  # |labels| rows — bounded by class-label cardinality
    )
    centroids = sorted(
        (r["_lbl"], [s["c"] for s in r["cs"]]) for r in cent_rows
    )
    qg = F.transform(F.col("_qv"), lambda x: x * g)

    def dist_to(cvec):
        return F.aggregate(
            F.zip_with(
                qg,
                F.array(*[F.lit(c).cast("long") for c in cvec]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    dists = F.array(
        *[
            F.struct(dist_to(cvec).alias("d"), F.lit(lbl).cast("int").alias("lbl"))
            for lbl, cvec in centroids
        ]
    )
    # d_own via a lazy CASE chain: higher-order folds run INTERPRETED, and
    # a filter() over `dists` would re-evaluate all |labels| folds a second
    # time — CASE evaluates exactly ONE branch at runtime (A/B-measured
    # ~20% faster at sf0.1; a fully-unrolled scalar form was tried and is
    # WORSE — the projection blows janino's method limit, falls back to
    # interpreted, and recomputes the quantization per label)
    d_own = F.lit(None).cast("long")
    for lbl, cvec in centroids:
        d_own = F.when(F.col("_lbl") == F.lit(lbl), dist_to(cvec)).otherwise(d_own)
    scored = q.select(
        id_col,
        F.col("_lbl").alias(label_col),
        F.array_min(dists).alias("_best"),
        d_own.alias("d_own"),
    )
    return scored.select(
        id_col,
        label_col,
        F.col("_best")["lbl"].alias("nearest_label"),
        "d_own",
        F.col("_best")["d"].alias("d_nearest"),
        (F.col("_best")["lbl"] != F.col(label_col)).alias("is_outlier"),
    )


def knn_predictions(
    df: DataFrame,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out 1-NN label predictions on the deterministic md5 anchor
    sample — the shared prediction stage under :func:`knn_label_probe`
    (per-label agreement), :func:`knn_kappa` (chance-corrected agreement)
    and :func:`knn_class_report` (per-class precision/recall/F1): for each
    sampled anchor, the label of its nearest OTHER vector by cosine.
    Returns (anchor_id, gold_label, pred_label).

    Plan and determinism are knn_label_probe's (see its docstring for the
    measured optimization history): anchors = md5(id) % sample_mod == 0
    with sample_mod scaling as max(8, n // 256); the anchor batch
    BROADCASTS, the corpus streams once through a narrow scoring pass with
    the double view + norm hoisted out of the pair block, and the
    per-anchor argmax plans as WindowGroupLimit — one row per anchor
    survives map-side, so every consumer downstream works on a bounded
    (~256-row) sample at any corpus size. Cosine rounds to 4 dp before
    ranking, ties break on id asc."""
    if sample_mod is None:
        sample_mod = max(8, df.count() // 256)  # parquet count() — metadata-cheap
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("bigint") % sample_mod
    )
    # a single-file embeddings table scans as ONE partition — pin the
    # CPU-bound scoring stage's parallelism explicitly (the simhash/ngram
    # rule) so the anchor × corpus fold spreads across cores
    par = df.sparkSession.sparkContext.defaultParallelism
    corpus = df.repartition(par, id_col).select(
        id_col, label_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_n", F.sqrt(_dot_pre(F.col("_v"), F.col("_v"))))
    q = corpus.filter(bucket == 0).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.col("_v").alias("_qvec"),
        F.col("_n").alias("_qn"),
    )
    base = corpus.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("anchor_id"))
    cos = _dot_pre(F.col("_v"), F.col("_qvec")) / (F.col("_n") * F.col("_qn"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc(F.round(cos, 4)), F.asc(id_col)
    )
    return (
        base.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "anchor_id",
            F.col("anchor_label").alias("gold_label"),
            F.col(label_col).alias("pred_label"),
        )
    )


def knn_label_probe(
    df: DataFrame,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out 1-NN label agreement on a deterministic anchor sample —
    the embedding-space sanity probe a curation pipeline runs BEFORE
    trusting the space for semantic dedup / similarity filtering (the KNN
    eval of the DataComp/SemDeDup toolbox): for each sampled anchor, does
    its nearest OTHER vector carry the same label? Returns the per-label
    agreement table (n_anchors, n_agree, agree_rate).

    Anchors = md5(id) % sample_mod == 0 — the repo's deterministic-sample
    discipline (no RNG; rerun/partitioning/engine invariant), and what
    keeps the probe O(|sample| · corpus) instead of corpus². The default
    sample_mod SCALES with the corpus — max(8, n // 256), the semantic_
    dedup k-scaling rule: a probe needs a few hundred anchors for a stable
    agreement estimate, not a fixed fraction (a 1/8 sample of 10^9 vectors
    would be 10^8 anchors × corpus pairs); the sf0.01 gate sits at the
    floor of 8, matching the oracle's % 8. The plan is cosine_topk_multi's:
    the anchor batch BROADCASTS, the corpus streams once through a narrow
    scoring pass, the per-anchor argmax plans as WindowGroupLimit (one row
    per anchor survives map-side before the anchor exchange), and the
    final aggregate is |labels| rows. Cosine rounds to 4 dp before
    ranking, ties break on id asc (the hard_negatives discipline).

    The double view + norm are hoisted OUT of the pair block (the
    _argmax_cell/semantic_dedup optimization): each side casts and norms
    once per ROW, so the per-pair work is a single dot fold instead of
    three. Identical values: sqrt-before-multiply keeps the IEEE
    expression tree the oracle computes. Measured 11.9 → 1.9 s warm at
    sf0.1 (anchor scaling + hoist + the single-file-scan repartition —
    the last was the dominant term: without it the whole anchor × corpus
    fold ran in ONE task)."""
    nn = knn_predictions(df, sample_mod, id_col, vec_col, label_col)
    return (
        nn.groupBy(F.col("gold_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            F.sum((F.col("pred_label") == F.col("gold_label")).cast("int"))
            .cast("bigint").alias("n_agree"),
        )
        .withColumn("agree_rate", F.round(F.col("n_agree") / F.col("n_anchors"), 4))
        .orderBy("label")
    )


def knn_kappa(
    df: DataFrame,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Cohen's kappa between the 1-NN predicted labels and the gold labels
    on the knn_predictions anchor sample — the chance-corrected form of
    knn_label_probe's agreement rate (Cohen 1960; the standard caveat on
    raw agreement: with |labels| classes a random predictor already agrees
    ~1/|labels| of the time, so po alone overstates embedding-space label
    structure). κ = (po − pe)/(1 − pe) with pe the marginal chance
    agreement Σ_c p_gold(c)·p_pred(c).

    Exact-integer scaffolding (the daily_anomaly discipline): with n
    anchors, A agreements and pe_num = Σ_c g_c·p_c over BIGINT marginal
    counts, κ = (A·n − pe_num)/(n² − pe_num) — every operand is an exact
    BIGINT, so only the final division is float (rounded once to 4 dp).
    The degenerate single-class case (n² = pe_num) returns NULL rather
    than raising.

    Scale shape: the corpus-scale work is knn_predictions' one narrow
    scoring pass; everything here runs on the bounded (~256-row) anchor
    sample — two |labels|-row marginal aggs, one |labels|-row join, a
    1-row cross join. Output is ONE row."""
    p = knn_predictions(df, sample_mod, id_col, vec_col, label_col)
    tot = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.sum((F.col("pred_label") == F.col("gold_label")).cast("int"))
        .cast("bigint").alias("n_agree"),
    )
    g = p.groupBy(F.col("gold_label").alias("cls")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ng")
    )
    r = p.groupBy(F.col("pred_label").alias("cls")).agg(
        F.count(F.lit(1)).cast("bigint").alias("np")
    )
    pe = g.join(r, "cls").agg(
        F.coalesce(F.sum(F.col("ng") * F.col("np")), F.lit(0))
        .cast("bigint").alias("pe_num")
    )
    n, a, pn = F.col("n_anchors"), F.col("n_agree"), F.col("pe_num")
    return tot.crossJoin(pe).select(
        "n_anchors",
        "n_agree",
        F.round(a / n, 4).alias("po"),
        F.round(pn / (n * n), 4).alias("pe"),
        F.when(
            n * n - pn != 0, F.round((a * n - pn) / (n * n - pn), 4)
        ).alias("kappa"),
    )


def knn_class_report(
    df: DataFrame,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-class precision/recall/F1 of the 1-NN label predictions on the
    knn_predictions anchor sample — the sklearn classification_report
    surface for the embedding-space probe (knn_label_probe gives per-GOLD
    recall only; this adds the prediction-side view, so a class the
    space over-predicts shows up as low precision even when its recall
    looks healthy). Classes present in gold OR pred each get a row
    (full outer marginal join, zero-filled).

    Exact counts, one division each: precision = tp/n_pred,
    recall = tp/n_gold, and F1 computed DIRECTLY from counts as
    2·tp/(n_gold + n_pred) — algebraically identical to the harmonic
    mean of p and r but one IEEE division instead of three, so there is
    no compounded-rounding drift to reconcile cross-engine. Zero-count
    denominators yield NULL, not errors.

    Scale shape: bounded like knn_kappa — the corpus-scale work is the
    shared prediction pass; this is three |labels|-row aggs and two
    |labels|-row joins."""
    p = knn_predictions(df, sample_mod, id_col, vec_col, label_col)
    g = p.groupBy(F.col("gold_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gold"),
        F.sum((F.col("pred_label") == F.col("gold_label")).cast("int"))
        .cast("bigint").alias("n_correct"),
    )
    r = p.groupBy(F.col("pred_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred")
    )
    full = g.join(r, "label", "full_outer").select(
        "label",
        F.coalesce("n_gold", F.lit(0)).cast("bigint").alias("n_gold"),
        F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
        F.coalesce("n_correct", F.lit(0)).cast("bigint").alias("n_correct"),
    )
    tp, ng, npr = F.col("n_correct"), F.col("n_gold"), F.col("n_pred")
    return full.select(
        "label",
        "n_gold",
        "n_pred",
        "n_correct",
        F.when(npr > 0, F.round(tp / npr, 4)).alias("precision"),
        F.when(ng > 0, F.round(tp / ng, 4)).alias("recall"),
        F.when(ng + npr > 0, F.round(2 * tp / (ng + npr), 4)).alias("f1"),
    ).orderBy("label")


def hard_negatives(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (Robinson et al.,
    arXiv:2010.04592; the negative-selection pass a CLIP-style run makes
    over its corpus): for each anchor vector, the k most-similar corpus
    vectors carrying a DIFFERENT label — the negatives that dominate the
    InfoNCE gradient.  cosine_topk_multi's plan with the label-inequality
    predicate fused into the scoring stage: the anchor batch broadcasts
    once, the corpus streams through one narrow scoring pass, and the
    per-anchor rank is a WindowGroupLimit — ≤ k rows per anchor survive
    map-side before the anchor-id exchange, so the shuffle carries
    |anchors|·k rows at any corpus size.  Deterministic: cosine rounded to
    4 dp before ranking, ties break on id asc."""
    q = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("_qvec"),
    )
    base = df.crossJoin(F.broadcast(q)).filter(
        F.col(label_col) != F.col("anchor_label")
    )
    cos = _dot(F.col(vec_col), F.col("_qvec")) / (
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
        * F.sqrt(_dot(F.col("_qvec"), F.col("_qvec")))
    )
    scored = base.withColumn("cos", F.round(cos, 4))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select("anchor_id", "anchor_label", id_col, label_col, "neg_rank", "cos")
        .orderBy("anchor_id", "neg_rank")
    )
