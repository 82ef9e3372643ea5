"""Multimodal column processing: images/audio/video as opaque binary columns
with typed metadata, processed in Arrow-batched pandas UDFs.

Container constraint: no PIL/cv2/ffmpeg/torchaudio. Per the build contract,
real codec decode is STUBBED — each `_decode_*` tries the real library first
and otherwise falls back to the deterministic synthetic codec
(pegasus_spark.crawler.codec) for images or raises NotImplementedError for
media the fake codec cannot represent. The SPARK-SIDE PLUMBING IS REAL and
tested: schemas, Arrow batch shapes, mapInPandas signatures, partition
sizing, and the late-payload-join discipline (binary columns enter the plan
only after id-level pruning — SURVEY §7.4).

Operators:
- image_features   — decode → (w, h, mean/std brightness, phash)
- image_thumbnail  — block-mean resize to d×d, re-encoded lossless
- audio_features   — PCM16 stub: duration/rms/peak from a binary blob
- video_frame_sample — frame-sample stub: picks frame offsets from metadata,
  decodes via the image path (a real build swaps in pyav/ffmpeg)

Scale: every operator pins its partition count from the caller-known row
count (AQE's byte-based coalescing under-parallelizes CPU-bound Python —
see crawler.fetch). Feature outputs never carry the input bytes unless the
operator's contract requires it (thumbnail), keeping blobs out of downstream
shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pegasus_spark.crawler.codec import decode_image, encode_image, phash64

try:  # real codec path — absent in this container, exercised where available
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def _decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Real-codec decode when available, deterministic fake otherwise."""
    if _HAVE_PIL and fmt in ("png", "jpeg"):
        import io

        from PIL import Image

        return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
    if data[:4] == b"PSI1":  # synthetic codec magic
        return decode_image(data)
    raise NotImplementedError(
        f"no codec for fmt={fmt!r} in this environment (PIL absent and not PSI1)"
    )


IMAGE_FEATURE_SCHEMA = (
    "image_id string, w int, h int, mean_lum double, std_lum double, phash long"
)


def image_features(df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """(image_id, bytes, fmt) → per-image features. Bytes are consumed here
    and do NOT appear in the output — downstream joins stay narrow."""
    src = df.select("image_id", "bytes", "fmt")
    if n_partitions:
        src = src.repartition(n_partitions, "image_id")

    def run(batches):
        for pdf in batches:
            rows = []
            for image_id, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                arr = _decode_image(bytes(data), fmt)
                lum = arr.astype(np.float64).mean(axis=2)
                rows.append(
                    (image_id, arr.shape[1], arr.shape[0],
                     round(float(lum.mean()), 4), round(float(lum.std()), 4),
                     phash64(arr))
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "w", "h", "mean_lum", "std_lum", "phash"]
            )

    return src.mapInPandas(run, IMAGE_FEATURE_SCHEMA)


def image_thumbnail(df: DataFrame, d: int = 8, n_partitions: int | None = None) -> DataFrame:
    """Block-mean resize to d×d (requires dims divisible by d — true for the
    fixture's 8-multiples), re-encoded lossless."""
    src = df.select("image_id", "bytes", "fmt")
    if n_partitions:
        src = src.repartition(n_partitions, "image_id")

    def run(batches):
        for pdf in batches:
            rows = []
            for image_id, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                arr = _decode_image(bytes(data), fmt)
                h, w, _ = arr.shape
                bh, bw = h // d, w // d
                thumb = (
                    arr[: bh * d, : bw * d]
                    .reshape(d, bh, d, bw, 3)
                    .mean(axis=(1, 3))
                    .astype(np.uint8)
                )
                rows.append((image_id, encode_image(thumb, "png"), d, d))
            yield pd.DataFrame(rows, columns=["image_id", "thumb", "w", "h"])

    return src.mapInPandas(run, "image_id string, thumb binary, w int, h int")


def image_near_dups(
    features: DataFrame, max_hamming: int = 3, chunks: int = 4,
) -> DataFrame:
    """Perceptual image dedup: pairs of images whose 64-bit phash differs by
    ≤ ``max_hamming`` bits — catches the same picture re-encoded (png vs
    jpeg), mildly requantized, or lightly edited, which exact byte dedup
    misses. Runs on the OUTPUT of image_features (or the crawl items table,
    which carries a recomputed phash per fetched payload), so the image
    bytes themselves never enter the pair search.

    Same scale shape as text simhash: pigeonhole chunk equality join via the
    generic hamming_near_dups, exhaustive for max_hamming ≤ chunks − 1.
    Output: (id_a, id_b, hamming), each pair once. Feed the pairs to
    textops.dedup.near_dup_clusters for transitive keeper selection."""
    from pegasus_spark.textops.dedup import hamming_near_dups

    return hamming_near_dups(
        features.select("image_id", "phash"),
        hash_col="phash", max_hamming=max_hamming, chunks=chunks,
        id_col="image_id", n_bits=64,
    )


def image_dedup_keepers(
    features: DataFrame, max_hamming: int = 3, chunks: int = 4,
) -> DataFrame:
    """Image keeper selection — the image-modality parallel of the gated
    ``dedup_keepers`` query: connected components over phash near-dup pairs,
    then keep the HIGHEST-RESOLUTION image per cluster (w·h DESC, image_id
    ASC tie-break — a crawl usually wants the best copy of a duplicated
    picture, where text dedup wants the highest-quality doc). Output marks
    every image with its cluster, the cluster's keeper, and whether it
    survives; filtering ``is_keeper`` yields one image per duplicate group.

    Input is the OUTPUT of image_features (or the crawl items table) — the
    narrow (image_id, phash, w, h) projection is checkpointed once so the
    decode pipeline behind it runs exactly once, and every exchange here
    carries ids + 8-byte hashes + int sizes, never image bytes. The CC and
    window machinery are the same proven pieces as the text pipeline
    (textops.dedup.near_dup_clusters)."""
    import pyspark.sql.functions as F

    from pegasus_spark.textops.dedup import (
        cluster_keepers,
        hamming_near_dups,
        near_dup_clusters,
    )

    feats = features.select("image_id", "phash", "w", "h").localCheckpoint(eager=True)
    pairs = hamming_near_dups(
        feats, hash_col="phash", max_hamming=max_hamming, chunks=chunks,
        id_col="image_id", n_bits=64,
    )
    clusters = near_dup_clusters(feats, pairs, id_col="image_id")
    npix = feats.select("image_id", (F.col("w") * F.col("h")).alias("npix"))
    return cluster_keepers(clusters, npix, id_col="image_id", metric_col="npix")


def image_dup_histogram(
    features: DataFrame, max_hamming: int = 3, chunks: int = 4,
) -> DataFrame:
    """Perceptual-dup yield curve — the image-modality consumer of
    ``textops.dedup.group_size_histogram``: phash near-dup pairs →
    connected components → cluster-size distribution with cumulative corpus
    share.  Answers "how much of the image corpus is re-encodes of a few
    pictures vs a long tail of pairs" before committing a keeper pass
    (image_dedup_keepers).  Runs on image_features output or the crawl
    items table; every exchange carries ids + 8-byte hashes — image bytes
    never move, and the running-sum window sees only the aggregated
    histogram rows."""
    from pegasus_spark.textops.dedup import (
        group_size_histogram,
        hamming_near_dups,
        near_dup_clusters,
    )

    feats = features.select("image_id", "phash").localCheckpoint(eager=True)
    pairs = hamming_near_dups(
        feats, hash_col="phash", max_hamming=max_hamming, chunks=chunks,
        id_col="image_id", n_bits=64,
    )
    clusters = near_dup_clusters(feats, pairs, id_col="image_id")
    return group_size_histogram(clusters, key_col="cluster_id")


def with_image_rules(
    df: DataFrame,
    id_col: str = "image_id",
    min_dim: int = 512,
    max_ar: float = 3.0,
    bpp_lo: float = 0.05,
    bpp_hi: float = 2.0,
    cap_lo: int = 16,
    cap_hi: int = 72,
    lang: str = "en",
) -> DataFrame:
    """LAION/DataComp-style image curation rule filter — the image-modality
    analog of ``textops.text.with_gopher_rules``: each rule is a separate
    boolean column so a pipeline audit can see exactly WHICH rule dropped an
    item, and ``keep`` is their conjunction.  Consumes image METADATA only
    (w, h, n_bytes, caption, lang) — the narrow rows the late-payload-join
    discipline leaves after decode, never the pixels:

    - ``r_dims``: min(w, h) ≥ ``min_dim`` (LAION-2B-en's resolution floor)
    - ``r_ar``: max(w/h, h/w) ≤ ``max_ar`` (extreme panoramas/banners out;
      ratio rounded to 4 dp BEFORE the compare, per the parity rules)
    - ``r_bpp``: bytes-per-pixel in [``bpp_lo``, ``bpp_hi``] (6 dp) —
      too low = blank/solid fill, too high = corrupt or uncompressed
    - ``r_cap``: whitespace caption tokens in [``cap_lo``, ``cap_hi``]
      (CLIP-style text-context budget; empty/boilerplate-short out)
    - ``r_lang``: caption language equals ``lang``

    Scale: pure per-row projections — zero shuffle, fused into the scan;
    at 100 TB this is a mapper, like the Gopher rule filter it mirrors."""
    import pyspark.sql.functions as F

    w, h = F.col("w").cast("double"), F.col("h").cast("double")
    ar = F.round(F.greatest(w / h, h / w), 4)
    bpp = F.round(F.col("n_bytes").cast("double") / (w * h), 6)
    n_cap = F.size(F.split(F.trim(F.col("caption")), r"\s+"))
    r_dims = (F.least(F.col("w"), F.col("h")) >= min_dim)
    r_ar = ar <= max_ar
    r_bpp = (bpp >= bpp_lo) & (bpp <= bpp_hi)
    r_cap = (n_cap >= cap_lo) & (n_cap <= cap_hi)
    r_lang = F.col("lang") == lang
    return df.select(
        id_col, "w", "h", "n_bytes",
        ar.alias("ar"),
        bpp.alias("bpp"),
        n_cap.alias("n_cap_tokens"),
        r_dims.alias("r_dims"),
        r_ar.alias("r_ar"),
        r_bpp.alias("r_bpp"),
        r_cap.alias("r_cap"),
        r_lang.alias("r_lang"),
        (r_dims & r_ar & r_bpp & r_cap & r_lang).alias("keep"),
    )


def image_text_alignment(
    pairs: DataFrame,
    id_col: str = "image_id",
    img_col: str = "img_vec",
    txt_col: str = "txt_vec",
    tau: float = 0.05,
    top_frac: float | None = None,
) -> DataFrame:
    """CLIP-score-style image↔caption alignment filter — the DataComp/LAION
    headline curation rule: score every (image embedding, caption embedding)
    pair by cosine and keep the aligned ones.  Two threshold modes:

    - fixed ``tau`` (default): keep = score ≥ τ.  Fully narrow — the score
      is a per-row double fold and the filter fuses into the scan; at
      100 TB this is a mapper over the pair table, zero exchanges.  This is
      the oracle-gated form (cosine rounded to 4 dp before the compare,
      per the parity discipline).
    - ``top_frac`` (e.g. 0.3 = DataComp-best "keep top 30 % by CLIP
      score"): a first pass computes the (1 − top_frac) approx-percentile
      cutoff (one scalar aggregate — percentile_approx, map-side
      combinable), broadcasts it, and the second pass is the same narrow
      filter.  The cutoff is approximate, so the kept fraction is
      property-tested within tolerance, not oracle-gated — the same
      two-pass discipline as ppl_buckets' production path.

    Embeddings arrive as array columns on the SAME row (the pair table a
    two-tower encoder emits); this operator never joins or shuffles them."""
    import pyspark.sql.functions as F

    from pegasus_spark.textops.similarity import _dot

    img, txt = F.col(img_col), F.col(txt_col)
    cos = _dot(img, txt) / (
        F.sqrt(_dot(img, img)) * F.sqrt(_dot(txt, txt))
    )
    scored = pairs.select(
        id_col, F.round(cos, 4).alias("clip_score")
    )
    if top_frac is not None:
        cut = scored.agg(
            F.percentile_approx("clip_score", 1.0 - top_frac).alias("_cut")
        )
        return (
            scored.crossJoin(F.broadcast(cut))
            .select(
                id_col, "clip_score",
                (F.col("clip_score") >= F.col("_cut")).alias("keep"),
            )
        )
    return scored.select(
        id_col, "clip_score", (F.col("clip_score") >= tau).alias("keep")
    )


def image_decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    max_hamming: int = 2,
    chunks: int = 3,
    id_col: str = "image_id",
    hash_col: str = "phash",
    eval_hash_col: str = "eval_phash",
    n_bits: int = 64,
) -> DataFrame:
    """Eval-set image leakage guard — the image-modality analog of the text
    side's ``decontaminate`` (benchmark 4-gram overlap): flag every corpus
    image whose perceptual hash lies within Hamming ``max_hamming`` of ANY
    eval-set image, so benchmark pictures (and their re-encodes/resizes,
    which exact byte dedup misses) can't leak into a training corpus.

    Same pigeonhole contract as ``hamming_near_dups``: exhaustive iff
    max_hamming ≤ chunks − 1.  The EVAL side is small (a benchmark, not a
    corpus), so its hashes broadcast into the chunk probe (the probe form
    of ``operators.bucket_pairs``, the eval hash standing in as its id),
    and the contaminated-id set joins back as a flag.  Image bytes and
    captions never move."""
    import pyspark.sql.functions as F

    from pegasus_spark.operators import bucket_pairs
    from pegasus_spark.textops.dedup import chunk_keys, hamming

    base = df.select(id_col, hash_col).localCheckpoint(eager=True)
    evals = eval_df.select(
        F.col(eval_hash_col).alias(id_col), F.col(eval_hash_col).alias(hash_col)
    )
    hit_ids = (
        bucket_pairs(
            base, id_col, chunk_keys(hash_col, n_bits, chunks), [hash_col],
            hamming(hash_col), F.col("hamming") <= max_hamming,
            right=F.broadcast(evals),
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    # the flag join-back broadcasts: contamination is bounded by the corpus
    # rows inside the eval set's Hamming balls — eval-benchmark-sized, not
    # corpus-sized — so the corpus never shuffles for the flag
    return base.join(F.broadcast(hit_ids), id_col, "left").select(
        id_col,
        hash_col,
        F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
    )


def pack_image_shards(
    df: DataFrame,
    budget_bytes: int = 1 << 20,
    n_groups: int = 16,
    id_col: str = "image_id",
) -> DataFrame:
    """WebDataset-style shard planning for image+caption items: assign every
    item to a byte-budgeted shard so a training run can stream fixed-size
    tar-like archives. The corpus is first salted into ``n_groups``
    independent packing groups (md5 of the id — images have no natural
    source/dump key the way documents do, and a single global packing order
    would serialize 100 TB through one sorted partition); within a group,
    items in id order fill shards of ~``budget_bytes`` via the exclusive
    prefix sum (the textops.pack_shards discipline — a shard's global key is
    (grp, shard_id)). An oversized item owns its span.

    Bytes NEVER enter the window: the plan projects (id, length(bytes))
    before the exchange, so the sort moves 16-byte rows while the payload
    stays in the scan — the writer later re-joins bytes by id inside each
    shard's task (the late-payload-join rule, SURVEY §7.4).

    Output: (image_id, grp, n_bytes, shard_id). Companion
    ``shard_manifest`` aggregates it into the writer's work list."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    sized = df.select(
        id_col,
        F.length(F.col("bytes")).cast("bigint").alias("n_bytes"),
    ).withColumn(
        "grp",
        (F.conv(F.substring(F.md5(F.col(id_col)), 1, 4), 16, 10).cast("bigint")
         % n_groups),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        sized.withColumn("_prior", F.coalesce(F.sum("n_bytes").over(w), F.lit(0)))
        .select(
            id_col,
            "grp",
            "n_bytes",
            F.floor(F.col("_prior") / F.lit(float(budget_bytes)))
            .cast("bigint").alias("shard_id"),
        )
    )


def shard_manifest(assignment: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Collapse a pack_image_shards assignment into the shard writer's work
    list: one row per (grp, shard_id) with item count, total bytes, and the
    id span — enough for a writer task to re-scan exactly its items (id
    range + semi-join) and emit one archive. Narrow agg over the already
    narrow assignment rows."""
    import pyspark.sql.functions as F

    return assignment.groupBy("grp", "shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min(id_col).alias("first_id"),
        F.max(id_col).alias("last_id"),
    )


def write_image_shards(
    df: DataFrame,
    budget_bytes: int = 1 << 20,
    n_groups: int = 16,
    id_col: str = "image_id",
) -> DataFrame:
    """Materialize WebDataset-style shards: one deterministic uncompressed
    tar per (grp, shard_id), each member pair ``<id>.<fmt>`` (the image
    bytes) + ``<id>.txt`` (the caption) — the layout a webdataset/torchdata
    loader consumes directly. Returns (grp, shard_id, n_items, tar) rows;
    the caller sinks them (parquet binary column here — on a real cluster
    the same rows stream to `.tar` object-store keys).

    Shape: pack_image_shards plans on narrow rows, then the PAYLOAD joins
    back by id and shuffles exactly once, hash-partitioned by its shard key
    into applyInPandas groups — each shard's members land in one task which
    emits one row. Determinism: members are tar'd in id order with zeroed
    mtime/uid/gid, so a shard's bytes are a pure function of its contents
    (re-runs and retries produce byte-identical archives — the crawl
    store's determinism discipline applied to the training artifact)."""
    import io
    import tarfile

    import pyspark.sql.functions as F

    assign = pack_image_shards(df, budget_bytes, n_groups, id_col)
    payload = df.select(id_col, "bytes", "fmt", "caption")
    members = assign.select(id_col, "grp", "shard_id").join(payload, id_col)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for iid, data, fmt, caption in zip(
                pdf[id_col], pdf["bytes"], pdf["fmt"], pdf["caption"]
            ):
                for name, blob in (
                    (f"{iid}.{fmt}", bytes(data)),
                    (f"{iid}.txt", str(caption).encode()),
                ):
                    info = tarfile.TarInfo(name=name)
                    info.size = len(blob)
                    info.mtime = 0
                    tar.addfile(info, io.BytesIO(blob))
        return pd.DataFrame(
            {
                "grp": [int(pdf["grp"].iloc[0])],
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "n_items": [len(pdf)],
                "tar": [buf.getvalue()],
            }
        )

    return members.groupBy("grp", "shard_id").applyInPandas(
        build, "grp long, shard_id long, n_items long, tar binary"
    )


#: the SDXL-style bucket ladder: (w, h) training resolutions whose aspect
#: ratios tile [0.25, 4]. Tiny fixed list — broadcast literal, never a table.
RATIO_BUCKETS = (
    (512, 2048), (512, 1536), (640, 1536), (768, 1344), (832, 1216),
    (896, 1152), (1024, 1024), (1152, 896), (1216, 832), (1344, 768),
    (1536, 640), (1536, 512), (2048, 512),
)


def ratio_buckets(
    df: DataFrame, batch_size: int = 64, id_col: str = "image_id",
    salt_groups: int | None = None,
) -> DataFrame:
    """Aspect-ratio bucketing — the image-side batch planner (the SDXL
    training recipe): every image joins the ladder bucket whose aspect ratio
    is nearest its own (ties to the wider bucket), then images within a
    bucket fill fixed-size training batches in id order. Batching same-ratio
    images together is what lets a trainer crop-resize without distortion.

    Deterministic: nearest-ratio argmin with an explicit wider-bucket
    tie-break; batch numbering is row_number()-1 over id order, so the plan
    is a pure function of the input set.

    Scale shape: the ladder is a 13-element array LITERAL folded into the
    projection (no join, no broadcast table); the only exchange is the
    per-bucket batch window over (id, bucket) rows. The raw window has
    exactly 13 distinct keys — at 100 TB that is 13 tasks each
    row_numbering ~10^9 rows — so ``salt_groups`` is the production path:
    batch_idx is derived within (bucket, md5(id)-salt-group) exactly like
    pack_image_shards, and the global batch key becomes (bucket, grp,
    batch_idx). A trainer needs fixed-size same-ratio batches and a
    deterministic plan, not corpus-contiguous batch numbers, so nothing is
    lost. The unsalted form stays the oracle-gated planner contract."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    ratio = F.col("w").cast("double") / F.col("h")
    # argmin over the fixed ladder via least() on (dist, -bucket_w, …)
    # structs — struct ordering is lexicographic, so the -bucket_w field IS
    # the ties-go-wider rule. (A when()-fold here is a trap: each step nests
    # the previous best THREE times, a 3^13-node expression tree that OOMs
    # the driver at plan build — least() keeps the tree linear in the
    # ladder.)
    # the distance quantizes to 9 dp before the argmin (the round-before-
    # float-order parity rule): dims are ints ≤ 2048, so two genuinely
    # different bucket distances differ by ≥ ~2e-7 — the 9 dp grid can never
    # flip a real winner, only collapse exact midpoint ties, which the
    # wider-bucket tie-break resolves identically on both engines.
    cands = [
        F.struct(
            F.round(F.abs(ratio - F.lit(bw / bh)), 9).alias("d"),
            F.lit(-bw).alias("nw"),
            F.lit(bw).alias("bw"),
            F.lit(bh).alias("bh"),
        )
        for bw, bh in RATIO_BUCKETS
    ]
    best = F.least(*cands)
    sized = df.select(
        id_col, "w", "h",
        best["bw"].alias("bucket_w"), best["bh"].alias("bucket_h"),
    )
    if salt_groups is None:
        w = Window.partitionBy("bucket_w", "bucket_h").orderBy(id_col)
        out = sized
    else:
        out = sized.withColumn(
            "grp",
            (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
             .cast("bigint") % salt_groups),
        )
        w = Window.partitionBy("bucket_w", "bucket_h", "grp").orderBy(id_col)
    # the batch size rides the column metadata so downstream consumers
    # (ratio_bucket_stats) can't silently audit with a different one
    return out.select(
        "*",
        F.floor((F.row_number().over(w) - 1) / F.lit(float(batch_size)))
        .cast("bigint")
        .alias("batch_idx", metadata={"batch_size": batch_size}),
    )


def ratio_bucket_stats(plan: DataFrame, batch_size: int | None = None) -> DataFrame:
    """Batch-fill audit over a ``ratio_buckets`` plan — the training-ops
    diagnostic a bucketing run ships with: per aspect bucket, how many
    images landed there, how many fixed-size batches they fill, and how
    many padding slots the tail batches waste. A skewed ladder (one bucket
    hoarding the corpus while edge ratios strand half-empty batches) shows
    up here before a trainer burns a cluster on it — the utilization
    counterpart of the plan itself.

    Works on both the raw and salted plans: ``batch_idx`` is already
    numbered within (bucket[, grp]), so batches are counted per salt group
    and summed — the per-bucket totals are identical either way, only
    tail-batch padding grows with the group count (each group strands at
    most one partial batch), which is exactly the utilization price the
    salted plan pays and the number this audit exists to surface.

    ``batch_size`` defaults to the one the plan was built with (it rides
    the batch_idx column metadata) — a mismatched override would produce
    silently-wrong (even negative) padding numbers, so an explicit value
    that disagrees with the plan's raises.

    Scale shape: two partial-aggregable groupBys over the plan's narrow
    key columns — no window. The first reduces the corpus to one row per
    batch (ladder × salt-groups × batches — millions at 100 TB, trivially
    shufflable); the second folds those to ladder-sized output."""
    import pyspark.sql.functions as F

    plan_bs = plan.schema["batch_idx"].metadata.get("batch_size")
    if batch_size is None:
        if plan_bs is None:
            raise ValueError(
                "plan carries no batch_size metadata; pass batch_size explicitly"
            )
        batch_size = int(plan_bs)
    elif plan_bs is not None and int(plan_bs) != batch_size:
        raise ValueError(
            f"batch_size={batch_size} disagrees with the plan's {int(plan_bs)}"
        )

    keys = ["bucket_w", "bucket_h"]
    batch_keys = keys + (["grp"] if "grp" in plan.columns else []) + ["batch_idx"]
    per_batch = plan.groupBy(*batch_keys).agg(F.count(F.lit(1)).alias("_n"))
    return (
        per_batch.groupBy(*keys)
        .agg(
            F.sum("_n").cast("bigint").alias("n_images"),
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        )
        .withColumn(
            "pad_rows",
            (F.col("n_batches") * F.lit(batch_size) - F.col("n_images")).cast("bigint"),
        )
        # same round-before-compare discipline as dup_rate_report: the ratio
        # is a small rational of ints; both engines round the same double
        .withColumn(
            "waste_frac",
            F.round(F.col("pad_rows") / (F.col("n_batches") * F.lit(float(batch_size))), 6),
        )
    )


def augmentation_plan(
    df: DataFrame, epochs: int = 3, crop_w: int = 512, crop_h: int = 512,
    id_col: str = "image_id",
) -> DataFrame:
    """Deterministic per-epoch augmentation schedule — the reproducibility
    contract of a large-scale image trainer: every (image, epoch) gets its
    crop origin and horizontal-flip bit from md5(id:epoch), so a re-run, a
    retried task, or a resumed epoch produces byte-identical training
    inputs (rand() per task is NOT reproducible across Spark task retries
    — the same reasoning as the md5 sampling in mixture_resample). Images
    smaller than the crop in either dimension are excluded (the resize
    path owns those).

    Output: one row per (image, epoch) — (id, epoch, w, h, crop_x, crop_y,
    flip), where crop_x ∈ [0, w-crop_w], crop_y ∈ [0, h-crop_h] from
    disjoint md5 hex slices, and flip is the low bit of a third slice.

    Scale shape: explode(sequence(0, epochs-1)) then pure per-row integer
    arithmetic — ZERO exchanges; epochs is a small constant so the fan-out
    is bounded, and at 100 TB the plan column-prunes to (id, w, h) with no
    byte payload in sight. All-integer (md5 → BIGINT → mod) on both
    engines, so parity needs no float discipline at all."""
    import pyspark.sql.functions as F

    seed = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("epoch").cast("string"))
    )

    def _slice(start: int) -> F.Column:
        return F.conv(F.substring(seed, start, 8), 16, 10).cast("bigint")

    return (
        df.filter((F.col("w") >= crop_w) & (F.col("h") >= crop_h))
        .select(id_col, "w", "h",
                F.explode(F.sequence(F.lit(0), F.lit(epochs - 1))).alias("epoch"))
        .select(
            id_col, "epoch", "w", "h",
            (_slice(1) % (F.col("w") - F.lit(crop_w) + F.lit(1)))
            .cast("int").alias("crop_x"),
            (_slice(9) % (F.col("h") - F.lit(crop_h) + F.lit(1)))
            .cast("int").alias("crop_y"),
            (_slice(17) % F.lit(2)).cast("int").alias("flip"),
        )
    )


def frame_sample_plan(
    df: DataFrame, n_samples: int = 8, id_col: str = "video_id",
) -> DataFrame:
    """Uniform-k temporal frame-sampling SCHEDULE — the decode-free planning
    step of a video-training pipeline (the uniform sampling of
    CLIP4Clip/VideoMAE-style trainers): from per-video metadata alone
    (duration_ms, fps_x100 — fps carried ×100 so 23.97 is exact), emit the
    ``n_samples`` frame indices the decoder should extract. The midpoint
    rule places sample k at frame (2k+1)·total_frames DIV (2·n_samples) —
    centers of equal spans, so the schedule never clusters at either end.

    All math is exact integer (total_frames = duration_ms · fps_x100 DIV
    100000); videos with fewer than ``n_samples`` frames are excluded — the
    decode-every-frame path owns those, the same exclusion contract as
    augmentation_plan's undersized images. The planner is the schedule twin
    of `video_frame_sample`, which does the (stubbed) decode.

    Scale shape: explode(sequence(0, n-1)) over a small constant then pure
    per-row integer arithmetic — ZERO exchanges, and at 100 TB the plan
    column-prunes to the metadata columns; video bytes never enter it."""
    import pyspark.sql.functions as F

    total = F.expr("duration_ms * fps_x100 DIV 100000").cast("bigint")
    return (
        df.select(id_col, total.alias("total_frames"))
        .filter(F.col("total_frames") >= n_samples)
        .select(
            id_col, "total_frames",
            F.explode(F.sequence(F.lit(0), F.lit(n_samples - 1))).alias("sample_idx"),
        )
        .withColumn(
            "frame_idx",
            F.expr(
                f"(2 * sample_idx + 1) * total_frames DIV {2 * n_samples}"
            ).cast("bigint"),
        )
    )


def audio_chunk_plan(
    df: DataFrame, chunk_ms: int = 30000, stride_ms: int = 24000,
    min_tail_ms: int = 1000, id_col: str = "audio_id",
) -> DataFrame:
    """Fixed-window audio chunking SCHEDULE — the segmentation step of a
    speech-training pipeline (the Whisper 30 s window / wav2vec-style
    strided segmenting): from per-clip metadata alone (duration_ms,
    sample_rate), emit the [start, end) chunk spans a decoder should cut,
    with overlap = chunk_ms − stride_ms so no boundary audio is lost.

    Chunk i covers [i·stride, min(i·stride + chunk, duration)); a chunk is
    emitted only if it adds ≥ ``min_tail_ms`` of NEW audio beyond the
    previous chunk's end — which in particular drops any chunk fully
    contained in its predecessor's span (a tail shorter than the overlap
    is already decoded). Chunk i ≥ 1 adds duration − (i−1)·stride − chunk
    new ms once clipped, so
    n = (duration − chunk − min_tail) DIV stride + 2 when duration ≥
    chunk + min_tail, else 1 — exact integer math, as is the per-chunk
    sample count (len·rate DIV 1000). Clips shorter than ``min_tail_ms``
    are excluded entirely — the decode-whole-clip path owns those, the
    same exclusion contract as frame_sample_plan. Requires
    stride ≥ min_tail (every non-final chunk adds a full stride of new
    audio).

    Scale shape: a bounded explode (n ≤ duration/stride) then pure integer
    projections — ZERO exchanges; audio bytes never enter the plan, which
    column-prunes to the two metadata columns."""
    import pyspark.sql.functions as F

    if stride_ms < min_tail_ms:
        raise ValueError("stride_ms must be >= min_tail_ms")
    n = F.expr(
        f"CASE WHEN duration_ms >= {chunk_ms + min_tail_ms}"
        f" THEN (duration_ms - {chunk_ms + min_tail_ms}) DIV {stride_ms} + 2"
        f" ELSE 1 END"
    ).cast("bigint")
    return (
        df.filter(F.col("duration_ms") >= min_tail_ms)
        .select(
            id_col, "duration_ms", "sample_rate",
            F.explode(F.sequence(F.lit(0), (n - 1).cast("int"))).alias("chunk_idx"),
        )
        .withColumn("start_ms", (F.col("chunk_idx").cast("bigint") * stride_ms))
        .withColumn(
            "end_ms",
            F.least(F.col("start_ms") + chunk_ms, F.col("duration_ms")).cast("bigint"),
        )
        .withColumn(
            "n_samples",
            F.expr("(end_ms - start_ms) * sample_rate DIV 1000").cast("bigint"),
        )
        .select(
            id_col, "chunk_idx", "start_ms", "end_ms", "n_samples",
        )
    )


def audio_features(df: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Audio stub: interprets `bytes` as PCM16 mono (the deterministic fake
    for containers without torchaudio/soundfile; a real build branches on
    fmt to a codec). Emits duration/rms/peak."""

    def run(batches):
        for pdf in batches:
            rows = []
            for audio_id, data in zip(pdf["audio_id"], pdf["bytes"]):
                pcm = np.frombuffer(bytes(data), dtype="<i2").astype(np.float64) / 32768.0
                if len(pcm) == 0:
                    raise NotImplementedError("empty/unknown audio payload")
                rows.append(
                    (audio_id, round(len(pcm) / sample_rate, 4),
                     round(float(np.sqrt((pcm**2).mean())), 6),
                     round(float(np.abs(pcm).max()), 6))
                )
            yield pd.DataFrame(rows, columns=["audio_id", "duration_s", "rms", "peak"])

    return df.select("audio_id", "bytes").mapInPandas(
        run, "audio_id string, duration_s double, rms double, peak double"
    )


def video_frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video stub: `bytes` is a concatenation of fixed-size synthetic frames
    (frame count in `n_frames` metadata); samples every_n-th frame and runs
    the image feature path on it. A real build replaces the slicing with a
    pyav/ffmpeg demux — the Spark-side shape (explode to one row per sampled
    frame, features per frame) is the production plumbing."""

    def run(batches):
        for pdf in batches:
            rows = []
            for video_id, data, n_frames, fw, fh in zip(
                pdf["video_id"], pdf["bytes"], pdf["n_frames"], pdf["fw"], pdf["fh"]
            ):
                frame_sz = fw * fh * 3
                raw = bytes(data)
                if len(raw) < frame_sz * n_frames:
                    raise NotImplementedError("real container demux not available")
                for fi in range(0, n_frames, every_n):
                    frame = np.frombuffer(
                        raw[fi * frame_sz:(fi + 1) * frame_sz], dtype=np.uint8
                    ).reshape(fh, fw, 3)
                    lum = frame.astype(np.float64).mean()
                    rows.append((video_id, fi, round(float(lum), 4), phash64(frame)))
            yield pd.DataFrame(
                rows, columns=["video_id", "frame_idx", "mean_lum", "phash"]
            )

    return df.select("video_id", "bytes", "n_frames", "fw", "fh").mapInPandas(
        run, "video_id string, frame_idx int, mean_lum double, phash long"
    )
