"""Multimodal plumbing tests: schemas, Arrow batch shapes, stub semantics."""

from __future__ import annotations

import numpy as np
import pytest

from pegasus_spark.crawler.codec import decode_image, encode_image, synth_image
from pegasus_spark.multimodal import (
    audio_features,
    image_features,
    image_thumbnail,
    video_frame_sample,
)


@pytest.fixture(scope="module")
def image_df(spark):
    rows = []
    for i in range(20):
        fmt = "png" if i % 2 == 0 else "jpeg"
        arr = synth_image(f"mm-{i}", 32, 64)
        rows.append((f"mm-{i}", bytearray(encode_image(arr, fmt)), fmt))
    return spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")


def test_image_features(image_df):
    feats = {r["image_id"]: r for r in image_features(image_df, n_partitions=4).collect()}
    assert len(feats) == 20
    r = feats["mm-0"]
    assert (r["w"], r["h"]) == (64, 32)
    src = synth_image("mm-0", 32, 64)
    assert abs(r["mean_lum"] - src.astype(np.float64).mean(axis=2).mean()) < 1e-3
    assert r["phash"] is not None
    # no bytes column in the feature output (late-payload discipline)
    assert "bytes" not in image_features(image_df).columns


def test_image_thumbnail_roundtrip(image_df):
    thumbs = image_thumbnail(image_df, d=8).collect()
    assert len(thumbs) == 20
    for r in thumbs[:5]:
        arr = decode_image(bytes(r["thumb"]))
        assert arr.shape == (8, 8, 3)


def test_image_near_dups_pairs_reencodes_not_strangers(spark):
    """The same picture in png AND jpeg must pair (perceptual hash survives
    the 2-bit requantize); distinct source images must not."""
    from pegasus_spark.multimodal import image_near_dups

    rows = []
    for i in range(8):
        arr = synth_image(f"nd-{i}", 32, 64)
        rows.append((f"nd-{i}-png", bytearray(encode_image(arr, "png")), "png"))
        rows.append((f"nd-{i}-jpeg", bytearray(encode_image(arr, "jpeg")), "jpeg"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    feats = image_features(df)
    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in image_near_dups(feats, max_hamming=3).collect()
    }
    for i in range(8):
        assert (f"nd-{i}-jpeg", f"nd-{i}-png") in pairs, i
    # no cross-source pairs
    assert all(a.rsplit("-", 1)[0] == b.rsplit("-", 1)[0] for a, b in pairs)


def test_image_near_dup_clusters_keeper_selection(spark):
    from pegasus_spark.multimodal import image_near_dups
    from pegasus_spark.textops.dedup import near_dup_clusters

    rows = []
    for i in range(4):
        arr = synth_image(f"cl-{i}", 32, 64)
        for fmt in ("png", "jpeg"):
            rows.append((f"cl-{i}-{fmt}", bytearray(encode_image(arr, fmt)), fmt))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    feats = image_features(df)
    pairs = image_near_dups(feats, max_hamming=3)
    clusters = near_dup_clusters(feats.select("image_id"), pairs, id_col="image_id")
    got = {r["image_id"]: r["cluster_id"] for r in clusters.collect()}
    for i in range(4):
        # jpeg/png of the same source collapse to one keeper (min id = jpeg)
        assert got[f"cl-{i}-png"] == got[f"cl-{i}-jpeg"] == f"cl-{i}-jpeg"
    keepers = {v for v in got.values()}
    assert len(keepers) == 4


def test_image_dedup_keepers_highest_resolution_wins(spark):
    """Keeper = highest-resolution image per phash cluster (npix DESC,
    image_id ASC); singletons keep themselves; negative phash exercises the
    unsigned-shift chunk path."""
    from pegasus_spark.multimodal import image_dedup_keepers

    feats = spark.createDataFrame(
        [
            ("a-small", 0x0F0F0F0F0F0F0F0F, 32, 32),
            ("a-big", 0x0F0F0F0F0F0F0F0E, 64, 64),  # hamming 1 from a-small
            ("a-mid", 0x0F0F0F0F0F0F0F0D, 48, 48),  # hamming 1 / 2
            ("lonely", -0x123456789ABCDEF, 16, 16),  # singleton
        ],
        "image_id string, phash long, w int, h int",
    )
    out = {r["image_id"]: r for r in image_dedup_keepers(feats).collect()}
    assert out["a-big"]["is_keeper"] and out["a-big"]["keeper_id"] == "a-big"
    for i in ("a-small", "a-mid"):
        assert out[i]["keeper_id"] == "a-big" and not out[i]["is_keeper"]
    assert out["lonely"]["is_keeper"] and out["lonely"]["cluster_id"] == "lonely"
    # cluster label is the min image_id of the component
    assert out["a-small"]["cluster_id"] == "a-big"


def test_audio_features(spark):
    t = np.arange(16000)
    tone = (np.sin(2 * np.pi * 440 * t / 16000) * 0.5 * 32767).astype("<i2")
    df = spark.createDataFrame(
        [("a1", bytearray(tone.tobytes()))], "audio_id string, bytes binary"
    )
    r = audio_features(df).collect()[0]
    assert r["duration_s"] == 1.0
    assert abs(r["rms"] - 0.5 / np.sqrt(2)) < 0.01
    assert 0.49 < r["peak"] <= 0.5


def test_video_frame_sample(spark):
    fw, fh, n_frames = 16, 16, 25
    rng = np.random.default_rng(3)
    frames = rng.integers(0, 255, size=(n_frames, fh, fw, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("v1", bytearray(frames.tobytes()), n_frames, fw, fh)],
        "video_id string, bytes binary, n_frames int, fw int, fh int",
    )
    out = video_frame_sample(df, every_n=10).collect()
    assert [r["frame_idx"] for r in sorted(out, key=lambda r: r["frame_idx"])] == [0, 10, 20]
    for r in out:
        expected = frames[r["frame_idx"]].astype(np.float64).mean()
        assert abs(r["mean_lum"] - expected) < 1e-3


def test_unknown_format_raises(spark):
    df = spark.createDataFrame(
        [("bad", bytearray(b"\x00\x01\x02\x03garbage"), "webp")],
        "image_id string, bytes binary, fmt string",
    )
    with pytest.raises(Exception, match="(?i)no codec|NotImplemented"):
        image_features(df).collect()


def test_pack_image_shards_matches_pandas_prefix_sum(image_df):
    """Shard assignment = floor(exclusive prefix sum of byte sizes / budget)
    within each md5-salted group, items in id order — recomputed in pandas."""
    import hashlib

    from pegasus_spark.multimodal import pack_image_shards, shard_manifest

    budget, groups = 4096, 4
    out = pack_image_shards(image_df, budget_bytes=budget, n_groups=groups)
    assert "bytes" not in out.columns  # payload never enters the window plan
    rows = {r["image_id"]: r for r in out.collect()}

    src = sorted(
        (r["image_id"], len(bytes(r["bytes"]))) for r in image_df.collect()
    )
    by_grp: dict[int, list[tuple[str, int]]] = {}
    for iid, n in src:
        g = int(hashlib.md5(iid.encode()).hexdigest()[:4], 16) % groups
        by_grp.setdefault(g, []).append((iid, n))
    expected = {}
    for g, items in by_grp.items():
        prior = 0
        for iid, n in items:  # already id-ordered via the sorted() above
            expected[iid] = (g, n, prior // budget)
            prior += n
    assert len(rows) == len(expected) == 20
    for iid, (g, n, shard) in expected.items():
        r = rows[iid]
        assert (r["grp"], r["n_bytes"], r["shard_id"]) == (g, n, shard), iid

    man = {(r["grp"], r["shard_id"]): r for r in shard_manifest(out).collect()}
    for (g, s), r in man.items():
        members = [iid for iid, (eg, _, es) in expected.items() if (eg, es) == (g, s)]
        assert r["n_items"] == len(members)
        assert r["first_id"] == min(members) and r["last_id"] == max(members)
        assert r["total_bytes"] == sum(expected[m][1] for m in members)


def test_write_image_shards_deterministic_tar_roundtrip(spark):
    """Shard archives: id-ordered members, zeroed metadata, byte-exact
    payload + caption round-trip, and byte-identical across re-runs."""
    import io
    import tarfile

    from pegasus_spark.multimodal import pack_image_shards, write_image_shards

    rows = []
    for i in range(12):
        fmt = "png" if i % 2 == 0 else "jpeg"
        arr = synth_image(f"ws-{i}", 16, 16)
        rows.append((f"ws-{i}", bytearray(encode_image(arr, fmt)), fmt, f"cap {i}"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, caption string"
    )
    src = {r[0]: (bytes(r[1]), r[2], r[3]) for r in rows}

    shards = {
        (r["grp"], r["shard_id"]): r
        for r in write_image_shards(df, budget_bytes=2048, n_groups=2).collect()
    }
    assign = pack_image_shards(df, budget_bytes=2048, n_groups=2).collect()
    expected = {}
    for r in assign:
        expected.setdefault((r["grp"], r["shard_id"]), []).append(r["image_id"])
    assert set(shards) == set(expected)

    seen_ids = set()
    for key, ids in expected.items():
        r = shards[key]
        assert r["n_items"] == len(ids)
        with tarfile.open(fileobj=io.BytesIO(bytes(r["tar"]))) as tar:
            names = tar.getnames()
            data, fmt, caption = {}, {}, {}
            for iid in sorted(ids):
                raw, f, cap = src[iid]
                assert tar.extractfile(f"{iid}.{f}").read() == raw
                assert tar.extractfile(f"{iid}.txt").read().decode() == cap
                seen_ids.add(iid)
            # members ride in id order, payload before caption
            want = [n for iid in sorted(ids) for n in (f"{iid}.{src[iid][1]}", f"{iid}.txt")]
            assert names == want
            for info in tar.getmembers():
                assert (info.mtime, info.uid, info.gid) == (0, 0, 0)
    assert seen_ids == set(src)

    again = {
        (r["grp"], r["shard_id"]): bytes(r["tar"])
        for r in write_image_shards(df, budget_bytes=2048, n_groups=2).collect()
    }
    assert {k: bytes(v["tar"]) for k, v in shards.items()} == again


def test_ratio_buckets_nearest_ladder_and_batching(spark):
    """Every image lands in its nearest-aspect ladder bucket (ties go wider)
    and batches fill in id order — recomputed in plain Python."""
    from pegasus_spark.multimodal import RATIO_BUCKETS, ratio_buckets

    dims = [(1024, 1024), (1000, 1030), (512, 2000), (2000, 512),
            (900, 1100), (1344, 768), (770, 1340), (640, 640)]
    rows = [(f"rb-{i:02d}", w, h) for i, (w, h) in enumerate(dims * 3)]
    # duplicate ids are wrong — reindex
    rows = [(f"rb-{i:02d}", w, h) for i, (_, w, h) in enumerate(rows)]
    df = spark.createDataFrame(rows, "image_id string, w int, h int")

    def expect_bucket(w, h):
        r = w / h
        best = None
        for bw, bh in RATIO_BUCKETS:
            d = abs(r - bw / bh)
            if best is None or d < best[2] or (d == best[2] and bw > best[0]):
                best = (bw, bh, d)
        return best[0], best[1]

    out = {r["image_id"]: r for r in ratio_buckets(df, batch_size=2).collect()}
    assert len(out) == len(rows)
    by_bucket: dict[tuple, list[str]] = {}
    for iid, w, h in rows:
        b = expect_bucket(w, h)
        assert (out[iid]["bucket_w"], out[iid]["bucket_h"]) == b, (iid, w, h)
        by_bucket.setdefault(b, []).append(iid)
    for b, ids in by_bucket.items():
        for rank, iid in enumerate(sorted(ids)):
            assert out[iid]["batch_idx"] == rank // 2, (b, iid)


def test_ratio_buckets_salted_batching(spark):
    """The 100 TB path: salt_groups derives batch_idx within (bucket,
    md5(id)-group) — the window exchange must carry the salt (a raw
    13-bucket window is 13 tasks at scale), bucket assignment is unchanged,
    and batches fill in id order within each (bucket, grp) unit."""
    import hashlib
    import re

    from pegasus_spark.multimodal import ratio_buckets

    dims = [(1024, 1024), (1000, 1030), (512, 2000), (2000, 512),
            (900, 1100), (1344, 768), (770, 1340), (640, 640)]
    rows = [(f"rbs-{i:02d}", w, h) for i, (w, h) in enumerate(dims * 4)]
    rows = [(f"rbs-{i:02d}", w, h) for i, (_, w, h) in enumerate(rows)]
    df = spark.createDataFrame(rows, "image_id string, w int, h int")

    salted = ratio_buckets(df, batch_size=2, salt_groups=3)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\([^)]*grp", plan), plan

    out = {r["image_id"]: r for r in salted.collect()}
    base = {r["image_id"]: r for r in ratio_buckets(df, batch_size=2).collect()}
    units: dict[tuple, list[str]] = {}
    for iid, _, _ in rows:
        # salting never moves an image between ratio buckets
        assert (out[iid]["bucket_w"], out[iid]["bucket_h"]) == (
            base[iid]["bucket_w"], base[iid]["bucket_h"])
        grp = int(hashlib.md5(iid.encode()).hexdigest()[:4], 16) % 3
        assert out[iid]["grp"] == grp
        units.setdefault((out[iid]["bucket_w"], out[iid]["bucket_h"], grp), []).append(iid)
    for ids in units.values():
        for rank, iid in enumerate(sorted(ids)):
            assert out[iid]["batch_idx"] == rank // 2, (iid, ids)


def test_ratio_bucket_stats_raw_vs_salted(spark):
    """The utilization audit agrees with a plain-Python recount on the raw
    plan, and on a salted plan: per-bucket n_images is IDENTICAL (salting
    never moves images between buckets), batch/padding counts reflect the
    per-(bucket, grp) batch units (each group strands at most one partial
    batch — the utilization price of the 100 TB path the audit exists to
    surface), and the arithmetic invariant n_batches*B = n_images + pad
    holds row-by-row."""
    from pegasus_spark.multimodal import ratio_buckets, ratio_bucket_stats

    dims = [(1024, 1024), (1000, 1030), (512, 2000), (2000, 512),
            (900, 1100), (1344, 768), (770, 1340), (640, 640)]
    rows = [(f"st-{i:02d}", w, h) for i, (w, h) in enumerate(dims * 4)]
    df = spark.createDataFrame(rows, "image_id string, w int, h int")

    raw_plan = ratio_buckets(df, batch_size=2)
    # batch_size resolves from the plan's column metadata; a disagreeing
    # override must raise, not silently produce negative padding
    with pytest.raises(ValueError, match="disagrees"):
        ratio_bucket_stats(raw_plan, batch_size=64)
    raw = {(r["bucket_w"], r["bucket_h"]): r
           for r in ratio_bucket_stats(raw_plan).collect()}
    expected: dict[tuple, int] = {}
    for r in raw_plan.collect():
        expected[(r["bucket_w"], r["bucket_h"])] = (
            expected.get((r["bucket_w"], r["bucket_h"]), 0) + 1
        )
    assert set(raw) == set(expected)
    for b, n in expected.items():
        got = raw[b]
        n_batches = -(-n // 2)
        assert got["n_images"] == n
        assert got["n_batches"] == n_batches
        assert got["pad_rows"] == n_batches * 2 - n
        assert got["n_batches"] * 2 == got["n_images"] + got["pad_rows"]

    salted_plan = ratio_buckets(df, batch_size=2, salt_groups=3)
    salted = {(r["bucket_w"], r["bucket_h"]): r
              for r in ratio_bucket_stats(salted_plan).collect()}
    per_unit: dict[tuple, int] = {}
    for r in salted_plan.collect():
        k = (r["bucket_w"], r["bucket_h"], r["grp"])
        per_unit[k] = per_unit.get(k, 0) + 1
    assert set(salted) == set(expected)
    for b, n in expected.items():
        got = salted[b]
        assert got["n_images"] == n  # identical corpus split
        n_batches = sum(-(-u // 2) for (bw, bh, _), u in per_unit.items()
                        if (bw, bh) == b)
        assert got["n_batches"] == n_batches
        assert got["pad_rows"] == n_batches * 2 - n
        assert got["pad_rows"] >= raw[b]["pad_rows"]


def test_augmentation_plan_deterministic_and_bounded(spark):
    """Pins the reproducible-augmentation contract: crop/flip derive from
    md5(id:epoch) (recomputed in plain Python), crops stay in-bounds,
    undersized images are excluded, and the plan is identical across
    partition layouts."""
    import hashlib

    from pegasus_spark.multimodal import augmentation_plan

    df = spark.createDataFrame(
        [(1, 800, 600), (2, 512, 512), (3, 400, 900), (4, 2000, 513)],
        "image_id long, w int, h int",
    )
    out = augmentation_plan(df, epochs=2, crop_w=512, crop_h=512)
    rows = {(r["image_id"], r["epoch"]): r for r in out.collect()}

    # image 3 (w=400 < 512) excluded; the rest get one row per epoch
    assert set(rows) == {(i, e) for i in (1, 2, 4) for e in (0, 1)}
    for (i, e), r in rows.items():
        sd = hashlib.md5(f"{i}:{e}".encode()).hexdigest()
        assert r["crop_x"] == int(sd[0:8], 16) % (r["w"] - 511)
        assert r["crop_y"] == int(sd[8:16], 16) % (r["h"] - 511)
        assert r["flip"] == int(sd[16:24], 16) % 2
        assert 0 <= r["crop_x"] <= r["w"] - 512
        assert 0 <= r["crop_y"] <= r["h"] - 512
    # the exact-fit image can only crop at the origin
    assert (rows[(2, 0)]["crop_x"], rows[(2, 0)]["crop_y"]) == (0, 0)

    again = {
        (r["image_id"], r["epoch"]): (r["crop_x"], r["crop_y"], r["flip"])
        for r in augmentation_plan(
            df.repartition(7), epochs=2, crop_w=512, crop_h=512
        ).collect()
    }
    assert again == {
        k: (r["crop_x"], r["crop_y"], r["flip"]) for k, r in rows.items()
    }


def test_image_dup_histogram_yield_curve(spark):
    """phash near-dup yield curve: 8 png+jpeg re-encode pairs and 2 loner
    images → the histogram reads 2 singletons + 8 two-image clusters, and
    the cumulative curve covers all 18 rows."""
    from pegasus_spark.multimodal import image_dup_histogram, image_features

    rows = []
    for i in range(8):
        arr = synth_image(f"dh-{i}", 32, 64)
        rows.append((f"dh-{i}-png", bytearray(encode_image(arr, "png")), "png"))
        rows.append((f"dh-{i}-jpeg", bytearray(encode_image(arr, "jpeg")), "jpeg"))
    for i in range(2):
        arr = synth_image(f"dh-lone-{i}", 32, 64)
        rows.append((f"dh-lone-{i}", bytearray(encode_image(arr, "png")), "png"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {
        r["group_size"]: r
        for r in image_dup_histogram(image_features(df)).collect()
    }
    assert got[1]["n_clusters"] == 2 and got[1]["n_dupes"] == 0
    assert got[2]["n_clusters"] == 8 and got[2]["n_dupes"] == 8
    assert got[2]["cum_docs"] == 18


def test_image_rules_per_rule_flags(spark):
    """Each LAION/DataComp-style rule trips independently and keep is the
    conjunction: one clean row, then one violator per rule."""
    from pegasus_spark.multimodal import with_image_rules

    cap_ok = " ".join(["word"] * 20)
    rows = [
        # id, w, h, n_bytes, caption, lang
        ("ok", 800, 600, 480000 // 4, cap_ok, "en"),            # all pass
        ("small", 300, 600, 180000 // 4, cap_ok, "en"),         # r_dims
        ("banner", 2000, 600, 1200000 // 4, cap_ok, "en"),      # r_ar
        ("blank", 800, 600, 1000, cap_ok, "en"),                # r_bpp low
        ("raw", 800, 600, 3 * 480000, cap_ok, "en"),            # r_bpp high
        ("shortcap", 800, 600, 480000 // 4, "a b", "en"),       # r_cap
        ("de", 800, 600, 480000 // 4, cap_ok, "de"),            # r_lang
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, w int, h int, n_bytes long, caption string, lang string",
    )
    got = {r["image_id"]: r for r in with_image_rules(df).collect()}
    assert got["ok"]["keep"]
    assert all(got["ok"][c] for c in ("r_dims", "r_ar", "r_bpp", "r_cap", "r_lang"))
    failures = {
        "small": "r_dims", "banner": "r_ar", "blank": "r_bpp",
        "raw": "r_bpp", "shortcap": "r_cap", "de": "r_lang",
    }
    for rid, rule in failures.items():
        assert not got[rid][rule], (rid, rule)
        assert not got[rid]["keep"], rid
        others = {"r_dims", "r_ar", "r_bpp", "r_cap", "r_lang"} - {rule}
        assert all(got[rid][c] for c in others), (rid, rule)
    # audit metrics ride along, rounded per the parity rules
    assert got["banner"]["ar"] == round(2000 / 600, 4)
    assert got["blank"]["bpp"] == round(1000 / 480000, 6)
    assert got["shortcap"]["n_cap_tokens"] == 2


def test_image_text_alignment_top_frac(spark):
    """DataComp-style "keep top 30% by CLIP score": the approx-percentile
    cutoff keeps the requested fraction within tolerance, the kept set is
    exactly the highest-scoring rows, and the two modes agree on scores."""
    import pyspark.sql.functions as F

    from pegasus_spark.multimodal import image_text_alignment

    e = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    img = e.select("vec_id", F.col("embedding").alias("img_vec"))
    txt = e.select(
        F.col("vec_id").bitwiseXOR(F.lit(1)).alias("vec_id"),
        F.col("embedding").alias("txt_vec"),
    )
    pairs = img.join(txt, "vec_id").localCheckpoint(eager=True)
    n = pairs.count()
    got = image_text_alignment(pairs, id_col="vec_id", top_frac=0.3).collect()
    kept = [r for r in got if r["keep"]]
    # approx percentile ⇒ fraction within a loose band, never empty/all
    assert 0.2 * n <= len(kept) <= 0.4 * n, len(kept)
    # the kept set is a score-threshold set: min(kept) >= max(dropped)
    dropped = [r["clip_score"] for r in got if not r["keep"]]
    assert min(r["clip_score"] for r in kept) >= max(dropped)
    # fixed-tau mode scores identically (same fold, same rounding)
    fixed = {
        r["vec_id"]: r["clip_score"]
        for r in image_text_alignment(pairs, id_col="vec_id", tau=0.05).collect()
    }
    assert fixed == {r["vec_id"]: r["clip_score"] for r in got}


def test_image_decontaminate_hamming_ball(spark):
    """Exact hit, 1-bit and 2-bit neighbors flag; a 3-bit neighbor and an
    unrelated hash don't (max_hamming=2, chunks=3 — pigeonhole-exhaustive)."""
    from pegasus_spark.multimodal import image_decontaminate

    ev = 0b1010_1100_0011_0101
    rows = [
        ("exact", ev),
        ("one", ev ^ (1 << 7)),
        ("two", ev ^ (1 << 7) ^ (1 << 40)),
        ("three", ev ^ (1 << 7) ^ (1 << 40) ^ (1 << 59)),
        ("far", 0x0F0F_0F0F_0F0F),
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    evals = spark.createDataFrame([(ev,)], "eval_phash long")
    got = {
        r["image_id"]: r["contaminated"]
        for r in image_decontaminate(
            df, evals, max_hamming=2, chunks=3, n_bits=60
        ).collect()
    }
    assert got == {
        "exact": True, "one": True, "two": True, "three": False, "far": False,
    }


def test_frame_sample_plan_midpoints_and_exclusion(spark):
    """Frame indices are the exact midpoint-rule integers, stay strictly
    inside [0, total_frames), are non-decreasing in sample_idx, and videos
    shorter than n_samples frames are excluded from the schedule."""
    from pegasus_spark.multimodal import frame_sample_plan

    rows = [
        ("v_long", 10000, 3000),   # 10 s @ 30 fps → 300 frames
        ("v_ntsc", 4000, 2397),    # 4 s @ 23.97 fps → 95 frames
        ("v_short", 100, 3000),    # 3 frames < n_samples=8 → excluded
    ]
    df = spark.createDataFrame(rows, "video_id string, duration_ms long, fps_x100 long")
    got = frame_sample_plan(df, n_samples=8).collect()
    by_vid = {}
    for r in got:
        by_vid.setdefault(r["video_id"], []).append(r)
    assert "v_short" not in by_vid
    for vid, dur, fps in rows[:2]:
        total = dur * fps // 100000
        plan = sorted(by_vid[vid], key=lambda r: r["sample_idx"])
        assert [r["total_frames"] for r in plan] == [total] * 8
        idxs = [r["frame_idx"] for r in plan]
        assert idxs == [(2 * k + 1) * total // 16 for k in range(8)]
        assert all(0 <= i < total for i in idxs)
        assert idxs == sorted(idxs)


def test_audio_chunk_plan_spans_and_exclusion(spark):
    """Chunks stride by 24 s with a 6 s overlap, the final chunk clips to
    the clip end, a chunk that would add under 1 s of NEW audio (including
    any chunk fully contained in its predecessor) never starts, and
    sub-second clips are excluded entirely."""
    from pegasus_spark.multimodal import audio_chunk_plan

    rows = [
        ("a_75s", 75000, 16000),   # 0/24/48 s; a 72 s chunk would add 0 new ms
        ("a_30s", 30000, 16000),   # one window — [24, 30) ⊂ [0, 30) drops
        ("a_31s", 31000, 16000),   # tail adds exactly 1 s of new audio → kept
        ("a_sub", 800, 16000),     # < min_tail → excluded
    ]
    df = spark.createDataFrame(rows, "audio_id string, duration_ms long, sample_rate long")
    got = {}
    for r in audio_chunk_plan(df).collect():
        got.setdefault(r["audio_id"], []).append(r)
    assert "a_sub" not in got
    spans = [
        (r["start_ms"], r["end_ms"], r["n_samples"])
        for r in sorted(got["a_75s"], key=lambda r: r["chunk_idx"])
    ]
    assert spans == [
        (0, 30000, 480000), (24000, 54000, 480000), (48000, 75000, 432000),
    ]
    spans30 = [
        (r["start_ms"], r["end_ms"])
        for r in sorted(got["a_30s"], key=lambda r: r["chunk_idx"])
    ]
    assert spans30 == [(0, 30000)]
    spans31 = [
        (r["start_ms"], r["end_ms"])
        for r in sorted(got["a_31s"], key=lambda r: r["chunk_idx"])
    ]
    assert spans31 == [(0, 30000), (24000, 31000)]


def test_image_decontaminate_broadcasts_eval_side(spark):
    """With size-based broadcasting off, both joins still broadcast: the
    eval hashes into the chunk probe (the caller's hint) and the flagged
    ids back onto the corpus. The corpus never shuffles."""
    from pegasus_spark.multimodal import image_decontaminate

    df = spark.createDataFrame(
        [("a", 5), ("b", 5 - (1 << 63)), ("c", (1 << 40) | (1 << 20) | 1)],
        "image_id string, phash long",
    )
    evals = spark.createDataFrame([(4,)], "eval_phash long")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = image_decontaminate(df, evals, max_hamming=2, chunks=3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {r["image_id"]: r["contaminated"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    assert len(joins) == 2, plan
    assert all("BroadcastHashJoin" in j and "BuildRight" in j for j in joins), plan
    assert got == {"a": True, "b": True, "c": False}
