"""Property tests for the training-data pipeline operators: dedup semantics
on synthetic duplicates, minhash/jaccard behavior on near-identical texts,
ANN recall vs brute force."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pegasus_spark.textops.dedup import (
    exact_dedupe,
    exact_dup_groups,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dups,
)
from pegasus_spark.textops.similarity import ann_topk, cosine_topk


@pytest.fixture(scope="module")
def doc_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base.replace("dog", "cat")),             # near dup
        (4, "completely different words about spark shuffles and joins here"),
        (5, base),                                   # exact dup of 1
        (6, base + " extra tail tokens appended now"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_groups(self, doc_df):
        groups = {r["keeper_id"]: r["dup_cnt"] for r in exact_dup_groups(doc_df).collect()}
        assert groups[1] == 3  # docs 1,2,5
        assert groups[3] == 1 and groups[4] == 1 and groups[6] == 1

    def test_dedupe_keeps_min_id(self, doc_df):
        kept = {r["doc_id"] for r in exact_dedupe(doc_df).collect()}
        assert kept == {1, 3, 4, 6}


class TestMinHash:
    def test_exact_dups_full_signature_match(self, doc_df):
        pairs = {(r["id_a"], r["id_b"]): r["sig_matches"]
                 for r in minhash_near_dups(doc_df, min_sig_match=1).collect()}
        assert pairs[(1, 2)] == 8 and pairs[(1, 5)] == 8 and pairs[(2, 5)] == 8

    def test_near_dups_found_distant_not(self, doc_df):
        pairs = {(r["id_a"], r["id_b"]) for r in minhash_near_dups(doc_df, min_sig_match=4).collect()}
        assert (1, 2) in pairs
        assert (1, 6) in pairs  # appended-tail near dup shares most shingles
        assert not any(4 in p for p in pairs)  # unrelated doc never pairs

    def test_accuracy_matches_exact_shingle_replay(self, doc_df):
        """minhash_accuracy's exact side must equal a brute-force Python
        5-shingle Jaccard over the same pairs, its estimate must be
        sig_matches/8, and exact dups must report error 0 at both ends."""
        from decimal import ROUND_HALF_UP, Decimal

        from pegasus_spark.textops.dedup import minhash_accuracy

        def r4(x):  # Spark/DuckDB round() is HALF_UP; python round is banker's
            return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

        texts = {r["doc_id"]: r["text"].strip() for r in doc_df.collect()}
        shingles = {
            i: {t[j : j + 5] for j in range(max(len(t) - 4, 1))}
            for i, t in texts.items()
        }
        got = {(r["id_a"], r["id_b"]): r for r in minhash_accuracy(doc_df).collect()}
        assert got, "threshold pairs must exist on the planted dups"
        for (a, b), r in got.items():
            inter = len(shingles[a] & shingles[b])
            union = len(shingles[a] | shingles[b])
            assert r["n_inter"] == inter and r["n_union"] == union
            assert r["est_jaccard"] == r4(r["sig_matches"] / 8)
            assert r["true_jaccard"] == r4(inter / union)
            assert r["err"] == r4(r["sig_matches"] / 8 - inter / union)
        # the exact-dup pair is perfectly calibrated: est = true = 1, err = 0
        assert got[(1, 2)]["true_jaccard"] == 1.0
        assert got[(1, 2)]["est_jaccard"] == 1.0
        assert got[(1, 2)]["err"] == 0.0


class TestSimHash:
    def test_deterministic(self, doc_df):
        a = {r["doc_id"]: r["simhash"] for r in simhash(doc_df).collect()}
        b = {r["doc_id"]: r["simhash"] for r in simhash(doc_df).collect()}
        assert a == b
        assert a[1] == a[2] == a[5]  # identical text → identical simhash
        assert 0 <= a[1] < (1 << 60)

    def test_near_dups(self, doc_df):
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in simhash_near_dups(doc_df, max_hamming=20).collect()}
        assert pairs[(1, 2)] == 0
        assert pairs[(1, 3)] <= 20  # one-word change → small hamming
        assert (1, 4) not in pairs  # unrelated doc is far


class TestNgramJaccard:
    def test_pairs(self, doc_df):
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(doc_df, n=3, tau=0.2).collect()}
        assert pairs[(1, 2)] == 1.0
        assert 0.2 <= pairs[(1, 3)] < 1.0
        assert not any(4 in p for p in pairs)


class TestANN:
    def test_recall_vs_brute_force(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
        approx = [r["vec_id"] for r in ann_topk(emb, 0, k=10, dim=64).collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.6, f"ANN recall {recall} too low"
        # and the probed set is a real subset: ANN must not degenerate to
        # brute force over everything
        from pegasus_spark.textops.similarity import hyperplane_buckets
        bl = hyperplane_buckets(emb, dim=64, n_planes=8)
        qb = bl.filter("vec_id = 0").collect()[0]["bucket"]
        probed = (
            bl.withColumn("hd", F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qb))))
            .filter("hd <= 4").count()
        )
        assert probed < emb.count()

    def test_md5_variant_recall_and_pruning(self, spark, sf_dir):
        """The deterministic (oracle-gated) md5-Rademacher ANN must hold the
        same recall bar as the Gaussian path and genuinely prune."""
        from pegasus_spark.textops.similarity import (
            ann_topk_md5,
            md5_hyperplane_bucket,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
        approx = [r["vec_id"] for r in ann_topk_md5(emb, 0, k=10, dim=64).collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.6, f"md5-ANN recall {recall} too low"
        bl = emb.withColumn("bucket", md5_hyperplane_bucket("embedding", 64, 8))
        qb = bl.filter("vec_id = 0").collect()[0]["bucket"]
        probed = (
            bl.withColumn("hd", F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qb))))
            .filter("hd <= 4").count()
        )
        assert probed < emb.count()


class TestWordGrams:
    def test_matches_python_reference_on_edge_cases(self, spark):
        """word_grams is the single source for three oracle-gated queries —
        pin its semantics (clamped short docs, whitespace runs, trim)
        against a plain-python reference."""
        from pegasus_spark.textops.text import word_grams

        def ref(text, n, clamp):
            toks = text.strip().split()
            if not toks:
                toks = [""]  # split of "" yields [""] in Spark too
            hi = len(toks) - (n - 1)
            if clamp:
                hi = max(hi, 1)
            return [" ".join(toks[i : i + n]) for i in range(max(hi, 0))]

        cases = [
            "a b c d e", "a", "", "  ", "a  b\tc", " lead trail ",
            "x " * 50, "one two", "a b c",
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i long, text string")
        for n in (2, 3, 4):
            for clamp in (True, False):
                got = {
                    r["i"]: r["g"]
                    for r in df.select("i", word_grams("text", n, clamp).alias("g")).collect()
                }
                for i, t in enumerate(cases):
                    assert got[i] == ref(t, n, clamp), (t, n, clamp)


class TestIVF:
    def test_cells_partition_the_table(self, spark, sf_dir):
        from pegasus_spark.textops.similarity import ivf_assign_cells

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned = ivf_assign_cells(emb, n_cells=16)
        assert assigned.count() == emb.count()          # every vector, once
        cells = assigned.select("cell").distinct().collect()
        assert all(0 <= r["cell"] < 16 for r in cells)
        # each centroid sits in its own cell (cos(self)=1 is the max)
        own = assigned.filter(F.col("vec_id") < 16).collect()
        assert all(r["cell"] == r["vec_id"] for r in own)

    def test_probes_subset_and_recall(self, spark, sf_dir):
        from pegasus_spark.textops.similarity import ivf_assign_cells, ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        approx = [r["vec_id"] for r in ivf_topk(emb, 0, k=10, n_cells=16, nprobe=4).collect()]
        assert len(approx) == 10
        # the probed fraction really prunes: the 4 probed cells hold well
        # under the full table
        assigned = ivf_assign_cells(emb, n_cells=16)
        largest4 = (
            assigned.groupBy("cell").count().orderBy(F.desc("count")).limit(4)
            .agg(F.sum("count")).collect()[0][0]
        )
        assert largest4 < emb.count()
        exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
        recall = len(set(exact) & set(approx)) / 10
        # near-orthogonal synthetic vectors are LSH/IVF worst case; still
        # expect the nearest cells to hold a fair share of true neighbors
        assert recall >= 0.3, f"IVF recall {recall} too low"

    def test_nprobe_all_cells_equals_brute_force(self, spark, sf_dir):
        from pegasus_spark.textops.similarity import ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        full = [r["vec_id"] for r in ivf_topk(emb, 0, k=10, n_cells=16, nprobe=16).collect()]
        exact = [r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()]
        assert full == exact


class TestSphericalKmeans:
    def test_partition_invariant_and_total(self, spark, sf_dir):
        from pegasus_spark.textops.similarity import spherical_kmeans

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        a = {r["vec_id"]: r["cell"] for r in spherical_kmeans(emb, k=8, iters=1).collect()}
        assert len(a) == emb.count()                      # every vector, once
        assert all(0 <= c < 8 for c in a.values())
        # deterministic under a different partitioning (SURVEY §4.3)
        b = {
            r["vec_id"]: r["cell"]
            for r in spherical_kmeans(emb.repartition(3), k=8, iters=1).collect()
        }
        assert a == b

    def test_iteration_improves_objective(self, spark, sf_dir):
        """One Lloyd update must not worsen the spherical k-means objective
        (mean cosine to the assigned centroid direction)."""
        import numpy as np

        from pegasus_spark.textops.similarity import spherical_kmeans

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}

        def objective(assign):
            cents = {}
            for v, c in assign.items():
                cents.setdefault(c, []).append(vecs[v])
            dirs = {c: np.sum(vs, axis=0) for c, vs in cents.items()}
            return np.mean([
                vecs[v] @ dirs[c] / (np.linalg.norm(vecs[v]) * np.linalg.norm(dirs[c]))
                for v, c in assign.items()
            ])

        a0 = {r["vec_id"]: r["cell"] for r in spherical_kmeans(emb, k=8, iters=0).collect()}
        a1 = {r["vec_id"]: r["cell"] for r in spherical_kmeans(emb, k=8, iters=1).collect()}
        # tolerance covers the operator's own rounding: assignment argmax is
        # 4dp-rounded cosine over 1e-6-quantized vectors, so a per-vector
        # choice may sit up to ~1e-4 below the exact-cosine optimum
        assert objective(a1) >= objective(a0) - 1e-4

    def test_sparse_ids_raise_and_zero_vectors_drop(self, spark):
        import pytest as _pytest

        from pegasus_spark.textops.similarity import spherical_kmeans

        sparse = spark.createDataFrame(
            [(1000 + i, [float(i + 1), 1.0]) for i in range(8)],
            "vec_id long, embedding array<float>",
        )
        with _pytest.raises(ValueError, match="seeds"):
            spherical_kmeans(sparse, k=8, iters=0)
        # a zero-quantized vector (no direction) is dropped, not NULLed.
        # NB floor sends tiny NEGATIVE components to -1, so only x in
        # [0, 1e-6) quantizes to 0 — the all-zero vector is the clean case
        rows = [(i, [float(i + 1), 1.0]) for i in range(4)] + [(9, [0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["vec_id"]: r["cell"] for r in spherical_kmeans(df, k=4, iters=1).collect()}
        assert 9 not in out and set(out) == {0, 1, 2, 3}
        assert all(c is not None for c in out.values())


class TestSimhashRecallContract:
    def test_simhash_near_dup_recall_at_hamming_14(self, spark, sf_dir):
        """Quantifies the documented APPROXIMATE regime: with 4 chunks the
        pigeonhole guarantee covers hamming ≤ 3 only, so at max_hamming=14
        recall vs the brute-force all-pairs truth is < 1 but must stay
        useful; at max_hamming=3 recall must be exactly 1 (the guarantee)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
        sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
        ids = sorted(sh)
        truth14 = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if bin(sh[a] ^ sh[b]).count("1") <= 14
        }
        truth3 = {p for p in truth14 if bin(sh[p[0]] ^ sh[p[1]]).count("1") <= 3}
        got14 = {(r["id_a"], r["id_b"])
                 for r in simhash_near_dups(docs, max_hamming=14).collect()}
        got3 = {(r["id_a"], r["id_b"])
                for r in simhash_near_dups(docs, max_hamming=3).collect()}
        assert got3 == truth3, "hamming ≤ chunks-1 must be exhaustive"
        assert got14 <= truth14, "no false positives ever (exact verify)"
        if truth14:
            recall = len(got14) / len(truth14)
            # Measured ≈ 0.09 on this corpus (near-random hashes at distance
            # 14 rarely share a full 15-bit chunk). The point of this test is
            # that the number is KNOWN — it is exactly why the registry query
            # runs at max_hamming=3 (exhaustive), not 14.
            assert 0.02 <= recall < 1.0, f"measured recall moved: {recall}"


class TestNgramDfCut:
    def test_df_cut_drops_hot_gram_pairs_only(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            # docs 3-9 share ONLY the hot gram "the of and"
            *[(i, f"the of and unique{i} words{i} here{i}") for i in range(3, 10)],
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        full = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(df, n=3, tau=0.05).collect()}
        cut = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(df, n=3, tau=0.05, max_df_frac=0.5).collect()}
        assert (1, 2) in full and (1, 2) in cut  # rare-gram pair survives
        assert any(p[0] >= 3 for p in full)      # hot-gram pairs exist un-cut
        assert not any(p[0] >= 3 for p in cut)   # and are gone with the cut


class TestNearDupClusters:
    def test_transitive_chain_and_singletons(self, spark):
        """A~B, B~C must land A,B,C in one cluster keyed by min id (pairwise
        dedup alone can't guarantee one keeper); untouched docs stay
        singletons under their own id."""
        from pegasus_spark.textops.dedup import near_dup_clusters

        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in range(1, 8)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(1, 4), (4, 6), (2, 3), (6, 7)], "id_a long, id_b long"
        )
        got = {r["doc_id"]: r["cluster_id"]
               for r in near_dup_clusters(docs, pairs).collect()}
        assert got == {1: 1, 4: 1, 6: 1, 7: 1, 2: 2, 3: 2, 5: 5}

    def test_matches_minhash_pipeline(self, doc_df):
        from pegasus_spark.textops.dedup import minhash_near_dups, near_dup_clusters

        pairs = minhash_near_dups(doc_df, min_sig_match=4).select("id_a", "id_b")
        got = {r["doc_id"]: r["cluster_id"]
               for r in near_dup_clusters(doc_df, pairs).collect()}
        # 1,2,5 exact dups (+3,6 near dups chained in) share keeper 1; 4 alone
        assert got[1] == got[2] == got[5] == 1
        assert got[4] == 4


    @staticmethod
    def _clusters(docs, pairs, max_edges):
        from unittest import mock

        from pegasus_spark.textops import dedup

        with mock.patch.object(dedup, "LOCAL_CC_MAX_EDGES", max_edges):
            out = dedup.near_dup_clusters(docs, pairs)
            return out.schema, sorted(map(tuple, out.collect()))

    @settings(max_examples=15, deadline=None)
    @given(
        ids=st.lists(st.integers(0, 30), max_size=25),
        edges=st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=30),
        chain=st.integers(0, 25),
    )
    def test_local_form_equals_loop(self, spark, ids, edges, chain):
        """The driver union-find gives the loop's rows on random graphs:
        duplicate, reversed and self-loop edges, endpoints outside ``df``
        (ids 31-40 and the chain's tail), repeated ids in ``df``, a chain
        long enough for several loop rounds, and no edges at all."""
        edges = edges + [(e[1], e[0]) for e in edges[:5]]  # reversed copies
        edges += [(100 + i, 101 + i) for i in range(chain)]  # descending chain
        ids = ids + [100 + i for i in range(0, chain, 2)] + ids[:3]
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        local = self._clusters(docs, pairs, 10**9)
        loop = self._clusters(docs, pairs, -1)
        assert local == loop

    def test_small_graph_skips_the_loop(self, spark, monkeypatch):
        """A small graph runs a bounded number of Spark jobs and never enters
        the label-propagation loop, whose rounds cost several jobs each."""
        from pegasus_spark.textops import dedup

        def loop(*_a, **_k):
            raise AssertionError("small graph entered the propagation loop")

        monkeypatch.setattr(dedup, "_propagate_labels", loop)
        docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long"
        )
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup())
        out = dedup.near_dup_clusters(docs, pairs).collect()
        jobs = set(tracker.getJobIdsForGroup()) - before
        assert {r["doc_id"]: r["cluster_id"] for r in out} == {
            i: 0 if i <= 30 else i for i in range(40)
        }
        # 7-9 jobs: pair checkpoint, count, edge collect, result collect
        # (AQE adds a job per shuffle or broadcast). The loop runs 6-7 jobs
        # per round and at least two rounds.
        assert len(jobs) <= 12, f"{len(jobs)} Spark jobs for a 30-edge graph"


class TestCurateCorpus:
    def test_payload_parity_dropped_reasons_and_write(self, spark, tmp_path):
        """VERDICT-r3 #7: the dedup endgame's OUTPUT — survivors carry their
        FULL payload unchanged, the dropped side table explains every
        casualty (exact_dup = byte-identical to keeper, near_dup =
        similarity evidence only), and write_curated lays the corpus down
        source-partitioned with the audit table beside it."""
        import os

        from pegasus_spark.textops.dedup import (
            cluster_keepers,
            curate_corpus,
            write_curated,
        )

        docs = spark.createDataFrame(
            [
                (1, "same words here", "srcA"),
                (2, "same words here", "srcA"),   # exact dup of keeper 1
                (3, "same words there", "srcB"),  # near dup of keeper 1
                (4, "lonely document", "srcB"),   # singleton survives
            ],
            "doc_id long, text string, source string",
        )
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_id long"
        )
        metrics = spark.createDataFrame(
            [(1, 0.9), (2, 0.5), (3, 0.4), (4, 0.2)],
            "doc_id long, quality double",
        )
        curated, dropped = curate_corpus(docs, cluster_keepers(clusters, metrics))

        surv = {r["doc_id"]: r for r in curated.collect()}
        assert set(surv) == {1, 4}
        orig = {r["doc_id"]: r for r in docs.collect()}
        for did, row in surv.items():  # payload parity, every original column
            assert row["text"] == orig[did]["text"]
            assert row["source"] == orig[did]["source"]
        assert surv[1]["cluster_id"] == 1 and surv[4]["cluster_id"] == 4

        reasons = {r["doc_id"]: (r["keeper_id"], r["reason"]) for r in dropped.collect()}
        assert reasons == {2: (1, "exact_dup"), 3: (1, "near_dup")}

        out = str(tmp_path / "corpus")
        write_curated(curated, dropped, out)
        parts = sorted(
            d.name for d in os.scandir(f"{out}/curated")
            if d.is_dir() and d.name.startswith("source=")
        )
        assert parts == ["source=srcA", "source=srcB"]
        back = {r["doc_id"]: r["text"] for r in spark.read.parquet(f"{out}/curated").collect()}
        assert back == {1: "same words here", 4: "lonely document"}
        dback = {
            (r["doc_id"], r["keeper_id"], r["reason"])
            for r in spark.read.parquet(f"{out}/dropped").collect()
        }
        assert dback == {(2, 1, "exact_dup"), (3, 1, "near_dup")}


class TestPackShards:
    def test_boundaries_oversize_and_group_independence(self, spark):
        """Streaming first-fit semantics: shard flips when the EXCLUSIVE
        prefix sum crosses the budget; an oversized doc owns its span (the
        next doc skips shards); groups pack independently."""
        from pegasus_spark.textops.text import pack_shards

        def doc(i, src, n):
            return (i, " ".join(["w"] * n), src)

        docs = spark.createDataFrame(
            [doc(1, "a", 300), doc(2, "a", 300), doc(3, "a", 300),
             doc(4, "a", 300), doc(5, "a", 300),
             doc(10, "b", 1200), doc(11, "b", 100)],
            "doc_id long, text string, source string",
        )
        got = {r["doc_id"]: (r["n_tokens"], r["shard_id"])
               for r in pack_shards(docs, budget=512).collect()}
        # a: priors 0,300,600,900,1200 → shards 0,0,1,1,2
        assert [got[i][1] for i in (1, 2, 3, 4, 5)] == [0, 0, 1, 1, 2]
        # b: the 1200-token doc starts shard 0 and owns shards 0-2;
        # the next doc's prior=1200 → shard 2 (floor semantics)
        assert got[10] == (1200, 0) and got[11] == (100, 2)

    def test_salted_packing_splits_the_window_and_keeps_first_fit(self, spark):
        """The Zipf-safe path: salt_groups subdivides every source into
        md5(id) sub-groups — the window exchange must carry the salt (no
        single task per source), and within each (source, grp) packing unit
        the first-fit rule is byte-identical to the unsalted form
        (recomputed in plain Python)."""
        import hashlib
        import re

        from pegasus_spark.textops.text import pack_shards

        rows = [
            (i, " ".join(["w"] * (37 + (i * 13) % 200)), "cc" if i % 5 else "wiki")
            for i in range(1, 61)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = pack_shards(docs, budget=256, salt_groups=4)

        plan = out._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"hashpartitioning\([^)]*grp", plan), plan
        assert "SinglePartition" not in plan

        got = {r["doc_id"]: r for r in out.collect()}
        units: dict[tuple, list[tuple]] = {}
        for i, text, src in rows:
            grp = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 4
            assert got[i]["grp"] == grp, i
            units.setdefault((src, grp), []).append((i, len(text.split())))
        for unit in units.values():
            prior = 0
            for i, n in sorted(unit):
                assert got[i]["shard_id"] == prior // 256, (i, prior)
                assert got[i]["n_tokens"] == n
                prior += n


class TestLineDedup:
    def test_first_occurrence_kept_in_order_and_plan_is_narrow(self, spark):
        """Gopher repetition removal: later exact-duplicate lines drop,
        first occurrences keep their original order (replayed in plain
        Python), and the plan is a pure narrow map — no exchange at all."""
        from pegasus_spark.textops.text import line_dedup

        rows = [
            (1, "a\nb\na\nc\nb\na"),
            (2, "only one line"),
            (3, "x\nx\nx\nx"),
            (4, "\n\nbody\n\nbody"),  # blank lines dedup like any line
            (5, "tail\nTail\ntail"),  # case-sensitive: 'Tail' survives
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = line_dedup(docs)

        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

        got = {r["doc_id"]: r for r in out.collect()}
        for i, text in rows:
            lines = text.split("\n")
            seen, keep = set(), []
            for ln in lines:
                if ln not in seen:
                    seen.add(ln)
                    keep.append(ln)
            r = got[i]
            assert r["clean_text"] == "\n".join(keep), i
            assert r["n_lines"] == len(lines)
            assert r["n_dup_lines"] == len(lines) - len(keep)


class TestSequencePack:
    def test_ranged_strategy_matches_window_and_avoids_single_partition(
        self, spark
    ):
        """sequence_pack's two strategies are the same logical operator:
        the range+offsets path (the 100 TB form) must produce byte-identical
        rows to the global-window path at EVERY partition count — range
        boundaries decide placement, never the offset — and its physical
        plan must contain no single-partition exchange (the window path, by
        contrast, is exactly one). Also pins the chunk math against a plain
        Python replay: exact integer division, docs spanning sequences."""
        from pegasus_spark.textops.text import sequence_pack

        rows = [
            (i, " ".join(["w"] * (1 + (i * 37) % 300))) for i in range(1, 241)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        base = sequence_pack(docs, seq_len=256, n_rows=len(rows))
        plan = base._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" in plan  # the small-input form, by design

        expect = sorted(tuple(r) for r in base.collect())
        for n_parts in (2, 5, 13):
            ranged = sequence_pack(
                docs, seq_len=256, n_partitions=n_parts
            )
            rplan = ranged._jdf.queryExecution().executedPlan().toString()
            # the range exchange itself sits behind the localCheckpoint
            # (lineage truncated, like the frontier path) — what the final
            # plan must show is the window keyed by the partition id and NO
            # single-partition exchange anywhere
            assert "SinglePartition" not in rplan, rplan
            assert "hashpartitioning(_pid" in rplan, rplan
            assert sorted(tuple(r) for r in ranged.collect()) == expect, n_parts

        # plain-Python replay of the concat-and-chunk rule
        got = {r["doc_id"]: r for r in base.collect()}
        off = 0
        for i, text in rows:
            n = len(text.split())
            r = got[i]
            assert (r["n_tokens"], r["start_off"]) == (n, off), i
            assert r["first_seq"] == off // 256
            assert r["last_seq"] == (off + n - 1) // 256
            assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1
            off += n

    def test_null_text_is_inert_and_does_not_shift_other_docs(self, spark):
        """The NULL-text contract (review finding, verified): ANSI
        size(NULL) is NULL — a null doc contributes nothing to the
        concatenation stream (SUM skips NULLs, so every other doc's offset
        is identical with or without it, on BOTH strategies) and reports
        NULL n_tokens/last_seq/n_seqs itself. line_dedup likewise: NULL
        counts, never a fabricated -1."""
        from pegasus_spark.textops.text import line_dedup, sequence_pack

        rows = [(1, "a b c"), (2, None), (3, "d e f g")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        clean = spark.createDataFrame(
            [r for r in rows if r[1] is not None], "doc_id long, text string"
        )
        for kw in ({"n_rows": 3}, {"n_partitions": 3}):
            got = {r["doc_id"]: r for r in sequence_pack(docs, 4, **kw).collect()}
            ref = {r["doc_id"]: r for r in sequence_pack(clean, 4, **kw).collect()}
            assert got[2]["n_tokens"] is None
            assert got[2]["n_seqs"] is None
            for i in (1, 3):
                assert tuple(got[i]) == tuple(ref[i]), (kw, i)

        ld = {r["doc_id"]: r for r in line_dedup(docs).collect()}
        assert ld[2]["n_lines"] is None and ld[2]["n_dup_lines"] is None
        assert ld[1]["clean_text"] == "a b c" and ld[1]["n_dup_lines"] == 0


class TestPplBucketsApprox:
    def test_approx_path_has_no_window_and_matches_exact_proportions(self, spark):
        """The production (exact=False) path: no ordered window anywhere in
        the physical plan — the cutoffs are a partial-aggregable sketch —
        and on a small input (where percentile_approx is exact) the bucket
        proportions track the exact terciles within boundary-tie slack,
        with head ≥ middle ≥ tail score ordering per group by construction."""
        from pegasus_spark.textops.text import ppl_buckets

        # two sources with distinct token-frequency spreads so avg_logprob
        # varies smoothly; 45 docs per source
        rows = []
        for i in range(90):
            src = "cc" if i % 2 else "wiki"
            # common filler plus i rare singleton tokens → strictly distinct
            # rare-token fractions, so avg_logprob never ties across docs
            # (threshold-vs-ntile counts only line up with distinct scores)
            text = " ".join(["the common text"] * 5 + [f"rare{i}w{j}" for j in range(i)])
            rows.append((i, text, src))
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

        approx = ppl_buckets(docs, exact=False)
        plan = approx._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition" not in plan, plan

        got = approx.collect()
        exact = ppl_buckets(docs, exact=True).collect()
        for src in ("cc", "wiki"):
            a = [r for r in got if r["source"] == src]
            e = [r for r in exact if r["source"] == src]
            n = len(a)
            assert n == len(e) == 45
            for bucket in ("head", "middle", "tail"):
                na = sum(r["bucket"] == bucket for r in a)
                ne = sum(r["bucket"] == bucket for r in e)
                # ±2: percentile boundary rows (>= cut) vs ntile remainder
                assert abs(na - ne) <= 2, (src, bucket, na, ne)
            by_bucket = {
                b: [r["avg_logprob"] for r in a if r["bucket"] == b]
                for b in ("head", "middle", "tail")
            }
            if by_bucket["head"] and by_bucket["middle"]:
                assert min(by_bucket["head"]) >= max(by_bucket["middle"])
            if by_bucket["middle"] and by_bucket["tail"]:
                assert min(by_bucket["middle"]) >= max(by_bucket["tail"])


class TestClusterSplit:
    def test_same_cluster_same_split(self, spark):
        """Leakage safety: every member of a cross-modal near-dup cluster
        gets the SAME split, and splits are the three expected labels."""
        import pyspark.sql.functions as F

        from pegasus_spark.analytics.pipeline_queries import q_cluster_split

        res = q_cluster_split(spark, "/root/testdata/sf0.001").cache()
        splits = {r["split"] for r in res.select("split").distinct().collect()}
        assert splits <= {"train", "valid", "test"} and "train" in splits
        per_cluster = res.groupBy("cluster_id").agg(
            F.countDistinct("split").alias("n_splits"),
            F.count(F.lit(1)).alias("members"),
        )
        assert per_cluster.filter("n_splits != 1").count() == 0
        # the fixture contains real multi-member clusters, so the property
        # is exercised, not vacuous
        assert per_cluster.filter("members >= 2").count() > 0
        res.unpersist()


class TestSemanticDedup:
    def test_matches_brute_force(self, spark, sf_dir):
        """Keep/drop verdicts equal the brute-force definition recomputed in
        numpy over the SAME quantized vectors and the (already-tested)
        spherical_kmeans assignment: drop x iff some lower-id y in x's cell
        has round(cos·10⁴) ≥ τ."""
        import numpy as np

        from pegasus_spark.textops.similarity import semantic_dedup, spherical_kmeans

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        tau = 4000
        out = {
            r["vec_id"]: (r["cell"], r["is_kept"])
            for r in semantic_dedup(emb, k=8, iters=1, tau_x10k=tau).collect()
        }
        assign = {
            r["vec_id"]: r["cell"]
            for r in spherical_kmeans(emb, k=8, iters=1).collect()
        }
        q = {
            r["vec_id"]: np.floor(np.array(r["embedding"], dtype=np.float64) * 1_000_000)
            for r in emb.collect()
        }
        assert {v: c for v, (c, _) in out.items()} == assign
        cells: dict[int, list[int]] = {}
        for v, c in sorted(assign.items()):
            cells.setdefault(c, []).append(v)
        for c, members in cells.items():
            for i, x in enumerate(members):
                dup = any(
                    round(
                        float(q[x] @ q[y])
                        / (np.linalg.norm(q[x]) * np.linalg.norm(q[y]))
                        * 10000
                    )
                    >= tau
                    for y in members[:i]
                )
                assert out[x][1] == (0 if dup else 1), f"vec {x}"

    def test_exact_dup_vector_dropped_keeper_kept(self, spark):
        from pegasus_spark.textops.similarity import semantic_dedup

        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 1.0]),
            (3, [1.0, 1.0, 1.0]),
            (7, [2.0, 0.002, 0.0]),   # same direction as 0 → its dup
            (9, [0.0, -1.0, 0.0]),    # opposite of 1 → cos −1, never a dup
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["vec_id"]: r["is_kept"] for r in
               semantic_dedup(df, k=4, iters=1, tau_x10k=9500).collect()}
        assert out[0] == 1 and out[7] == 0   # keep-lowest-id within the pair
        assert out[1] == 1 and out[2] == 1 and out[3] == 1 and out[9] == 1

    def test_partition_invariant(self, spark, sf_dir):
        from pegasus_spark.textops.similarity import semantic_dedup

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        a = sorted(map(tuple, semantic_dedup(emb, k=8, iters=1).collect()))
        b = sorted(map(tuple, semantic_dedup(emb.repartition(5), k=8, iters=1).collect()))
        assert a == b

    def test_k_scaling_switch_bounds_cells_and_matches_brute_force(self, spark):
        """The q_semantic_dedup k-scaling rule (k = max(8, n//128)) above its
        floor: at n=2048 → k=16 the sf0.01 gate (which pins k=8) never runs,
        so this pins the physical-choice contract directly — (a) the larger
        k actually materializes (> 8 cells) and every cell stays within a
        small multiple of the 128-row target (the bound that keeps the
        quadratic within-cell pair block task-sized), and (b) the keep/drop
        verdicts match a brute-force within-cell cosine oracle in numpy."""
        import numpy as np

        from pegasus_spark.textops.similarity import semantic_dedup

        n, dim, tau = 2048, 16, 9500
        rng = np.random.default_rng(7)
        base = rng.normal(size=(n, dim))
        # plant near-duplicate pairs (same direction, scaled + tiny noise) so
        # both verdicts are exercised at this τ
        for i in range(0, n - 1, 11):
            base[i + 1] = base[i] * 1.5 + 0.0005
        rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

        k = max(8, n // 128)
        assert k == 16
        out = semantic_dedup(df, k=k, iters=1, tau_x10k=tau).collect()
        assert len(out) == n

        cells: dict[int, list[int]] = {}
        kept = {}
        for r in out:
            cells.setdefault(r["cell"], []).append(r["vec_id"])
            kept[r["vec_id"]] = r["is_kept"]
        assert len(cells) > 8, "k-scaling switch never materialized extra cells"
        assert max(len(m) for m in cells.values()) <= 4 * 128, {
            c: len(m) for c, m in cells.items()
        }
        assert 0 < sum(kept.values()) < n, "both verdicts must be exercised"

        # brute-force oracle over the same floor(x·1e6) quantization, within
        # the cells the operator itself reports (the assignment math is
        # pinned by the spherical_kmeans tests + oracle gate)
        q = np.floor(base.astype(np.float64) * 1_000_000)
        for members in cells.values():
            ms = sorted(members)
            Q = q[ms]
            nrm = np.sqrt((Q * Q).sum(axis=1))
            rc = np.round(((Q @ Q.T) / np.outer(nrm, nrm)) * 10000)
            for i, x in enumerate(ms):
                dup = bool((rc[i, :i] >= tau).any())
                assert kept[x] == (0 if dup else 1), f"vec {x}"


class TestUnigramLogprob:
    def test_matches_brute_force(self, spark, doc_df):
        """Score equals the pure-python recomputation (same quantization);
        the cross-engine contract itself is the driver's DuckDB gate."""
        import math
        from collections import Counter

        from pegasus_spark.textops.text import unigram_logprob

        toks = {r["doc_id"]: r["text"].split() for r in doc_df.collect()}
        cnt = Counter(t for ts in toks.values() for t in ts)
        total = float(sum(cnt.values()))
        lpq = {t: math.floor(math.log(c / total) * 1_000_000) for t, c in cnt.items()}
        out = {
            r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
            for r in unigram_logprob(doc_df).collect()
        }
        assert set(out) == set(toks)
        for d, ts in toks.items():
            n, got = out[d]
            assert n == len(ts)
            want = round(sum(lpq[t] for t in ts) / (len(ts) * 1_000_000.0), 4)
            # JVM log vs libm log may differ in the last ulp at the floor
            # boundary; allow exactly that one quantum
            assert abs(got - want) <= 2e-4, (d, got, want)

    def test_common_scores_above_rare(self, spark):
        from pegasus_spark.textops.text import unigram_logprob

        rows = [(1, "a a a a"), (2, "a a a rare")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(df).collect()}
        assert out[1] > out[2]


class TestDupSpanStats:
    def test_exact_dups_fully_flagged_unique_doc_clean(self, spark, doc_df):
        from pegasus_spark.textops.dedup import dup_span_stats

        out = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_span_ratio"])
            for r in dup_span_stats(doc_df, n=8).collect()
        }
        # docs 1,2,5 are byte-identical (13 tokens → 6 eight-token spans):
        # every span occurs 3× corpus-wide → ratio 1.0
        for d in (1, 2, 5):
            assert out[d] == (6, 6, 1.0)
        # doc 4 shares no span with anyone → ratio 0.0
        assert out[4][1] == 0 and out[4][2] == 0.0
        # doc 6 = doc 1 + appended tail: its leading spans equal doc 1's,
        # the tail-crossing spans are unique → strictly partial ratio
        assert 0 < out[6][1] < out[6][0]

    def test_short_docs_absent(self, spark):
        from pegasus_spark.textops.dedup import dup_span_stats

        df = spark.createDataFrame(
            [(1, "only five tokens right here"), (2, "a b c d e f g h i")],
            "doc_id long, text string",
        )
        out = {r["doc_id"] for r in dup_span_stats(df, n=8).collect()}
        assert out == {2}


def test_span_scrub_removes_non_canonical_spans(spark):
    """Cloned 8-token passages vanish everywhere except the lexicographically
    first (doc, pos) occurrence; untouched docs pass through intact."""
    from pegasus_spark.textops.dedup import span_scrub

    span = "s1 s2 s3 s4 s5 s6 s7 s8"
    rows = [
        (0, f"{span} a1 a2 a3 a4"),            # canonical owner (doc 0, pos 0)
        (1, f"b1 b2 {span} b3"),               # cross-doc clone → scrubbed
        (2, f"{span} c1 c2 {span}"),           # within-doc repeat → 2nd goes
        (3, "d1 d2 d3 d4 d5 d6 d7 d8 d9"),     # unique spans → untouched
        (4, "e1 e2 e3"),                        # shorter than n → untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_scrub(df, n=8).collect()}
    assert len(out) == 5
    assert (out[0]["n_removed"], out[0]["text_clean"]) == (0, rows[0][1])
    assert (out[1]["n_removed"], out[1]["text_clean"]) == (8, "b1 b2 b3")
    # doc 2: the second in-doc occurrence (pos 10..17) is covered; the first
    # is canonical only if (0,0) < (2,0) — doc 0 owns the span, so BOTH of
    # doc 2's occurrences are non-canonical and every covered token drops
    assert out[2]["n_removed"] == 16
    assert out[2]["text_clean"] == "c1 c2"
    assert (out[3]["n_removed"], out[3]["text_clean"]) == (0, rows[3][1])
    assert (out[4]["n_removed"], out[4]["text_clean"]) == (0, rows[4][1])


class TestMixtureResample:
    def test_feasibility_rule_and_determinism(self, spark):
        """Pins the SlimPajama-style mixing rule: C = min(T_s/w_s) makes the
        binding source keep EVERYTHING, every other source downsamples to
        w_s*C tokens in expectation, off-target sources drop entirely, and
        the md5-threshold keep decision is partition-count invariant."""
        import hashlib

        from pegasus_spark.textops.text import mixture_resample

        def doc(i, src, n):
            return (i, " ".join(["w"] * n), src)

        # a: 20 docs x 50 tok = 1000; b: 40 x 50 = 2000; junk: off-target
        rows = (
            [doc(i, "a", 50) for i in range(100, 120)]
            + [doc(i, "b", 50) for i in range(200, 240)]
            + [doc(i, "junk", 50) for i in range(300, 305)]
        )
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        targets = {"a": 0.5, "b": 0.5}
        out = mixture_resample(docs, targets)
        got = {r["doc_id"]: r for r in out.collect()}

        # C = min(1000/0.5, 2000/0.5) = 2000 → a keeps all (rate 1.0),
        # b keeps rate 0.5*2000/2000 = 0.5, junk drops
        assert all(100 <= i < 120 for i in got if i < 200) and sum(
            1 for i in got if i < 200
        ) == 20
        assert not any(i >= 300 for i in got)
        a_rate = got[100]["keep_rate"]
        assert abs(a_rate - 1.0) < 1e-9

        # b's kept set is exactly the md5-threshold rule, recomputed here
        for i in range(200, 240):
            u = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) / 2**32
            assert (i in got) == (u < 0.5), i

        # partition-count invariance: same rows at any layout
        got2 = {
            r["doc_id"]
            for r in mixture_resample(docs.repartition(13), targets).collect()
        }
        assert got2 == set(got)


class TestGroupSizeHistogram:
    def test_yield_curve(self, spark):
        from pegasus_spark.textops.dedup import group_size_histogram

        # 3 singletons, 2 pairs, 1 triple → 10 docs total
        rows = [(i, c) for i, c in enumerate(
            ["a", "b", "c", "d", "d", "e", "e", "f", "f", "f"]
        )]
        df = spark.createDataFrame(rows, "doc_id long, cluster_id string")
        got = {r["group_size"]: r for r in group_size_histogram(df).collect()}
        assert got[1]["n_clusters"] == 3 and got[1]["n_dupes"] == 0
        assert got[2]["n_clusters"] == 2 and got[2]["n_docs"] == 4
        assert got[3]["n_clusters"] == 1 and got[3]["n_dupes"] == 2
        # cumulative docs runs 3 → 7 → 10, and total dupes = docs - groups
        assert [got[s]["cum_docs"] for s in (1, 2, 3)] == [3, 7, 10]
        assert sum(r["n_dupes"] for r in got.values()) == 10 - 6


class TestEmbeddingDispersion:
    def test_matches_bruteforce_pairwise_mean(self, spark):
        import hashlib

        import numpy as np

        from pegasus_spark.textops.similarity import embedding_dispersion

        # deterministic pseudo-random vectors: md5-derived components, two
        # groups with different cohesion (group 1 shares a common direction)
        def vec(i, dim=16):
            h = hashlib.md5(f"disp:{i}".encode()).hexdigest()
            np.random.seed(int(h[:8], 16))
            return np.random.uniform(-1, 1, dim)

        rows = []
        for i in range(12):
            v = vec(i)
            if i % 2 == 1:
                v = v + 3.0 * np.ones(16)  # cohesive group
            rows.append((i, i % 2, [float(x) for x in v]))
        df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
        got = {r["label"]: r for r in embedding_dispersion(df).collect()}

        # brute force on the SAME quantized grid the operator defines
        def unit_q(v):
            q = np.floor(np.asarray(v, dtype=np.float32).astype(np.float64) * 1_000_000)
            u = q / np.sqrt((q * q).sum())
            return np.floor(u * 10_000)

        for lbl in (0, 1):
            us = [unit_q(r[2]) for r in rows if r[1] == lbl]
            n = len(us)
            acc = sum(
                float(np.dot(us[i], us[j]))
                for i in range(n) for j in range(n) if i != j
            )
            want = round(acc / (n * (n - 1) * 1e8), 6)
            assert got[lbl]["n_vecs"] == n
            assert abs(got[lbl]["mean_pairwise_cos"] - want) < 1e-9
        assert got[1]["mean_pairwise_cos"] > 0.9 > got[0]["mean_pairwise_cos"]

    def test_singleton_group_is_null(self, spark):
        from pegasus_spark.textops.similarity import embedding_dispersion

        df = spark.createDataFrame(
            [(0, 7, [1.0, 0.0]), (1, 8, [1.0, 0.0]), (2, 8, [1.0, 0.0])],
            "vec_id long, label int, embedding array<float>",
        )
        got = {r["label"]: r for r in embedding_dispersion(df).collect()}
        assert got[7]["mean_pairwise_cos"] is None and got[7]["n_vecs"] == 1
        # identical unit vectors: mean pairwise cosine on the 4dp grid is ~1
        assert abs(got[8]["mean_pairwise_cos"] - 1.0) < 1e-3


class TestPIIScrub:
    def test_exact_redaction_and_counts(self, spark):
        from pegasus_spark.textops.text import pii_scrub

        rows = [
            (0, "mail bob.smith+x@sub.example.co.uk now"),
            (1, "server at 192.168.0.1 and 10.0.0.255 up"),
            (2, "call 555-867-5309 or 555.123.4567 today"),
            (3, "none here, just words and 1234 numbers"),
            (4, "a@b.io from 8.8.8.8 tel 800-555-0100"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert got[0]["scrubbed"] == "mail <EMAIL> now"
        assert (got[0]["n_email"], got[0]["n_ipv4"], got[0]["n_phone"]) == (1, 0, 0)
        assert got[1]["scrubbed"] == "server at <IP> and <IP> up"
        assert got[1]["n_ipv4"] == 2
        # dotted phone must scrub as PHONE, not half-match as an IP
        assert got[2]["scrubbed"] == "call <PHONE> or <PHONE> today"
        assert (got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 2)
        assert got[3]["scrubbed"] == rows[3][1] and got[3]["n_email"] == 0
        assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (1, 1, 1)

    def test_scrub_is_idempotent(self, spark):
        from pegasus_spark.textops.text import pii_scrub

        df = spark.createDataFrame(
            [(0, "x a@b.io 8.8.8.8 555-123-4567 y")], "doc_id long, text string"
        )
        once = pii_scrub(df).withColumnRenamed("scrubbed", "text")
        twice = pii_scrub(once.select("doc_id", "text")).collect()[0]
        assert twice["scrubbed"] == "x <EMAIL> <IP> <PHONE> y"
        assert (twice["n_email"], twice["n_ipv4"], twice["n_phone"]) == (0, 0, 0)


class TestPhashNearDup:
    def test_planted_groups_match_brute_force(self, spark, sf_dir):
        """The gated phash query's pair set must equal an all-pairs brute
        force over the same synthesized hashes (pigeonhole 4×15 chunks is
        exhaustive for hamming ≤ 3)."""
        from pegasus_spark.analytics.pipeline_queries import q_phash_near_dup

        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in q_phash_near_dup(spark, sf_dir).collect()}

        import hashlib

        def phash(doc_id: int) -> int:
            g, v = doc_id % 97, (doc_id // 97) % 4
            h = int(hashlib.md5(str(g).encode()).hexdigest()[:15], 16)
            if v in (1, 3):
                h ^= 1 << (g % 60)
            if v in (2, 3):
                h ^= 1 << ((g * 7 + 13) % 60)
            return h

        ids = sorted(
            r["doc_id"]
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id").collect()
        )
        hs = {i: phash(i) for i in ids}
        want = {}
        for ai, a in enumerate(ids):
            for b in ids[ai + 1:]:
                d = bin(hs[a] ^ hs[b]).count("1")
                if d <= 3:
                    want[(a, b)] = d
        assert got == want
        assert want, "planted scheme must actually produce near-dup pairs"


class TestParagraphDedup:
    def test_global_first_occurrence_and_min_chars_exemption(self, spark):
        """Corpus-wide paragraph dedup: a paragraph shared across docs
        survives only at its globally-smallest (doc_id, pos); within-doc
        order is preserved; paragraphs under min_chars are exempt.
        Replayed exactly in plain Python."""
        from pegasus_spark.textops.dedup import paragraph_dedup

        rows = [
            (1, "shared banner\nunique one\nok"),
            (2, "shared banner\nunique two\nok"),
            (3, "unique three\nshared banner\nshared banner"),
            (4, "ok\nok\nunique four"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        def replay(min_chars):
            seen = {}
            for did, text in sorted(rows):
                for pos, p in enumerate(text.split("\n")):
                    seen.setdefault(p, (did, pos))
            out = {}
            for did, text in rows:
                paras = text.split("\n")
                keep = [
                    p for pos, p in enumerate(paras)
                    if len(p) < min_chars or seen[p] == (did, pos)
                ]
                out[did] = ("\n".join(keep), len(paras), len(paras) - len(keep))
            return out

        for min_chars in (0, 3):
            got = {
                r["doc_id"]: (r["clean_text"], r["n_paras"], r["n_dup_paras"])
                for r in paragraph_dedup(docs, min_chars=min_chars).collect()
            }
            assert got == replay(min_chars), f"min_chars={min_chars}"

    def test_winner_agg_is_partial_aggregable(self, spark):
        """The 100 TB posture: the winner side must be a partial-mode
        aggregate keyed on the md5 (map-side combinable, so boilerplate
        mega-keys collapse before the exchange) — NOT a window sort over
        the paragraph partitions."""
        from pegasus_spark.textops.dedup import paragraph_dedup

        docs = spark.createDataFrame(
            [(i, f"banner\nbody-{i}") for i in range(20)],
            "doc_id long, text string",
        )
        plan = paragraph_dedup(docs)._jdf.queryExecution().executedPlan().toString()
        assert "partial_min" in plan, plan
        assert "Window" not in plan, plan


class TestLabelOutliers:
    def test_matches_numpy_grid_brute_force_and_plants_outlier(self, spark):
        """label_outliers == the exact integer-grid brute force in numpy;
        a vector planted at another label's centroid is flagged."""
        import numpy as np

        from pegasus_spark.textops.similarity import label_outliers

        rng = np.random.default_rng(7)
        dim, grid = 8, 1000
        centers = {0: rng.normal(0.3, 0.02, dim), 1: rng.normal(-0.3, 0.02, dim)}
        rows = []
        for vid in range(40):
            lbl = vid % 2
            rows.append((vid, (centers[lbl] + rng.normal(0, 0.01, dim)).tolist(), lbl))
        # vec 40 carries label 0 but sits on label 1's center → outlier
        rows.append((40, centers[1].tolist(), 0))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

        got = {r["vec_id"]: r for r in label_outliers(df).collect()}

        # exact replay on the same grid (floats go through float32 like parquet)
        q = {
            vid: np.floor((np.array(v, dtype=np.float32).astype(np.float64) + 1.0) * grid
                          ).astype(np.int64)
            for vid, v, _ in rows
        }
        labels = {vid: l for vid, _, l in rows}
        cent = {}
        for l in (0, 1):
            members = [q[v] for v in q if labels[v] == l]
            s = np.sum(members, axis=0, dtype=np.int64)
            cent[l] = (grid * s) // len(members)
        for vid in q:
            d = {l: int(np.sum((grid * q[vid] - cent[l]) ** 2)) for l in (0, 1)}
            nearest = min((d[l], l) for l in (0, 1))
            r = got[vid]
            assert r["d_own"] == d[labels[vid]], vid
            assert (r["d_nearest"], r["nearest_label"]) == nearest, vid
            assert r["is_outlier"] == (nearest[1] != labels[vid]), vid
        assert got[40]["is_outlier"] is True
        assert sum(r["is_outlier"] for r in got.values()) == 1


class TestTokenFertility:
    def test_matches_plain_python_sums(self, spark):
        from pegasus_spark.textops.text import token_fertility

        rows = [
            (1, "aaaa bbbb cc", "en"),
            (2, "dddddddd ee", "en"),
            (3, "ffff", "de"),
            (4, "gg hh ii jj kk", "de"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = {r["lang"]: r for r in token_fertility(docs).collect()}
        for lang in ("en", "de"):
            texts = [t for _, t, l in rows if l == lang]
            nt = sum(len(t.split()) for t in texts)
            nc = sum(len(t) for t in texts)
            ns = sum(len(t) // 4 for t in texts)
            r = got[lang]
            assert r["n_docs"] == len(texts)
            assert r["total_tokens"] == nt
            assert r["chars_per_token"] == round(nc / nt, 4)
            assert r["subwords_per_token"] == round(ns / nt, 4)


class TestHardNegatives:
    def test_excludes_same_label_and_matches_brute_force(self, spark):
        import numpy as np

        from pegasus_spark.textops.similarity import hard_negatives

        rng = np.random.default_rng(11)
        rows = [
            (vid, rng.normal(0, 1, 6).tolist(), vid % 3) for vid in range(30)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        out = hard_negatives(df, query_ids=[0, 1], k=4).collect()

        vecs = {v: np.array(e, dtype=np.float32).astype(np.float64) for v, e, _ in rows}
        labels = {v: l for v, _, l in rows}
        for aid in (0, 1):
            mine = [r for r in out if r["anchor_id"] == aid]
            assert len(mine) == 4
            assert all(r["label"] != labels[aid] for r in mine)
            cand = sorted(
                (
                    -round(float(vecs[v] @ vecs[aid])
                           / (np.linalg.norm(vecs[v]) * np.linalg.norm(vecs[aid])), 4),
                    v,
                )
                for v in vecs
                if labels[v] != labels[aid]
            )[:4]
            got = [(-round(r["cos"], 4), r["vec_id"]) for r in
                   sorted(mine, key=lambda r: r["neg_rank"])]
            assert got == cand


class TestRuleAblation:
    def test_matches_plain_python_replay(self, spark):
        from pegasus_spark.textops.text import rule_ablation, with_gopher_rules

        # mix of docs failing various rule subsets
        rows = [(i, t) for i, t in enumerate([
            "short",                                           # fails len+stop+mwl
            " ".join(f"word{j} the of and is to longish" for j in range(8)),
            " ".join("the" for _ in range(40)),                # fails uniq+mwl
            " ".join(f"uniquetoken{j} the of" for j in range(16)),
        ])]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        flags = {
            r["doc_id"]: r
            for r in with_gopher_rules(docs)
            .select("doc_id", "r_len", "r_mean_wlen", "r_stop", "r_uniq")
            .collect()
        }
        rules = ["r_len", "r_mean_wlen", "r_stop", "r_uniq"]
        nfails = {d: sum(not flags[d][r] for r in rules) for d in flags}
        expect = {}
        for r in rules:
            nf = sum(not flags[d][r] for d in flags)
            nfo = sum((not flags[d][r]) and nfails[d] == 1 for d in flags)
            expect[r] = (nf, nfo, round(nf / len(rows), 4))
        nf_any = sum(nfails[d] > 0 for d in flags)
        expect["any"] = (nf_any, sum(nfails[d] == 1 for d in flags),
                         round(nf_any / len(rows), 4))

        got = {
            r["rule"]: (r["n_fail"], r["n_fail_only"], r["fail_rate"])
            for r in rule_ablation(docs).collect()
        }
        assert got == expect
        # the report must not be vacuous on this fixture
        assert got["any"][0] > 0


class TestC4Rules:
    def test_each_rule_fires_and_keep_is_conjunction(self, spark):
        from pegasus_spark.textops.text import with_c4_rules

        rows = [
            (1, "a good clean sentence with enough words."),
            (2, "too short."),                               # fails min_words
            (3, "code block here { x = 1 } with words."),    # fails braces
            (4, "lorem ipsum dolor sit amet filler text."),  # fails lorem
            (5, "enable javascript to view this page now."), # fails badword
            (6, "no terminal punctuation on this line here"),# fails terminal
            (7, 'he said "stop!" and they did so then.'),
            (8, "ends with a quote after punctuation.”"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in with_c4_rules(docs).collect()}

        assert got[1]["keep"] is True
        assert got[2]["c_min_words"] is False and got[2]["keep"] is False
        assert got[3]["c_no_braces"] is False and got[3]["keep"] is False
        assert got[4]["c_no_lorem"] is False and got[4]["keep"] is False
        assert got[5]["c_no_badword"] is False and got[5]["keep"] is False
        assert got[6]["c_terminal"] is False and got[6]["keep"] is False
        assert got[7]["keep"] is True   # '.' terminal
        assert got[8]["c_terminal"] is True and got[8]["keep"] is True
        for d, r in got.items():
            flags = [r["c_terminal"], r["c_min_words"], r["c_no_braces"],
                     r["c_no_lorem"], r["c_no_badword"]]
            assert r["keep"] == all(flags), d

    def test_plan_is_narrow(self, spark):
        from pegasus_spark.textops.text import with_c4_rules

        docs = spark.createDataFrame([(1, "x.")], "doc_id long, text string")
        plan = with_c4_rules(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


class TestParagraphDedupRandomized:
    def test_random_corpora_match_python_replay(self, spark):
        """Seeded random corpora (shared paragraph pool so cross-doc dups
        are dense, variable doc lengths, blank paragraphs): paragraph_dedup
        must equal the plain-Python first-occurrence replay on every doc,
        for min_chars 0 and 3."""
        import random

        from pegasus_spark.textops.dedup import paragraph_dedup

        rng = random.Random(1234)
        pool = [f"para-{i}" for i in range(12)] + ["", "x", "yy"]
        for case in range(4):
            rows = []
            for did in range(rng.randint(5, 25)):
                paras = [rng.choice(pool) for _ in range(rng.randint(1, 8))]
                rows.append((did, "\n".join(paras)))
            docs = spark.createDataFrame(rows, "doc_id long, text string")
            for min_chars in (0, 3):
                seen = {}
                for did, text in sorted(rows):
                    for pos, p in enumerate(text.split("\n")):
                        seen.setdefault(p, (did, pos))
                expect = {}
                for did, text in rows:
                    paras = text.split("\n")
                    keep = [
                        p for pos, p in enumerate(paras)
                        if len(p) < min_chars or seen[p] == (did, pos)
                    ]
                    expect[did] = (
                        "\n".join(keep), len(paras), len(paras) - len(keep)
                    )
                got = {
                    r["doc_id"]: (r["clean_text"], r["n_paras"], r["n_dup_paras"])
                    for r in paragraph_dedup(docs, min_chars=min_chars).collect()
                }
                assert got == expect, f"case={case} min_chars={min_chars}"


class TestMinhashDecontaminate:
    def test_planted_eval_leak_flagged_unrelated_not(self, spark):
        """A corpus doc that is a light edit of an eval doc must flag; a
        corpus doc sharing no shingles must not; the eval docs themselves
        never appear in the output."""
        from pegasus_spark.textops.dedup import minhash_decontaminate

        eval_text = (
            "which of the following best describes the boiling point of "
            "water at standard atmospheric pressure in celsius units"
        )
        corpus = spark.createDataFrame(
            [
                (10, eval_text.replace("celsius", "centigrade")),  # leak
                (11, "entirely unrelated prose about spark shuffle planning"
                     " and adaptive query execution runtime behavior"),
            ],
            "doc_id long, text string",
        )
        evals = spark.createDataFrame(
            [(900, eval_text)], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in minhash_decontaminate(corpus, evals).collect()}
        assert 10 in got and 11 not in got and 900 not in got
        assert got[10]["n_eval_matches"] == 1
        assert got[10]["max_sig_matches"] >= 4

    def test_exact_eval_copy_matches_all_positions(self, spark):
        from pegasus_spark.textops.dedup import minhash_decontaminate

        text = "the exact same evaluation question text appears verbatim here"
        corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
        evals = spark.createDataFrame([(2, text)], "doc_id long, text string")
        rows = minhash_decontaminate(corpus, evals).collect()
        assert len(rows) == 1 and rows[0]["max_sig_matches"] == 8


class TestEpochSchedule:
    def test_cap_and_exact_integer_math(self, spark):
        """Hand-checkable pool: src_a 100 tokens, src_b 900 tokens. Budget
        200% = 2000 tokens at weights 1:1 → each source owes 1000. src_a
        saturates at 4 epochs (serves 400, 600 unfilled); src_b runs
        1000*1000//900 = 1111 milli-epochs with zero unfilled."""
        from pegasus_spark.textops.text import epoch_schedule

        rows = [(i, "w " * 9 + "w", "src_a") for i in range(10)]      # 10×10
        rows += [(100 + i, "w " * 9 + "w", "src_b") for i in range(90)]  # 90×10
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {
            r["source"]: r
            for r in epoch_schedule(
                df, targets={"src_a": 1, "src_b": 1}, budget_mult_pct=200
            ).collect()
        }
        a, b = got["src_a"], got["src_b"]
        assert (a["avail_tokens"], a["need_tokens"]) == (100, 1000)
        assert a["epochs_milli"] == 4000
        assert (a["served_tokens"], a["unfilled_tokens"]) == (400, 600)
        assert (b["avail_tokens"], b["need_tokens"]) == (900, 1000)
        assert b["epochs_milli"] == 1111
        assert (b["served_tokens"], b["unfilled_tokens"]) == (1000, 0)

    def test_untargeted_sources_drop(self, spark):
        from pegasus_spark.textops.text import epoch_schedule

        df = spark.createDataFrame(
            [(1, "a b c", "keep"), (2, "d e f", "drop")],
            "doc_id long, text string, source string",
        )
        got = epoch_schedule(df, targets={"keep": 1}).collect()
        assert [r["source"] for r in got] == ["keep"]


class TestQualityThresholdSweep:
    def test_monotone_and_total_row(self, spark, sf_dir):
        """Kept counts must be non-increasing in the threshold, the lowest
        materialized threshold must cover the whole pool (share 1.0), and
        every kept count must equal a direct filter at that cut."""
        from pegasus_spark.textops.text import quality_threshold_sweep, with_quality

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sweep = quality_threshold_sweep(docs).collect()
        assert len(sweep) >= 2
        kept = [r["n_docs_kept"] for r in sweep]
        assert kept == sorted(kept, reverse=True)
        assert sweep[0]["doc_share"] == 1.0 and sweep[0]["token_share"] == 1.0
        q = with_quality(docs).select("quality").toPandas()["quality"]
        import math

        for r in sweep[1:3]:
            t = r["threshold_x10"]
            direct = int((q.map(lambda x: min(math.floor(x * 10), 9)) >= t).sum())
            assert r["n_docs_kept"] == direct


class TestKnnLabelProbe:
    def test_planted_clusters_and_singleton_disagrees(self, spark):
        """Two tight same-label pairs agree at 1-NN; a singleton label's
        nearest neighbor necessarily carries another label, so it
        disagrees (sample_mod=1 makes every vector an anchor)."""
        from pegasus_spark.textops.similarity import knn_label_probe

        rows = [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.9, 0.1, 0.0, 0.0], 0),
            (3, [0.0, 1.0, 0.0, 0.0], 1),
            (4, [0.1, 0.9, 0.0, 0.0], 1),
            (5, [0.0, 0.0, 1.0, 0.0], 2),   # singleton label
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        got = {r["label"]: r for r in knn_label_probe(df, sample_mod=1).collect()}
        assert (got[0]["n_anchors"], got[0]["n_agree"]) == (2, 2)
        assert (got[1]["n_anchors"], got[1]["n_agree"]) == (2, 2)
        assert (got[2]["n_anchors"], got[2]["n_agree"]) == (1, 0)
        assert got[0]["agree_rate"] == 1.0 and got[2]["agree_rate"] == 0.0


_KNN_FIXTURE = [
    (1, [1.0, 0.0, 0.0, 0.0], 0),
    (2, [0.9, 0.1, 0.0, 0.0], 0),
    (3, [0.0, 1.0, 0.0, 0.0], 1),
    (4, [0.1, 0.9, 0.0, 0.0], 1),
    (5, [0.0, 0.0, 1.0, 0.0], 2),  # singleton label; its NN ties → id 1
]


class TestKnnKappa:
    def test_hand_computed_kappa(self, spark):
        """On the planted fixture: gold {0:2, 1:2, 2:1}, predictions
        {0:3, 1:2} (the singleton's all-zero cosines tie-break to id 1),
        4/5 agreements → po = 0.8, pe = (2·3 + 2·2)/25 = 0.4,
        κ = (4·5 − 10)/(25 − 10) = 2/3."""
        from pegasus_spark.textops.similarity import knn_kappa

        df = spark.createDataFrame(
            _KNN_FIXTURE, "vec_id long, embedding array<float>, label int"
        )
        [r] = knn_kappa(df, sample_mod=1).collect()
        assert (r["n_anchors"], r["n_agree"]) == (5, 4)
        assert r["po"] == 0.8 and r["pe"] == 0.4
        assert r["kappa"] == round(10 / 15, 4)

    def test_single_class_degenerate_is_null(self, spark):
        """All-one-class input: pe = 1, the denominator vanishes, and κ
        must come back NULL rather than raising."""
        from pegasus_spark.textops.similarity import knn_kappa

        df = spark.createDataFrame(
            [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0)],
            "vec_id long, embedding array<float>, label int",
        )
        [r] = knn_kappa(df, sample_mod=1).collect()
        assert (r["po"], r["pe"]) == (1.0, 1.0)
        assert r["kappa"] is None


class TestKnnClassReport:
    def test_hand_computed_prf(self, spark):
        """Per-class counts on the planted fixture — label 0 is
        over-predicted (precision 2/3, recall 1), label 2 is never
        predicted (precision NULL, recall 0, f1 0)."""
        from pegasus_spark.textops.similarity import knn_class_report

        df = spark.createDataFrame(
            _KNN_FIXTURE, "vec_id long, embedding array<float>, label int"
        )
        got = {r["label"]: r for r in knn_class_report(df, sample_mod=1).collect()}
        assert set(got) == {0, 1, 2}
        r0 = got[0]
        assert (r0["n_gold"], r0["n_pred"], r0["n_correct"]) == (2, 3, 2)
        assert r0["precision"] == round(2 / 3, 4)
        assert r0["recall"] == 1.0 and r0["f1"] == 0.8
        r1 = got[1]
        assert (r1["n_gold"], r1["n_pred"], r1["n_correct"]) == (2, 2, 2)
        assert (r1["precision"], r1["recall"], r1["f1"]) == (1.0, 1.0, 1.0)
        r2 = got[2]
        assert (r2["n_gold"], r2["n_pred"], r2["n_correct"]) == (1, 0, 0)
        assert r2["precision"] is None
        assert r2["recall"] == 0.0 and r2["f1"] == 0.0


class TestCompressionRatio:
    def test_matches_zlib_replay_and_flags_planted_boilerplate(self, spark):
        """Exact zlib-size replay (same interpreter, same zlib build) over
        the Arrow-batched UDF path; the planted repeated-phrase doc flags
        as repetitive, ordinary prose does not, and an empty doc yields a
        NULL ratio instead of a divide error."""
        import zlib

        from pegasus_spark.textops.text import compression_ratio

        rows = [
            (1, "the quick brown fox jumps over the lazy dog near the bank"),
            (2, "spam and eggs " * 40),  # planted boilerplate — compresses hard
            (3, "distributed engines shuffle partitions across executor cores"),
            (4, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
        for doc_id, text in rows:
            raw = len(text.encode("utf-8"))
            z = len(zlib.compress(text.encode("utf-8"), 6))
            r = got[doc_id]
            assert r["n_raw_bytes"] == raw and r["n_zip_bytes"] == z
            if raw:
                assert r["zip_ratio"] == round(z / raw, 4)
        assert got[2]["is_repetitive"] and got[2]["zip_ratio"] < 0.3
        assert not got[1]["is_repetitive"] and not got[3]["is_repetitive"]
        assert got[4]["zip_ratio"] is None and got[4]["is_repetitive"] is False


class TestPackManifest:
    def test_digest_is_order_free_and_partition_invariant(self, spark):
        """The manifest digest depends only on shard MEMBERSHIP: identical
        across input partitionings, and a hand-built replay of
        md5(sorted md5(id)s joined by '|') reproduces it."""
        import hashlib

        from pegasus_spark.textops.text import pack_manifest, pack_shards

        rows = [(i, "tok " * ((i % 7) + 2), f"src{i % 2}") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        m1 = {(r["source"], r["shard_id"]): r
              for r in pack_manifest(pack_shards(df, budget=16)).collect()}
        m2 = {(r["source"], r["shard_id"]): r
              for r in pack_manifest(pack_shards(df.repartition(7), budget=16)).collect()}
        assert m1.keys() == m2.keys() and len(m1) > 2
        for k in m1:
            assert m1[k]["digest"] == m2[k]["digest"]
            assert m1[k]["n_docs"] == m2[k]["n_docs"]

        assign = {}
        for r in pack_shards(df, budget=16).collect():
            assign.setdefault((r["source"], r["shard_id"]), []).append(r["doc_id"])
        for k, ids in assign.items():
            hexes = sorted(hashlib.md5(str(i).encode()).hexdigest() for i in ids)
            want = hashlib.md5("|".join(hexes).encode()).hexdigest()
            assert m1[k]["digest"] == want
            assert m1[k]["first_id"] == min(ids) and m1[k]["last_id"] == max(ids)


class TestMinhashIndexDedup:
    def test_batch_near_dup_of_index_flags(self, spark):
        """A batch doc that lightly edits an index doc flags; a fresh batch
        doc doesn't; index docs never appear in the output."""
        from pegasus_spark.textops.dedup import minhash_index_dedup

        base = (
            "spark shuffles partition data across executors during wide "
            "transformations like joins and aggregations at scale"
        )
        index = spark.createDataFrame(
            [(100, base), (101, "other committed corpus text entirely")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [
                (1, base.replace("executors", "workers")),     # near-dup
                (2, "genuinely novel content about bloom filter sharding"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in minhash_index_dedup(batch, index).collect()}
        assert 1 in got and 2 not in got and 100 not in got
        assert got[1]["n_index_matches"] == 1
        assert got[1]["max_sig_matches"] >= 4


def _signed64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >> 63 else x


def _plan(df, which: str = "optimizedPlan") -> str:
    return getattr(df._jdf.queryExecution(), which)().toString()


class TestBucketPairs:
    """``operators.bucket_pairs``, the one candidate-then-verify join behind
    every bucketed near-dup family."""

    @settings(max_examples=10, deadline=None)
    @given(
        bases=st.lists(st.integers(-(1 << 63), (1 << 63) - 1), min_size=1, max_size=3),
        rows=st.lists(
            st.tuples(st.integers(0, 2), st.lists(st.integers(0, 63), max_size=4)),
            min_size=1, max_size=10,
        ),
        n_probe=st.integers(0, 4),
        chunks=st.integers(2, 4),
    )
    def test_hamming_chunks_match_brute_force(self, spark, bases, rows, n_probe, chunks):
        """Self and probe forms over pigeonhole chunk keys equal the
        brute-force Hamming ball at max_hamming = chunks - 1 (exhaustive):
        full-width signed hashes with the top bit set, repeated hashes
        (pairs meeting in every chunk come out once), and probe rows that
        are near copies of the left side's."""
        from pegasus_spark.operators import bucket_pairs
        from pegasus_spark.session import local_df
        from pegasus_spark.textops.dedup import chunk_keys, hamming

        hashes = []
        for base, flips in rows:
            h = bases[base % len(bases)]
            for b in flips:
                h ^= 1 << b
            hashes.append(_signed64(h))
        left = list(enumerate(hashes))
        right = [(100 + j, _signed64(h ^ (1 << (17 * j % 64))))
                 for j, h in enumerate(hashes[:n_probe])]
        max_h = chunks - 1

        def dist(x, y):
            return bin((x ^ y) & ((1 << 64) - 1)).count("1")

        want = {(0, a, b, dist(x, y)) for a, x in left for b, y in left
                if a < b and dist(x, y) <= max_h}
        want |= {(1, a, b, dist(x, y)) for a, x in left for b, y in right
                 if dist(x, y) <= max_h}

        schema = "id long, h long"
        ldf, rdf = local_df(spark, left, schema), local_df(spark, right, schema)

        def pairs(right_df):
            return bucket_pairs(
                ldf, "id", chunk_keys("h", 64, chunks), ["h"],
                hamming("h"), F.col("hamming") <= max_h, right=right_df,
            )

        got = (pairs(None).withColumn("form", F.lit(0))
               .unionByName(pairs(rdf).withColumn("form", F.lit(1))).collect())
        rows_out = [(r["form"], r["id_a"], r["id_b"], r["hamming"]) for r in got]
        assert len(rows_out) == len(set(rows_out))  # each pair once
        assert set(rows_out) == want

    def test_minhash_near_dups_plan_has_one_join(self, doc_df):
        """The signature rides the band join: no id joins back to the
        signature table."""
        plan = _plan(minhash_near_dups(doc_df))
        joins = [ln for ln in plan.splitlines() if ln.lstrip(" +-:|").startswith("Join ")]
        assert len(joins) == 1, plan

    def test_embedding_pairs_plan_has_no_aggregate(self, spark):
        """A scalar bucket key needs no dedupe, hence no aggregate."""
        from pegasus_spark.textops.similarity import embedding_near_dup_pairs

        emb = spark.createDataFrame(
            [(i, [float(i % 3), 1.0, 0.5, float(i)]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        out = embedding_near_dup_pairs(emb, tau=0.5, n_bits=2)
        assert "Aggregate" not in _plan(out), _plan(out)
        assert out.count() > 0

    def test_minhash_decontaminate_broadcasts_eval_side(self, doc_df, spark):
        """With size-based broadcasting off, the eval side still broadcasts
        into the band probe (the caller's hint), and it is the only join."""
        from pegasus_spark.textops.dedup import minhash_decontaminate

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = minhash_decontaminate(
                doc_df.filter("doc_id <> 2"), doc_df.filter("doc_id = 2")
            )
            plan = _plan(out, "executedPlan")
            got = {r["doc_id"] for r in out.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        joins = [ln for ln in plan.splitlines() if "Join " in ln]
        assert len(joins) == 1 and "BroadcastHashJoin" in joins[0], plan
        assert "BuildRight" in joins[0], plan
        assert {1, 5} <= got and 4 not in got

    def test_minhash_accuracy_broadcast_switch_equal_rows(self, doc_df, spark):
        """Both sides of ACCURACY_BROADCAST_MAX_IDS give the same rows. With
        size-based broadcasting off, the shingle-array joins sort-merge only
        on the large side."""
        from unittest import mock

        from pegasus_spark.textops import dedup

        def run(max_ids):
            with mock.patch.object(dedup, "ACCURACY_BROADCAST_MAX_IDS", max_ids):
                out = dedup.minhash_accuracy(doc_df, min_sig_match=1)
                return _plan(out, "executedPlan"), sorted(map(tuple, out.collect()))

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            (small_plan, small), (large_plan, large) = run(10**9), run(-1)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" not in small_plan, small_plan
        assert "SortMergeJoin" in large_plan, large_plan
        assert small == large and small
