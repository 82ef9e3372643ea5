"""Exact Python replays for the round-5 release-engineering batch:
pagerank, length_percentiles, temperature_mix, train_test_split,
bpe_pair_stats. Each test recomputes the operator's algorithm in plain
Python/numpy over the same parquet input and asserts bit-exact equality
with the Spark result — the same discipline as the label_outliers /
sequence_pack replays in test_textops.py."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import duckdb
import pytest

from pegasus_spark.analytics.pipeline_queries import (
    q_aesthetic_score,
    q_ann_recall,
    q_bpe_pair_stats,
    q_cluster_silhouette,
    q_ngram_topk,
    q_quantization_recall,
    q_clip_aesthetic_grid,
    q_clip_filter,
    q_column_profile,
    q_conversion_latency,
    q_corpus_diff,
    q_daily_anomaly,
    q_key_skew_report,
    q_lang_pivot,
    q_length_percentiles,
    q_pagerank,
    q_props_stats,
    q_quality_checks,
    q_source_lang_cube,
    q_stratified_sample,
    q_temperature_mix,
    q_text_normalize,
    q_train_test_split,
    q_triangle_count,
    q_vocab_stats,
)
from pegasus_spark.analytics.queries import (
    q_revenue_yoy,
    q_brand_supplier_counts,
    q_daily_volume_ma7,
    q_promo_revenue_share,
    q_rfm_segments,
    q_host_degree_stats,
    q_revenue_forecast,
)
from tests.conftest import SF_TEST_DIR


def _md5_bucket(v, mod: int) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:7], 16) % mod


@pytest.fixture(scope="module")
def docs_rows():
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text, lang, source, n_chars "
        f"FROM '{SF_TEST_DIR}/documents.parquet'"
    ).fetchall()
    con.close()
    return rows


class TestPagerank:
    def test_matches_python_replay(self, spark, docs_rows):
        edges = set()
        for doc_id, *_ in docs_rows:
            src, dst = doc_id % 97, _md5_bucket(doc_id, 97)
            if src != dst:
                edges.add((src, dst))
        deg = Counter(s for s, _ in edges)
        nodes = {s for s, _ in edges} | {d for _, d in edges}
        rank = {h: 1_000_000 for h in nodes}
        for _ in range(3):
            contrib: dict[int, int] = defaultdict(int)
            for s, d in edges:
                contrib[d] += rank[s] // deg[s]
            rank = {h: 150_000 + (850 * contrib.get(h, 0)) // 1000 for h in nodes}
        got = q_pagerank(spark, SF_TEST_DIR).collect()
        assert len(got) == len(nodes)
        for r in got:
            assert r["rank_micro"] == rank[r["host"]]
            assert r["out_deg"] == deg.get(r["host"], 0)
        # ordering contract: rank desc, host asc
        keys = [(-r["rank_micro"], r["host"]) for r in got]
        assert keys == sorted(keys)


class TestHitsScores:
    def test_matches_integer_replay_and_norm_invariants(self, spark, docs_rows):
        """q_hits_scores must equal a plain-Python integer replay of the
        3 unrolled rounds (same edges as pagerank, auth←Σ hub over
        in-edges, hub←Σ NEW auth over out-edges, L∞ renorm to 10⁶ via
        // max), and the renorm contract must hold: every score in
        [0, 10⁶] with both maxima pinned at exactly 10⁶."""
        from pegasus_spark.analytics.pipeline_queries import q_hits_scores

        edges = set()
        for doc_id, *_ in docs_rows:
            src, dst = doc_id % 97, _md5_bucket(doc_id, 97)
            if src != dst:
                edges.add((src, dst))
        nodes = {s for s, _ in edges} | {d for _, d in edges}
        hub = {h: 1_000_000 for h in nodes}
        for _ in range(3):
            ac: dict[int, int] = defaultdict(int)
            for s, d in edges:
                ac[d] += hub[s]
            m = max(max(ac.values(), default=0), 1)
            auth = {h: ac.get(h, 0) * 1_000_000 // m for h in nodes}
            hc: dict[int, int] = defaultdict(int)
            for s, d in edges:
                hc[s] += auth[d]
            m = max(max(hc.values(), default=0), 1)
            hub = {h: hc.get(h, 0) * 1_000_000 // m for h in nodes}
        got = q_hits_scores(spark, SF_TEST_DIR).collect()
        assert len(got) == len(nodes)
        for r in got:
            assert r["auth_micro"] == auth[r["host"]]
            assert r["hub_micro"] == hub[r["host"]]
            assert 0 <= r["auth_micro"] <= 1_000_000
            assert 0 <= r["hub_micro"] <= 1_000_000
        assert max(r["auth_micro"] for r in got) == 1_000_000
        assert max(r["hub_micro"] for r in got) == 1_000_000


class TestClusterPairDensity:
    def test_matches_union_find_replay_on_random_graph(self, spark):
        """dedup.cluster_pair_density over a seeded random pair graph must
        equal a union-find replay, and the invariants must hold: every
        density ≤ 1000‰ and every 2-cluster exactly 1000‰ (its one edge
        is what merged it)."""
        import random

        from pegasus_spark.textops.dedup import (
            cluster_pair_density,
            near_dup_clusters,
        )

        rng = random.Random(42)
        n = 120
        ids = list(range(n))
        pairs = sorted(
            {tuple(sorted(rng.sample(ids, 2))) for _ in range(60)}
        )
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        clusters = near_dup_clusters(docs, pdf)
        got = {
            r["cluster_size"]: r
            for r in cluster_pair_density(clusters, pdf).collect()
        }

        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        members = defaultdict(int)
        for i in ids:
            members[find(i)] += 1
        direct = Counter(find(a) for a, _ in pairs)
        want = defaultdict(lambda: [0, 0, 0])
        for root, s in members.items():
            if s >= 2:
                want[s][0] += 1
                want[s][1] += direct[root]
                want[s][2] += s * (s - 1) // 2
        assert set(got) == set(want)
        for s, (nc, d, p) in want.items():
            row = got[s]
            assert row["n_clusters"] == nc
            assert row["n_direct_pairs"] == d
            assert row["n_possible_pairs"] == p
            assert row["density_milli"] == d * 1000 // p
            assert row["density_milli"] <= 1000
        if 2 in got:
            assert got[2]["density_milli"] == 1000


class TestLengthPercentiles:
    def test_matches_rank_math_replay(self, spark, docs_rows):
        by_src: dict[str, list[tuple[int, int]]] = defaultdict(list)
        for doc_id, _t, _l, source, n_chars in docs_rows:
            by_src[source].append((n_chars, doc_id))
        got = {r["source"]: r for r in q_length_percentiles(spark, SF_TEST_DIR).collect()}
        assert set(got) == set(by_src)
        for source, vals in by_src.items():
            vals.sort()
            n = len(vals)
            r = got[source]
            assert r["n_docs"] == n
            for p, col in ((25, "p25"), (50, "p50"), (75, "p75"), (95, "p95")):
                assert r[col] == vals[(p * n + 99) // 100 - 1][0]
        # monotone within each row
        for r in got.values():
            assert r["p25"] <= r["p50"] <= r["p75"] <= r["p95"]


class TestTemperatureMix:
    def test_matches_integer_grid_replay_and_boosts(self, spark, docs_rows):
        n_by_lang = Counter(lang for _i, _t, lang, *_ in docs_rows)
        nn = sum(n_by_lang.values())
        wq = {l: math.floor(math.sqrt(n / nn) * 1e9) for l, n in n_by_lang.items()}
        wsum = sum(wq.values())
        got = {r["lang"]: r for r in q_temperature_mix(spark, SF_TEST_DIR).collect()}
        assert set(got) == set(n_by_lang)
        for lang, n in n_by_lang.items():
            r = got[lang]
            assert r["n_docs"] == n
            assert r["p_natural"] == round(n / nn, 6)
            assert r["weight"] == round(wq[lang] / wsum, 6)
            assert r["boost"] == round(r["weight"] / r["p_natural"], 4)
        # alpha<1 flattens: the head language is downsampled, the tail boosted
        head = max(n_by_lang, key=n_by_lang.get)
        tail = min(n_by_lang, key=n_by_lang.get)
        assert got[head]["boost"] < 1.0 < got[tail]["boost"]
        assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-5


class TestTrainTestSplit:
    def test_matches_python_replay(self, spark, docs_rows):
        split_of = {}
        h_of = {}
        for doc_id, text, _l, source, n_chars in docs_rows:
            b = _md5_bucket(doc_id, 100)
            split_of[doc_id] = "test" if b < 10 else "valid" if b < 20 else "train"
            h_of[doc_id] = hashlib.md5(text[:40].encode()).hexdigest()
        splits_by_h: dict[str, set[str]] = defaultdict(set)
        for doc_id, h in h_of.items():
            splits_by_h[h].add(split_of[doc_id])
        want: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0, 0])
        for doc_id, text, _l, source, n_chars in docs_rows:
            cell = want[(source, split_of[doc_id])]
            cell[0] += 1
            cell[1] += n_chars
            cell[2] += 1 if len(splits_by_h[h_of[doc_id]]) > 1 else 0
        got = q_train_test_split(spark, SF_TEST_DIR).collect()
        assert len(got) == len(want)
        leaked_total = 0
        for r in got:
            nd, nc, nl = want[(r["source"], r["split"])]
            assert (r["n_docs"], r["n_chars_total"], r["n_leaked"]) == (nd, nc, nl)
            leaked_total += r["n_leaked"]
        # the prefix-fingerprint channel must actually fire at this SF —
        # an all-zero leak column would gate nothing
        assert leaked_total > 0
        assert sum(r["n_docs"] for r in got) == len(docs_rows)


@pytest.fixture(scope="module")
def emb_rows():
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM '{SF_TEST_DIR}/embeddings.parquet' "
        f"ORDER BY vec_id"
    ).fetchall()
    con.close()
    return rows


def _half_up_int(x: float) -> int:
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(Decimal("1"), ROUND_HALF_UP))


class TestNgramTopk:
    def test_matches_python_replay(self, spark, docs_rows):
        """Top-20 trigram table recomputed with Counters over the same
        tokenization (whitespace split of trimmed text, lowercased gram);
        counts, doc frequency, and HALF_UP 6dp share all bit-exact."""
        from decimal import ROUND_HALF_UP, Decimal

        cnt, df_cnt = Counter(), Counter()
        for doc_id, text, *_ in docs_rows:
            toks = text.strip().split()
            grams = [
                " ".join(toks[i : i + 3]).lower() for i in range(len(toks) - 2)
            ]
            cnt.update(grams)
            df_cnt.update(set(grams))
        total = sum(cnt.values())
        want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        got = q_ngram_topk(spark, SF_TEST_DIR).collect()
        assert len(got) == 20
        for r, (g, c) in zip(got, want):
            assert (r["gram"], r["cnt"], r["doc_freq"]) == (g, c, df_cnt[g])
            share = float(
                Decimal(repr(c / total)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            )
            assert r["share"] == share
        # the head must not be flat-1 noise or the table gates nothing
        assert got[0]["cnt"] > 1


class TestBm25Topk:
    def test_matches_python_replay(self, spark, docs_rows):
        """Exact replay of the integer-grid BM25: idf floors once per
        query term, per-doc scores are exact BIGINT sums of floored
        contributions, top-10 tie-broken on doc_id."""
        from pegasus_spark.analytics.pipeline_queries import (
            BM25_QUERY, q_bm25_topk,
        )

        k1, b = 1.2, 0.75
        feats = []
        for doc_id, text, *_ in docs_rows:
            toks = [w.lower() for w in text.strip().split()]
            feats.append(
                (doc_id, len(toks), [toks.count(t) for t in BM25_QUERY])
            )
        n = len(feats)
        sdl = sum(f[1] for f in feats)
        avgdl = sdl / n
        dfs = [
            sum(1 for f in feats if f[2][i] > 0) for i in range(len(BM25_QUERY))
        ]
        idfs = [
            math.floor(math.log(1.0 + (n - d + 0.5) / (d + 0.5)) * 1_000_000)
            for d in dfs
        ]
        scored = []
        for doc_id, dl, tfs in feats:
            sm = sum(
                math.floor(
                    idfs[i] * (tfs[i] * (k1 + 1.0))
                    / (tfs[i] + k1 * ((1.0 - b) + b * dl / avgdl))
                )
                for i in range(len(BM25_QUERY))
            )
            hits = sum(1 for t in tfs if t > 0)
            if hits > 0:
                scored.append((-sm, doc_id, sm, hits))
        scored.sort()
        want = scored[:10]
        got = q_bm25_topk(spark, SF_TEST_DIR).collect()
        assert len(got) == 10
        from decimal import ROUND_HALF_UP, Decimal

        for r, (_, doc_id, sm, hits) in zip(got, want):
            assert r["doc_id"] == doc_id
            assert r["n_hit_terms"] == hits
            assert r["score"] == float(
                Decimal(repr(sm / 1_000_000.0)).quantize(
                    Decimal("0.0001"), ROUND_HALF_UP
                )
            )
        # scores must vary and every term must match somewhere, or the
        # ranking gates nothing
        assert len({r["score"] for r in got}) > 1
        assert all(d > 0 for d in dfs)


class TestClusterSilhouette:
    def test_matches_python_replay(self, spark, emb_rows):
        """Full replay of quantize → seed → 1 Lloyd iteration → final
        assignment → centroid-cosine silhouette on the exact integer
        grids; per-cluster n / mean cosines / mean silhouette bit-exact."""
        from decimal import ROUND_HALF_UP, Decimal

        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        def r4(x):
            return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

        vecs = {}
        for vid, emb in emb_rows:
            q = [math.floor(float(x) * 1_000_000) for x in emb]
            n = math.sqrt(dot(q, q))
            if n > 0:
                vecs[vid] = (q, n)
        k = 8
        cents = {cid: vecs[cid][0] for cid in range(k)}

        def assign(cents):
            cn = {cid: math.sqrt(dot(c, c)) for cid, c in cents.items()}
            out = {}
            for vid, (q, n) in vecs.items():
                best = max(
                    cents,
                    key=lambda cid: _half_up_int(
                        dot(q, cents[cid]) / (n * cn[cid]) * 10000
                    )
                    * 1_000_000
                    - cid,
                )
                out[vid] = best
            return out

        a0 = assign(cents)
        c1 = {}
        for vid, cell in a0.items():
            q = vecs[vid][0]
            if cell not in c1:
                c1[cell] = list(q)
            else:
                c1[cell] = [a + b for a, b in zip(c1[cell], q)]
        a1 = assign(c1)

        cn1 = {cid: math.sqrt(dot(c, c)) for cid, c in c1.items()}
        agg = defaultdict(lambda: [0, 0, 0, 0])  # n, sum_own, sum_oth, sum_s
        for vid, cell in a1.items():
            q, n = vecs[vid]
            cm = {
                cid: _half_up_int(dot(q, c1[cid]) / (n * cn1[cid]) * 1_000_000)
                for cid in c1
            }
            own = cm[cell]
            oth = max(v for cid, v in cm.items() if cid != cell)
            a, b = 1_000_000 - own, 1_000_000 - oth
            s = 0 if max(a, b) == 0 else math.floor((own - oth) * 1_000_000 / max(a, b))
            e = agg[cell]
            e[0] += 1
            e[1] += own
            e[2] += oth
            e[3] += s
        got = q_cluster_silhouette(spark, SF_TEST_DIR).collect()
        assert [r["cell"] for r in got] == sorted(agg)
        for r in got:
            n, so, sb, ss = agg[r["cell"]]
            assert r["n"] == n
            assert r["mean_cos_own"] == r4(so / (n * 1_000_000.0))
            assert r["mean_cos_other"] == r4(sb / (n * 1_000_000.0))
            assert r["mean_silhouette"] == r4(ss / (n * 1_000_000.0))
        # clusters must separate (own > other on average somewhere) or the
        # audit gates nothing
        assert any(r["mean_silhouette"] > 0 for r in got)


class TestQuantizationRecall:
    def test_matches_python_replay(self, spark, emb_rows):
        """int4 top-10 and float top-10 recomputed in python (same 4dp
        HALF_UP cosine ordering, id tie-break); the recall curve must be
        bit-exact and the quantization must actually lose a candidate."""
        from decimal import ROUND_HALF_UP, Decimal

        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        def r4(x):
            return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

        vecs = {vid: [float(x) for x in emb] for vid, emb in emb_rows}

        def topk(table, qid=0, k=10):
            q = table[qid]
            qn = math.sqrt(dot(q, q))
            scored = []
            for vid, v in table.items():
                if vid == qid:
                    continue
                n = math.sqrt(dot(v, v))
                scored.append((r4(dot(v, q) / (n * qn)), vid))
            scored.sort(key=lambda t: (-t[0], t[1]))
            return [vid for _, vid in scored[:k]]

        quant = {}
        for vid, v in vecs.items():
            s = max(abs(x) for x in v)
            if s == 0:
                continue
            q = [float(_half_up_int(x * 7.0 / s)) for x in v]
            if math.sqrt(dot(q, q)) > 0:
                quant[vid] = q
        brute = topk(vecs)
        i4 = topk(quant)
        rb = {vid: i + 1 for i, vid in enumerate(brute)}
        rq = {vid: i + 1 for i, vid in enumerate(i4)}
        rmax = [max(rb[v], rq[v]) for v in rb if v in rq]
        got = sorted(q_quantization_recall(spark, SF_TEST_DIR).collect(),
                     key=lambda r: r["k"])
        assert [r["k"] for r in got] == list(range(1, 11))
        for r in got:
            hits = sum(1 for x in rmax if x <= r["k"])
            assert r["n_hits"] == hits
            assert r["recall"] == r4(hits / r["k"])
        hits_seq = [r["n_hits"] for r in got]
        assert hits_seq == sorted(hits_seq)  # prefix intersections only grow
        # int4 must actually lose a candidate at this SF or the gate is flat
        assert any(r["recall"] < 1.0 for r in got)


class TestAnnRecall:
    def test_curve_shape_and_gate_fires(self, spark):
        rows = sorted(q_ann_recall(spark, SF_TEST_DIR).collect(), key=lambda r: r["k"])
        assert [r["k"] for r in rows] == list(range(1, 11))
        for r in rows:
            assert 0 <= r["n_hits"] <= r["k"]
            assert r["recall"] == round(r["n_hits"] / r["k"], 4)
        hits = [r["n_hits"] for r in rows]
        assert hits == sorted(hits)  # prefix intersections only grow
        # at nprobe=1 the approximation must actually lose something at
        # this SF, or the curve gates nothing
        assert any(r["recall"] < 1.0 for r in rows)


class TestColumnProfile:
    def test_matches_python_replay(self, spark, docs_rows):
        cols = {
            "doc_id": [r[0] for r in docs_rows],
            "text": [r[1] for r in docs_rows],
            "lang": [r[2] for r in docs_rows],
            "source": [r[3] for r in docs_rows],
            "n_chars": [r[4] for r in docs_rows],
        }
        n = len(docs_rows)
        got = {r["column_name"]: r for r in q_column_profile(spark, SF_TEST_DIR).collect()}
        assert set(got) == set(cols)
        for name, vals in cols.items():
            r = got[name]
            nn = sum(v is not None for v in vals)
            nd = len({v for v in vals if v is not None})
            assert (r["n_rows"], r["n_nonnull"], r["n_distinct"]) == (n, nn, nd)
            assert r["completeness"] == round(nn / n, 6)
            assert r["uniqueness"] == round(nd / n, 6)


class TestQualityChecks:
    def test_clean_corpus_passes_everything(self, spark, docs_rows):
        got = {r["check_name"]: r for r in q_quality_checks(spark, SF_TEST_DIR).collect()}
        assert set(got) == {
            "chars_consistency", "completeness_lang", "completeness_text",
            "lang_allowlist", "min_length", "uniqueness_doc_id",
        }
        # the synthetic corpus is clean by construction: every constraint
        # holds exactly, so every metric is 1.0 and every check passes
        for r in got.values():
            assert r["metric"] == 1.0 and r["threshold"] == 1.0 and r["passed"]


class TestCorpusDiff:
    def test_matches_python_replay(self, spark, docs_rows):
        want: dict[tuple[str, str], int] = defaultdict(int)
        v1 = {r[0]: (r[3], r[1]) for r in docs_rows}
        v2 = {}
        for doc_id, (source, text) in v1.items():
            if doc_id % 31 == 0:
                continue
            v2[doc_id] = (source, text + " [rev2]" if doc_id % 17 == 0 else text)
        for doc_id, (source, text) in v1.items():
            if doc_id % 13 == 0:
                v2[doc_id + 1000000] = (source, text + " [new]")
        for doc_id in set(v1) | set(v2):
            if doc_id not in v1:
                want[(v2[doc_id][0], "added")] += 1
            elif doc_id not in v2:
                want[(v1[doc_id][0], "removed")] += 1
            elif v1[doc_id][1] == v2[doc_id][1]:
                want[(v1[doc_id][0], "unchanged")] += 1
            else:
                want[(v1[doc_id][0], "modified")] += 1
        got = q_corpus_diff(spark, SF_TEST_DIR).collect()
        for r in got:
            s = r["source"]
            assert r["n_unchanged"] == want.get((s, "unchanged"), 0)
            assert r["n_modified"] == want.get((s, "modified"), 0)
            assert r["n_removed"] == want.get((s, "removed"), 0)
            assert r["n_added"] == want.get((s, "added"), 0)
        # every diff class actually occurs at this SF
        totals = [sum(r[c] for r in got) for c in
                  ("n_unchanged", "n_modified", "n_removed", "n_added")]
        assert all(t > 0 for t in totals)


class TestStickiness:
    def test_matches_python_replay(self, spark):
        """DAU and trailing-7-day AU per observed day recomputed from the
        raw (user, day) pairs; partial head windows included, phantom
        days past the stream's end absent, ratio in (0, 1]."""
        import datetime

        con = duckdb.connect()
        ud = con.sql(
            f"SELECT DISTINCT user_id, ts::DATE AS day "
            f"FROM '{SF_TEST_DIR}/events.parquet'"
        ).fetchall()
        con.close()
        from pegasus_spark.analytics.pipeline_queries import q_stickiness

        by_day: dict = defaultdict(set)
        for uid, day in ud:
            by_day[day].add(uid)
        days = sorted(by_day)
        got = {r["day"]: r for r in q_stickiness(spark, SF_TEST_DIR).collect()}
        assert sorted(got) == days  # observed days only, all of them
        for d in days:
            dau = len(by_day[d])
            wau = len(
                set().union(
                    *(by_day.get(d - datetime.timedelta(days=k), set())
                      for k in range(7))
                )
            )
            r = got[d]
            assert r["dau"] == dau and r["wau7"] == wau
            assert r["stickiness"] == round(dau / wau, 4)
            assert 0 < r["stickiness"] <= 1
        # the ratio must actually vary or the gate checks a constant
        assert len({r["stickiness"] for r in got.values()}) > 1


class TestMinhashThresholdSweep:
    def test_matches_accuracy_fold_and_is_monotone(self, spark):
        """The sweep must be exactly the python fold of minhash_accuracy at
        min_sig_match=1 (the all-candidates table): per t, kept pairs and
        true dups (exact jaccard >= 0.25), HALF_UP-rounded ratios; kept
        counts non-increasing in t and every t row present (zero-filled)."""
        from decimal import ROUND_HALF_UP, Decimal

        from pegasus_spark.analytics.pipeline_queries import (
            q_minhash_threshold_sweep,
        )
        from pegasus_spark.textops.dedup import minhash_accuracy

        def r4(x):
            return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

        docs = spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
        acc = minhash_accuracy(docs, min_sig_match=1).collect()
        got = q_minhash_threshold_sweep(spark, SF_TEST_DIR).collect()
        assert [r["t"] for r in got] == list(range(1, 9))
        total_true = sum(1 for a in acc if a["true_jaccard"] >= 0.25)
        assert total_true > 0
        pair_counts = [r["n_pairs"] for r in got]
        assert pair_counts == sorted(pair_counts, reverse=True)
        for r in got:
            kept = [a for a in acc if a["sig_matches"] >= r["t"]]
            n_true = sum(1 for a in kept if a["true_jaccard"] >= 0.25)
            assert r["n_pairs"] == len(kept)
            assert r["n_true_dups"] == n_true
            if kept:
                assert r["precision"] == r4(n_true / len(kept))
            else:
                assert r["precision"] is None
            assert r["recall"] == r4(n_true / total_true)


class TestVocabStats:
    def test_matches_python_replay(self, spark, docs_rows):
        """Exact vocabulary replay per source: python str.split() equals
        the \\s+ split of trimmed text (runs collapse, no empty tokens),
        so token totals, vocab, hapax and the tie-broken dominant word
        must all agree."""
        from decimal import ROUND_HALF_UP, Decimal

        def r4(x):  # Spark round() is HALF_UP; python round is banker's
            return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

        by_src: dict[str, Counter] = defaultdict(Counter)
        for _doc_id, text, _l, source, _n in docs_rows:
            by_src[source].update(w.lower() for w in text.strip().split())
        got = {r["source"]: r for r in q_vocab_stats(spark, SF_TEST_DIR).collect()}
        assert set(got) == set(by_src)
        for src, cnt in by_src.items():
            r = got[src]
            n_tokens, n_vocab = sum(cnt.values()), len(cnt)
            n_hapax = sum(1 for v in cnt.values() if v == 1)
            assert r["n_tokens"] == n_tokens
            assert r["n_vocab"] == n_vocab
            assert r["n_hapax"] == n_hapax
            assert r["ttr"] == r4(n_vocab / n_tokens)
            assert r["hapax_share"] == r4(n_hapax / n_vocab)
            top_word, top_cnt = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            assert (r["top_word"], r["top_word_cnt"]) == (top_word, top_cnt)
            assert n_hapax < n_vocab
        # non-trivial at corpus level: the synthetic generator's vocabulary
        # is nearly closed per source (hapax = 0 or 1), but the hapax
        # channel must fire SOMEWHERE or the column gates nothing
        assert sum(r["n_hapax"] for r in got.values()) > 0


class TestClipAestheticGrid:
    def test_composes_the_two_gated_filters(self, spark):
        """The joint grid must tile exactly the per-image scores the two
        independently-gated ops produce: cell counts equal a Python
        re-binning of (clip_score, aesthetic_q), the keep flags are
        threshold-aligned with the deployed filters, and the keep-both
        mass equals a direct per-image AND of the two gated verdicts."""
        grid = q_clip_aesthetic_grid(spark, SF_TEST_DIR).collect()
        clip = {r["vec_id"]: r for r in q_clip_filter(spark, SF_TEST_DIR).collect()}
        aes = {r["vec_id"]: r for r in q_aesthetic_score(spark, SF_TEST_DIR).collect()}
        n_total = sum(r["n_images"] for r in grid)
        assert n_total == len(clip) > 0

        cells: Counter = Counter()
        for v, rc in clip.items():
            q = aes[v]["aesthetic_q"]
            clip_bin = math.floor(rc["clip_score"] * 20)
            aes_bin = 0 if q == 0 else (1 if q > 0 else -1) * len(bin(abs(q))[2:])
            cells[(clip_bin, aes_bin)] += 1
        assert {(r["clip_bin"], r["aes_bin"]): r["n_images"] for r in grid} == cells

        keep_mass = sum(r["n_images"] for r in grid if r["keep_clip"] and r["keep_aes"])
        want = sum(1 for v in clip if clip[v]["keep"] and aes[v]["keep"])
        assert keep_mass == want
        for r in grid:
            assert r["keep_clip"] == (r["clip_bin"] >= 1)
            assert r["keep_aes"] == (r["aes_bin"] > 0)
            assert r["share"] == round(r["n_images"] / n_total, 4)


class TestDailyAnomaly:
    def test_matches_integer_replay_and_fires(self, spark):
        con = duckdb.connect()
        ev = con.sql(
            f"SELECT event_type, ts::DATE AS day FROM '{SF_TEST_DIR}/events.parquet'"
        ).fetchall()
        con.close()
        counts: dict[str, Counter] = defaultdict(Counter)
        for et, day in ev:
            counts[et][day] += 1
        # densified replay: every observed type gets every observed day,
        # zero-filled — matching volume_anomaly_flags' grid semantics
        all_days = {day for days in counts.values() for day in days}
        for days in counts.values():
            for day in all_days:
                days.setdefault(day, 0)
        got = q_daily_anomaly(spark, SF_TEST_DIR).collect()
        n_anom = 0
        for r in got:
            days = counts[r["event_type"]]
            c, n = days[r["day"]], len(days)
            sc, q = sum(days.values()), sum(v * v for v in days.values())
            assert r["n_events"] == c
            assert r["mean_events"] == round(sc / n, 4)
            want = (c * n - sc) ** 2 > 4 * (n * q - sc * sc)
            assert r["is_anomaly"] == want
            n_anom += r["is_anomaly"]
        assert len(got) == sum(len(d) for d in counts.values())
        assert n_anom > 0  # the 2-sigma gate must actually fire at this SF


class TestTextNormalize:
    def test_matches_python_replay(self, spark, docs_rows):
        import re

        got = {r["doc_id"]: r for r in q_text_normalize(spark, SF_TEST_DIR).collect()}
        assert set(got) == {r[0] for r in docs_rows}
        n_changed = 0
        for doc_id, text, *_ in docs_rows:
            raw = text.replace(" ", "  ") if doc_id % 7 == 0 else text
            if doc_id % 11 == 0:
                raw = "\t" + raw + " "
            norm = re.sub(r"[ \t]+", " ", raw).strip(" ")
            r = got[doc_id]
            assert r["changed"] == (raw != norm)
            assert r["chars_saved"] == len(raw) - len(norm)
            assert r["norm_md5"] == hashlib.md5(norm.encode()).hexdigest()
            n_changed += r["changed"]
        # planted mess fires; clean docs pass through untouched
        assert 0 < n_changed < len(docs_rows)


class TestStratifiedSample:
    def test_matches_md5_order_replay(self, spark, docs_rows):
        by_src: dict[str, list] = defaultdict(list)
        for doc_id, _t, _l, source, _n in docs_rows:
            h = hashlib.md5(f"{doc_id}:sample".encode()).hexdigest()
            by_src[source].append((h, doc_id))
        got: dict[str, list] = defaultdict(list)
        for r in sorted(
            q_stratified_sample(spark, SF_TEST_DIR).collect(),
            key=lambda r: (r["source"], r["rnk"]),
        ):
            got[r["source"]].append(r["doc_id"])
        assert set(got) == set(by_src)
        for source, pairs in by_src.items():
            want = [d for _h, d in sorted(pairs)[:5]]
            assert got[source] == want


class TestScalePathApproximations:
    """The exact audit operators document approximate siblings as the
    in-pipeline 100 TB path (percentile_approx for length_percentiles,
    approx_count_distinct for column_profile). Pin that those paths
    actually track the exact values on this corpus — the claim should be
    measured, not asserted in a docstring."""

    def test_percentile_approx_tracks_exact(self, spark):
        import pyspark.sql.functions as F

        exact = {r["source"]: r for r in q_length_percentiles(spark, SF_TEST_DIR).collect()}
        approx = {
            r["source"]: r
            for r in spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
            .groupBy("source")
            .agg(
                F.expr("percentile_approx(n_chars, 0.5, 10000)").alias("p50a"),
                F.expr("percentile_approx(n_chars, 0.95, 10000)").alias("p95a"),
            )
            .collect()
        }
        assert set(exact) == set(approx)
        for source, e in exact.items():
            a = approx[source]
            # at accuracy=10000 on group sizes ~25 the sketch is near-exact;
            # allow one rank of slack around the disc definition
            assert abs(a["p50a"] - e["p50"]) <= max(5, 0.05 * e["p50"])
            assert abs(a["p95a"] - e["p95"]) <= max(5, 0.05 * e["p95"])

    def test_hll_tracks_exact_distinct(self, spark):
        import pyspark.sql.functions as F

        exact = {r["column_name"]: r["n_distinct"]
                 for r in q_column_profile(spark, SF_TEST_DIR).collect()}
        row = (
            spark.read.parquet(f"{SF_TEST_DIR}/documents.parquet")
            .agg(
                F.approx_count_distinct("doc_id", 0.02).alias("a_id"),
                F.approx_count_distinct("text", 0.02).alias("a_text"),
                F.approx_count_distinct("source", 0.02).alias("a_source"),
            )
            .collect()[0]
        )
        for col, a in (("doc_id", row["a_id"]), ("text", row["a_text"]),
                       ("source", row["a_source"])):
            assert abs(a - exact[col]) <= max(2, 0.05 * exact[col])


class TestPropsStats:
    def test_matches_json_replay(self, spark):
        import json

        con = duckdb.connect()
        ev = con.sql(
            f"SELECT event_type, props FROM '{SF_TEST_DIR}/events.parquet'"
        ).fetchall()
        con.close()
        ks: dict[str, list[int]] = defaultdict(list)
        for et, props in ev:
            ks[et].append(int(json.loads(props)["k"]))
        got = {r["event_type"]: r for r in q_props_stats(spark, SF_TEST_DIR).collect()}
        assert set(got) == set(ks)
        for et, vals in ks.items():
            r = got[et]
            n = len(vals)
            assert (r["n_events"], r["sum_k"], r["min_k"], r["max_k"]) == (
                n, sum(vals), min(vals), max(vals)
            )
            assert r["mean_k"] == round(sum(vals) / n, 4)
            assert r["high_k_share"] == round(sum(v >= 90 for v in vals) / n, 4)


class TestTriangleCount:
    def test_matches_brute_force_replay(self, spark, docs_rows):
        from itertools import combinations

        und = set()
        for doc_id, *_ in docs_rows:
            s, t = doc_id % 97, _md5_bucket(doc_id, 97)
            if s != t:
                und.add((min(s, t), max(s, t)))
        adj: dict[int, set[int]] = defaultdict(set)
        for a, b in und:
            adj[a].add(b)
            adj[b].add(a)
        per_host = Counter()
        for a, b, c in combinations(sorted(adj), 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                per_host[a] += 1
                per_host[b] += 1
                per_host[c] += 1
        got = {r["host"]: r["n_triangles"]
               for r in q_triangle_count(spark, SF_TEST_DIR).collect()}
        assert got == dict(per_host)
        assert sum(got.values()) % 3 == 0 and sum(got.values()) > 0


class TestConversionLatency:
    def test_matches_python_replay(self, spark):
        con = duckdb.connect()
        ev = con.sql(
            f"SELECT user_id, event_type, epoch_us(ts) AS t "
            f"FROM '{SF_TEST_DIR}/events.parquet'"
        ).fetchall()
        con.close()
        by_user: dict[int, list] = defaultdict(list)
        for u, et, t in ev:
            by_user[u].append((et, t))
        lats = []
        for u, evs in by_user.items():
            views = [t for et, t in evs if et == "view"]
            if not views:
                continue
            ta = min(views)
            clicks = [t for et, t in evs if et == "click" and t > ta]
            if not clicks:
                continue
            tb = min(clicks)
            purchases = [t for et, t in evs if et == "purchase" and t > tb]
            if not purchases:
                continue
            lats.append((min(purchases) - ta, u))
        lats.sort()
        n = len(lats)
        r = q_conversion_latency(spark, SF_TEST_DIR).collect()[0]
        assert r["n_converted"] == n and n > 0
        for p, col in ((25, "p25_us"), (50, "p50_us"), (75, "p75_us"), (95, "p95_us")):
            assert r[col] == lats[(p * n + 99) // 100 - 1][0]
        assert r["mean_us"] == round(sum(l for l, _ in lats) / n, 4)
        assert r["p25_us"] <= r["p50_us"] <= r["p75_us"] <= r["p95_us"]


class TestCubeAndPivot:
    def test_cube_marginals_are_consistent(self, spark, docs_rows):
        rows = q_source_lang_cube(spark, SF_TEST_DIR).collect()
        cells = {(r["source"], r["lang"]): r for r in rows}
        n = len(docs_rows)
        grand = cells[("(all)", "(all)")]
        assert grand["n_docs"] == n and grand["g_source"] == grand["g_lang"] == 1
        # every marginal equals the sum of its covered cells
        by_source = Counter((r[3]) for r in docs_rows)
        by_lang = Counter((r[2]) for r in docs_rows)
        by_cell = Counter((r[3], r[2]) for r in docs_rows)
        for (s, l), r in cells.items():
            if r["g_source"] == 0 and r["g_lang"] == 0:
                assert r["n_docs"] == by_cell[(s, l)]
            elif r["g_source"] == 0 and r["g_lang"] == 1:
                assert r["n_docs"] == by_source[s]
            elif r["g_source"] == 1 and r["g_lang"] == 0:
                assert r["n_docs"] == by_lang[l]
        assert len(cells) == len(by_cell) + len(by_source) + len(by_lang) + 1

    def test_pivot_matches_counter_replay(self, spark, docs_rows):
        by_cell = Counter((r[3], r[2]) for r in docs_rows)
        by_source = Counter(r[3] for r in docs_rows)
        got = {r["source"]: r for r in q_lang_pivot(spark, SF_TEST_DIR).collect()}
        assert set(got) == set(by_source)
        for s, r in got.items():
            for l in ("de", "en", "es", "fr", "zh"):
                assert r[l] == by_cell.get((s, l), 0)
            assert r["total"] == by_source[s]


class TestKeySkewReport:
    def test_matches_counter_replay_and_mega_key_leads(self, spark, docs_rows):
        c = Counter()
        for doc_id, text, *_ in docs_rows:
            paras = [
                "banner: one corpus-wide boilerplate paragraph",
                text,
                f"promo-{doc_id % 5}",
                f"tail-{doc_id}",
            ]
            for p in paras:
                c[hashlib.md5(p.encode()).hexdigest()] += 1
        nn = sum(c.values())
        want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got = sorted(q_key_skew_report(spark, SF_TEST_DIR).collect(),
                     key=lambda r: r["rnk"])
        assert [(r["key_md5"], r["n_occurrences"]) for r in got] == want
        cum = 0
        for r in got:
            cum += r["n_occurrences"]
            assert r["share"] == round(r["n_occurrences"] / nn, 6)
            assert r["cum_share"] == round(cum / nn, 6)
        # rank 1 is the planted corpus-wide banner: exactly 1/4 of key mass
        assert got[0]["n_occurrences"] == len(docs_rows)
        assert got[0]["share"] == 0.25


class TestPlanShapes:
    """Executable versions of the PLANS.md claims for this batch."""

    def test_stratified_sample_uses_window_group_limit(self, spark):
        plan = (
            q_stratified_sample(spark, SF_TEST_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "WindowGroupLimit" in plan, plan

    def test_text_normalize_is_narrow(self, spark):
        plan = (
            q_text_normalize(spark, SF_TEST_DIR)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        # the orderBy is presentation; the normalization itself adds no
        # exchange — project directly over the scan
        assert "Join" not in plan and "Aggregate" not in plan, plan

    def test_pagerank_iterations_broadcast(self, spark):
        plan = (
            q_pagerank(spark, SF_TEST_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestBpePairStats:
    def test_matches_counter_replay(self, spark, docs_rows):
        counts: dict[str, Counter] = defaultdict(Counter)
        for _i, text, lang, *_ in docs_rows:
            s = text.lower()
            for i in range(len(s) - 1):
                pair = s[i : i + 2]
                if len(pair) == 2 and pair.isascii() and pair.isalpha() and pair == pair.lower():
                    counts[lang][pair] += 1
        got = q_bpe_pair_stats(spark, SF_TEST_DIR).collect()
        by_lang: dict[str, list] = defaultdict(list)
        for r in got:
            by_lang[r["lang"]].append(r)
        assert set(by_lang) == set(counts)
        for lang, rows in by_lang.items():
            want = sorted(counts[lang].items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            rows.sort(key=lambda r: r["rnk"])
            assert [(r["pair"], r["cnt"]) for r in rows] == want
            assert [r["rnk"] for r in rows] == list(range(1, len(want) + 1))


class TestPmiBigrams:
    def test_matches_counter_replay(self, spark, docs_rows):
        import re

        uni: Counter = Counter()
        bi: Counter = Counter()
        for _i, text, *_ in docs_rows:
            toks = re.split(r"\s+", text.strip())
            for t in toks:
                if t != "":
                    uni[t.lower()] += 1
            for a, b in zip(toks, toks[1:]):
                bi[(a.lower(), b.lower())] += 1
        n = sum(uni.values())
        rows = [
            (w1, w2, c, uni[w1], uni[w2], (c * n * 1_000_000) // (uni[w1] * uni[w2]))
            for (w1, w2), c in bi.items()
            if c >= 3
        ]
        rows.sort(key=lambda r: (-r[5], r[0], r[1]))
        want = rows[:20]
        from pegasus_spark.analytics.pipeline_queries import q_pmi_bigrams

        got = [
            (r["w1"], r["w2"], r["c_xy"], r["c_x"], r["c_y"], r["lift_micro"])
            for r in q_pmi_bigrams(spark, SF_TEST_DIR).collect()
        ]
        assert got == want

    def test_positive_association_ranks_above_chance(self, spark):
        from pegasus_spark.analytics.pipeline_queries import q_pmi_bigrams

        top = q_pmi_bigrams(spark, SF_TEST_DIR).collect()[0]
        # the strongest collocation must beat independence (lift > 1.0)
        assert top["lift_micro"] > 1_000_000


class TestVocabCoverage:
    def test_matches_counter_replay(self, spark, docs_rows):
        import re

        per: dict[str, Counter] = defaultdict(Counter)
        for _i, text, _lang, source, _n in docs_rows:
            for t in re.split(r"\s+", text.strip()):
                if t != "":
                    per[source][t.lower()] += 1
        glob: Counter = Counter()
        for c in per.values():
            glob.update(c)
        vocab = {
            w for w, _ in sorted(glob.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
        }
        from pegasus_spark.analytics.pipeline_queries import q_vocab_coverage

        got = q_vocab_coverage(spark, SF_TEST_DIR).collect()
        assert [r["source"] for r in got] == sorted(per)
        for r in got:
            c = per[r["source"]]
            n_tokens = sum(c.values())
            n_oov = sum(v for w, v in c.items() if w not in vocab)
            n_oov_types = sum(1 for w in c if w not in vocab)
            assert (r["n_tokens"], r["n_oov"], r["n_oov_types"]) == (
                n_tokens, n_oov, n_oov_types
            )
            assert r["oov_rate"] == round(n_oov / n_tokens, 6)
            # with V=8 over the ~31-word synthetic vocabulary the OOV
            # channel must actually fire (the gate is non-degenerate)
            assert 0 < r["n_oov"] < r["n_tokens"]


class TestBurstUsers:
    def test_matches_python_replay(self, spark):
        con = duckdb.connect()
        ev = con.sql(
            f"SELECT user_id, CAST(ts AS DATE) FROM '{SF_TEST_DIR}/events.parquet'"
        ).fetchall()
        con.close()
        per_day: Counter = Counter(ev)
        users: dict[int, list] = defaultdict(list)
        for (u, d), c in per_day.items():
            users[u].append((d, c))
        want = []
        for u, days in users.items():
            total = sum(c for _, c in days)
            peak_day, peak = min(days, key=lambda dc: (-dc[1], dc[0]))
            if peak * len(days) > 3 * total:
                want.append(
                    (u, peak_day, peak, len(days), total,
                     (peak * len(days) * 1000) // total)
                )
        want.sort(key=lambda r: (-r[5], r[0]))
        from pegasus_spark.analytics.queries import q_burst_users

        got = [
            (r["user_id"], r["peak_day"], r["peak_day_cnt"], r["active_days"],
             r["total_events"], r["burst_ratio_milli"])
            for r in q_burst_users(spark, SF_TEST_DIR).collect()
        ]
        assert got == want
        assert got, "gate is degenerate: no user trips the 3x burst test"


class TestRelationalBatchPlans:
    """Executable PLANS.md claims for the Q10/Q4-shaped additions."""

    def test_order_priority_counts_is_semi_join(self, spark):
        from pegasus_spark.analytics.queries import q_order_priority_counts

        plan = (
            q_order_priority_counts(spark, SF_TEST_DIR)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        # EXISTS compiles to one LeftSemi — no join+distinct dedup pass
        assert "LeftSemi" in plan, plan
        assert "Deduplicate" not in plan, plan

    def test_returned_items_broadcasts_nation_and_takeordered(self, spark):
        from pegasus_spark.analytics.queries import q_returned_items

        plan = (
            q_returned_items(spark, SF_TEST_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "TakeOrderedAndProject" in plan, plan

    def test_waiting_suppliers_is_semi_plus_anti(self, spark):
        """Q21's stacked EXISTS / NOT EXISTS must compile to exactly one
        LeftSemi and one LeftAnti — never a join + Deduplicate pass."""
        from pegasus_spark.analytics.queries import q_waiting_suppliers

        plan = (
            q_waiting_suppliers(spark, SF_TEST_DIR)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "LeftSemi" in plan, plan
        assert "LeftAnti" in plan, plan
        assert "Deduplicate" not in plan, plan

    def test_order_count_distribution_keeps_outer_zeros(self, spark):
        """Q13's customer join must stay LEFT OUTER (zero-order customers
        are rows, not casualties) and the c_count=0 bucket must exist at
        a scale where some customer places no non-urgent order."""
        from pegasus_spark.analytics.queries import q_order_count_distribution

        df = q_order_count_distribution(spark, SF_TEST_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftOuter" in plan, plan
        rows = {r["c_count"]: r["custdist"] for r in df.collect()}
        assert sum(rows.values()) == 1500  # every sf0.01 customer reported

    def test_large_orders_filters_before_joining(self, spark):
        """Q18's >300 HAVING must sit under the joins (the agg+filter
        prunes the fact side before any order/customer rows move) and the
        top-100 must be TakeOrderedAndProject."""
        from pegasus_spark.analytics.queries import q_large_orders

        qe = q_large_orders(spark, SF_TEST_DIR)._jdf.queryExecution()
        opt = qe.optimizedPlan().toString()
        join_at = opt.find("Join")
        assert join_at >= 0, opt
        agg_at = opt.find("Aggregate", join_at)  # agg nested below a join
        assert agg_at > join_at, opt
        filt_at = opt.find("Filter", join_at)
        assert filt_at > join_at, opt
        assert "sum_qty" in opt[filt_at:agg_at + 400], opt
        assert "TakeOrderedAndProject" in qe.executedPlan().toString()

    def test_disjunctive_revenue_pushes_quantity_envelope(self, spark):
        """Q19's factored l_quantity envelope must reach the lineitem
        parquet scan as pushed filters; part stays a broadcast dim."""
        from pegasus_spark.analytics.queries import q_disjunctive_revenue

        plan = (
            q_disjunctive_revenue(spark, SF_TEST_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        pushed = plan[plan.index("PushedFilters"):][:300]
        assert "l_quantity" in pushed, pushed

    def test_idle_customers_is_anti_join(self, spark):
        """Q22's NOT EXISTS must compile to a LeftAnti; the only
        nested-loop join allowed is the 1-row scalar-average broadcast."""
        from pegasus_spark.analytics.queries import q_idle_customers

        plan = (
            q_idle_customers(spark, SF_TEST_DIR)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "LeftAnti" in plan, plan

    def test_behavior_set_ops_compiles_to_semi_anti(self, spark):
        """INTERSECT/EXCEPT must lower to LeftSemi/LeftAnti joins over the
        pre-distinct pair sets — Spark has no physical set-op operator, so
        this is the shape that proves the surface isn't a union+groupBy."""
        from pegasus_spark.analytics.queries import q_behavior_set_ops

        plan = (
            q_behavior_set_ops(spark, SF_TEST_DIR)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "LeftSemi" in plan, plan
        assert "LeftAnti" in plan, plan

    def test_revenue_rollup_is_one_expand(self, spark):
        """The ROLLUP ladder must be ONE Expand feeding one aggregate —
        not three scans; ROLLUP(a, b) emits 3 grouping-set replicas."""
        from pegasus_spark.analytics.queries import q_revenue_rollup

        plan = (
            q_revenue_rollup(spark, SF_TEST_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Expand") == 1, plan


class TestParetoDocs:
    def test_matches_bruteforce_dominance(self, spark):
        from pegasus_spark.analytics.pipeline_queries import q_pareto_docs, _docs
        from pegasus_spark.textops import text as T

        base = [
            (r["doc_id"], r["quality"], r["n_tokens"])
            for r in T.with_quality(_docs(spark, SF_TEST_DIR))
            .select("doc_id", "quality", "n_tokens")
            .collect()
        ]
        def dominated(a):
            return any(
                (b[1] >= a[1] and b[2] >= a[2]) and (b[1] > a[1] or b[2] > a[2])
                for b in base
            )
        want = sorted(
            (r for r in base if not dominated(r)),
            key=lambda r: (-r[1], -r[2], r[0]),
        )
        got = [
            (r["doc_id"], r["quality"], r["n_tokens"])
            for r in q_pareto_docs(spark, SF_TEST_DIR).collect()
        ]
        assert got == want
        assert got, "gate is degenerate: empty frontier"

    def test_partition_count_invariance(self, spark):
        from pegasus_spark.analytics.pipeline_queries import _docs
        from pegasus_spark.textops import text as T

        d = T.with_quality(_docs(spark, SF_TEST_DIR)).select(
            "doc_id", "quality", "n_tokens"
        )
        a = T.pareto_frontier(d, "quality", "n_tokens", n_partitions=2).collect()
        b = T.pareto_frontier(d, "quality", "n_tokens", n_partitions=17).collect()
        assert a == b and a


class TestSpendOutliers:
    def test_matches_decimal_replay(self, spark):
        from decimal import Decimal
        import math as _math

        con = duckdb.connect()
        orders = con.sql(
            f"SELECT o_custkey, o_totalprice FROM '{SF_TEST_DIR}/orders.parquet'"
        ).fetchall()
        con.close()
        spend: dict[int, Decimal] = defaultdict(lambda: Decimal(0))
        n_orders: Counter = Counter()
        for k, p in orders:
            # mirror the engine: DECIMAL(18,4) quantization before the sum
            spend[k] += Decimal(repr(p)).quantize(Decimal("0.0001"))
            n_orders[k] += 1
        s = [(k, n_orders[k], float(v)) for k, v in spend.items()]
        nc = len(s)
        rank = (50 * nc + 99) // 100
        med = sorted(s, key=lambda r: (r[2], r[0]))[rank - 1][2]
        d = [(k, n, x, int(_math.floor(abs(x - med) * 100))) for k, n, x in s]
        mad = sorted(d, key=lambda r: (r[3], r[0]))[rank - 1][3]
        want = sorted(
            ((k, n, x, dc, med, mad) for k, n, x, dc in d if dc > 3 * mad),
            key=lambda r: (-r[3], r[0]),
        )
        from pegasus_spark.analytics.queries import q_spend_outliers

        got = [
            (r["custkey"], r["n_orders"], r["spend"], r["dev_cents"],
             r["med_spend"], r["mad_cents"])
            for r in q_spend_outliers(spark, SF_TEST_DIR).collect()
        ]
        assert got == want
        assert got, "gate is degenerate: no 3xMAD outliers"

    def test_ordered_prefix_rank_matches_window(self, spark):
        from pegasus_spark.analytics.queries import load
        from pegasus_spark.operators import ordered_prefix
        import pyspark.sql.functions as SF
        from pyspark.sql import Window as W

        s = (
            load(spark, SF_TEST_DIR, "orders")
            .groupBy(SF.col("o_custkey").alias("k"))
            .agg(SF.count(SF.lit(1)).alias("c"))
        )
        got = {
            r["k"]: r["rn"]
            for r in ordered_prefix(s, ["c", "k"], "rn", n_partitions=13).collect()
        }
        want = {
            r["k"]: r["rn"]
            for r in s.withColumn(
                "rn", SF.row_number().over(W.orderBy("c", "k"))
            ).collect()
        }
        assert got == want
        # the size switch (n_rows under threshold → window path) is a pure
        # physical choice: identical rows
        switched = {
            r["k"]: r["rn"]
            for r in ordered_prefix(s, ["c", "k"], "rn", n_rows=10).collect()
        }
        assert switched == want


class TestRevenueForecast:
    def test_matches_decimal_replay(self, spark):
        from decimal import Decimal
        import datetime as _dt

        con = duckdb.connect()
        rows = con.sql(
            f"SELECT l_shipdate, l_discount, l_quantity, l_extendedprice "
            f"FROM '{SF_TEST_DIR}/lineitem.parquet'"
        ).fetchall()
        con.close()
        lo, hi = _dt.datetime(1996, 1, 1), _dt.datetime(1997, 1, 1)
        q4 = lambda v: Decimal(repr(v)).quantize(Decimal("0.0001"))  # noqa: E731
        tot, n = Decimal(0), 0
        for sd, disc, qty, price in rows:
            if lo <= sd < hi and 0.05 <= disc <= 0.07 and qty < 24:
                tot += q4(price) * q4(disc)
                n += 1
        r = q_revenue_forecast(spark, SF_TEST_DIR).collect()[0]
        assert r["n_lines"] == n and n > 0
        assert r["revenue"] == round(float(tot), 4)


class TestBrandSupplierCounts:
    def test_matches_set_replay(self, spark):
        con = duckdb.connect()
        parts = {
            k: (b, s)
            for k, b, s, t in con.sql(
                f"SELECT p_partkey, p_brand, p_size, p_type FROM '{SF_TEST_DIR}/part.parquet'"
            ).fetchall()
            if t != "PROMO"
        }
        li = con.sql(
            f"SELECT l_partkey, l_suppkey FROM '{SF_TEST_DIR}/lineitem.parquet'"
        ).fetchall()
        con.close()
        sup: dict[tuple, set] = defaultdict(set)
        for pk, sk in li:
            if pk in parts:
                sup[parts[pk]].add(sk)
        want = sorted(
            ((b, s, len(v)) for (b, s), v in sup.items()),
            key=lambda r: (-r[2], r[0], r[1]),
        )
        got = [
            (r["p_brand"], r["p_size"], r["supplier_cnt"])
            for r in q_brand_supplier_counts(spark, SF_TEST_DIR).collect()
        ]
        assert got == want and got


class TestHostDegreeStats:
    def test_matches_counter_replay(self, spark, docs_rows):
        edges = set()
        for doc_id, *_ in docs_rows:
            s, d = doc_id % 97, _md5_bucket(doc_id, 97)
            if s != d:
                edges.add((s, d))
        out_d, in_d, mut = Counter(), Counter(), Counter()
        for s, d in edges:
            out_d[s] += 1
            in_d[d] += 1
            if (d, s) in edges:
                mut[s] += 1
        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        want = [(h, out_d[h], in_d[h], mut[h]) for h in nodes]
        got = [
            (r["host"], r["out_deg"], r["in_deg"], r["n_mutual"])
            for r in q_host_degree_stats(spark, SF_TEST_DIR).collect()
        ]
        assert got == want
        assert any(m > 0 for *_x, m in want), "no mutual edges — reciprocity gates nothing"


class TestDailyVolumeMa7:
    def test_matches_python_replay(self, spark):
        con = duckdb.connect()
        days = con.sql(
            f"SELECT CAST(ts AS DATE), CAST(count(*) AS BIGINT) "
            f"FROM '{SF_TEST_DIR}/events.parquet' GROUP BY 1 ORDER BY 1"
        ).fetchall()
        con.close()
        want = []
        for i, (dy, n) in enumerate(days):
            win = [c for _, c in days[max(0, i - 6): i + 1]]
            want.append((dy, n, (sum(win) * 1000) // len(win)))
        got = [
            (r["dy"], r["n_events"], r["ma7_milli"])
            for r in q_daily_volume_ma7(spark, SF_TEST_DIR).collect()
        ]
        assert got == want and got


class TestRfmSegments:
    def test_matches_decimal_replay(self, spark):
        from decimal import Decimal

        con = duckdb.connect()
        rows = con.sql(
            f"SELECT o_custkey, CAST(o_orderdate AS DATE), o_totalprice "
            f"FROM '{SF_TEST_DIR}/orders.parquet'"
        ).fetchall()
        con.close()
        q4 = lambda v: Decimal(repr(v)).quantize(Decimal("0.0001"))  # noqa: E731
        last: dict[int, object] = {}
        cnt: Counter = Counter()
        spend: dict[int, Decimal] = defaultdict(lambda: Decimal(0))
        for k, d, p in rows:
            last[k] = max(last.get(k, d), d)
            cnt[k] += 1
            spend[k] += q4(p)
        mx = max(last.values())
        base = [
            (k, (mx - last[k]).days, cnt[k], float(spend[k])) for k in last
        ]
        n = len(base)
        def quartiles(key):
            order = sorted(base, key=key)
            return {r[0]: ((i * 4) // n) + 1 for i, r in enumerate(order)}
        qr = quartiles(lambda r: (r[1], r[0]))
        qf = quartiles(lambda r: (r[2], r[0]))
        qm = quartiles(lambda r: (r[3], r[0]))
        seg_n: Counter = Counter()
        seg_s: dict[tuple, Decimal] = defaultdict(lambda: Decimal(0))
        for k, _rd, _nf, sp in base:
            seg = (qr[k], qf[k], qm[k])
            seg_n[seg] += 1
            seg_s[seg] += q4(sp)
        want = sorted(
            (s + (seg_n[s], round(float(seg_s[s]), 4)) for s in seg_n),
        )
        got = [
            (r["r_quartile"], r["f_quartile"], r["m_quartile"],
             r["n_customers"], r["total_spend"])
            for r in q_rfm_segments(spark, SF_TEST_DIR).collect()
        ]
        assert got == want
        # every quartile axis must actually spread (1..4 present)
        for axis in range(3):
            assert {g[axis] for g in got} == {1, 2, 3, 4}


class TestPromoRevenueShare:
    def test_matches_decimal_replay(self, spark):
        from decimal import Decimal
        import datetime as _dt

        con = duckdb.connect()
        ptype = dict(con.sql(
            f"SELECT p_partkey, p_type FROM '{SF_TEST_DIR}/part.parquet'"
        ).fetchall())
        li = con.sql(
            f"SELECT l_partkey, l_shipdate, l_extendedprice, l_discount "
            f"FROM '{SF_TEST_DIR}/lineitem.parquet'"
        ).fetchall()
        con.close()
        q4 = lambda v: Decimal(repr(v)).quantize(Decimal("0.0001"))  # noqa: E731
        lo, hi = _dt.datetime(1996, 3, 1), _dt.datetime(1996, 4, 1)
        promo, total = Decimal(0), Decimal(0)
        for pk, sd, price, disc in li:
            if lo <= sd < hi and pk in ptype:
                rev = q4(price) * (Decimal(1) - q4(disc))
                total += rev
                if ptype[pk] == "PROMO":
                    promo += rev
        pr, tr = round(float(promo), 4), round(float(total), 4)
        r = q_promo_revenue_share(spark, SF_TEST_DIR).collect()[0]
        assert (r["promo_revenue"], r["total_revenue"]) == (pr, tr)
        assert r["promo_share_pct"] == round(pr / tr * 100, 6)
        assert 0 < r["promo_share_pct"] < 100

    def test_part_dim_broadcasts(self, spark):
        plan = (
            q_promo_revenue_share(spark, SF_TEST_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan, plan


class TestDailyChurn:
    def test_matches_python_replay(self, spark):
        con = duckdb.connect()
        pairs = set(con.sql(
            f"SELECT DISTINCT user_id, CAST(ts AS DATE) FROM '{SF_TEST_DIR}/events.parquet'"
        ).fetchall())
        con.close()
        import datetime as _dt

        act: dict = defaultdict(set)
        for u, d in pairs:
            act[d].add(u)
        days = sorted(act)
        want = []
        for d in days:
            nd = d + _dt.timedelta(days=1)
            if nd not in act:
                continue
            ret = len(act[d] & act[nd])
            churned = len(act[d]) - ret
            want.append(
                (d, len(act[d]), churned, len(act[nd]) - ret,
                 (churned * 1000) // len(act[d]))
            )
        from pegasus_spark.analytics.queries import q_daily_churn

        got = [
            (r["day"], r["n_active"], r["n_churned"], r["n_new"],
             r["churn_rate_milli"])
            for r in q_daily_churn(spark, SF_TEST_DIR).collect()
        ]
        assert got == want
        assert sum(r[2] for r in got) > 0 and sum(r[3] for r in got) > 0


@pytest.fixture(scope="module")
def event_rows():
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT user_id, event_id, event_type, epoch_us(ts), CAST(ts AS DATE) "
        f"FROM '{SF_TEST_DIR}/events.parquet'"
    ).fetchall()
    con.close()
    return rows


class TestTopPaths:
    def test_matches_python_replay(self, spark, event_rows):
        by_user: dict[int, list] = defaultdict(list)
        for u, eid, et, t, _d in event_rows:
            by_user[u].append((t, eid, et))
        path_users: dict[str, Counter] = defaultdict(Counter)
        for u, evs in by_user.items():
            evs.sort()
            types = [e[2] for e in evs]
            for i in range(len(types) - 2):
                path_users[">".join(types[i : i + 3])][u] += 1
        agg = [
            (p, sum(c.values()), len(c)) for p, c in path_users.items()
        ]
        want = sorted(agg, key=lambda r: (-r[1], r[0]))[:10]
        from pegasus_spark.analytics.queries import q_top_paths

        got = [
            (r["path"], r["cnt"], r["n_users"])
            for r in q_top_paths(spark, SF_TEST_DIR).collect()
        ]
        assert got == want and len(got) == 10


class TestSessionAbandonment:
    def test_matches_python_replay(self, spark, event_rows):
        by_user: dict[int, list] = defaultdict(list)
        for u, eid, et, t, d in event_rows:
            by_user[u].append((t, eid, et, d))
        sessions = []
        for u, evs in by_user.items():
            evs.sort()
            cur = [evs[0]]
            for prev, nxt in zip(evs, evs[1:]):
                if nxt[0] - prev[0] > 1_800_000_000:
                    sessions.append(cur)
                    cur = []
                cur.append(nxt)
            sessions.append(cur)
        per_day: dict = defaultdict(lambda: [0, 0, 0])
        for s in sessions:
            day = min(e[3] for e in s)
            types = {e[2] for e in s}
            cell = per_day[day]
            cell[0] += 1
            if "view" in types:
                cell[1] += 1
                if "purchase" not in types:
                    cell[2] += 1
        want = [
            (d, n, v, a, (a * 1000) // v if v else None)
            for d, (n, v, a) in sorted(per_day.items())
        ]
        from pegasus_spark.analytics.queries import q_session_abandonment

        got = [
            (r["day"], r["n_sessions"], r["n_view_sessions"], r["n_abandoned"],
             r["abandon_rate_milli"])
            for r in q_session_abandonment(spark, SF_TEST_DIR).collect()
        ]
        assert got == want
        assert sum(r[3] for r in got) > 0


class TestUserConcentration:
    def test_matches_python_replay(self, spark, event_rows):
        cnt = Counter(u for u, *_ in event_rows)
        nu = len(cnt)
        order = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(cnt.values())
        def share(k):
            top = sum(c for _, c in order[: (k * nu + 99) // 100])
            return (top * 1000) // total
        from pegasus_spark.analytics.queries import q_user_concentration

        r = q_user_concentration(spark, SF_TEST_DIR).collect()[0]
        assert (r["n_users"], r["n_events"]) == (nu, total)
        assert r["top10_share_milli"] == share(10)
        assert r["top20_share_milli"] == share(20)
        assert r["top50_share_milli"] == share(50)
        # concentration must be monotone and non-degenerate
        assert 100 <= r["top10_share_milli"] < r["top20_share_milli"] < r["top50_share_milli"] < 1000


class TestFulfillmentLag:
    def test_matches_rank_math_replay(self, spark):
        con = duckdb.connect()
        first_ship = dict(con.sql(
            f"SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) "
            f"FROM '{SF_TEST_DIR}/lineitem.parquet' GROUP BY 1"
        ).fetchall())
        orders = con.sql(
            f"SELECT o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE) "
            f"FROM '{SF_TEST_DIR}/orders.parquet'"
        ).fetchall()
        con.close()
        by_prio: dict[str, list] = defaultdict(list)
        for k, prio, od in orders:
            if k in first_ship:
                by_prio[prio].append(((first_ship[k] - od).days, k))
        from pegasus_spark.analytics.queries import q_fulfillment_lag

        got = {r["o_orderpriority"]: r for r in q_fulfillment_lag(spark, SF_TEST_DIR).collect()}
        assert set(got) == set(by_prio)
        for prio, vals in by_prio.items():
            vals.sort()
            n = len(vals)
            r = got[prio]
            assert r["n_orders"] == n
            for p, col in ((25, "p25"), (50, "p50"), (75, "p75"), (95, "p95")):
                assert r[col] == vals[(p * n + 99) // 100 - 1][0]
            assert r["p25"] <= r["p50"] <= r["p75"] <= r["p95"]


class TestImageDedupSavings:
    def test_keeper_ledger_consistency(self, spark):
        from pegasus_spark.analytics.pipeline_queries import (
            q_image_dedup_savings,
            q_phash_keepers,
        )

        keepers = q_phash_keepers(spark, SF_TEST_DIR).collect()
        res = {
            r[0]: ((int(hashlib.md5(str(r[0]).encode()).hexdigest()[:4], 16) % 1793 + 256)
                   * (int(hashlib.md5(str(r[0]).encode()).hexdigest()[4:8], 16) % 1793 + 256))
            for r in [(k["doc_id"],) for k in keepers]
        }
        con = duckdb.connect()
        src_of = dict(con.sql(
            f"SELECT doc_id, source FROM '{SF_TEST_DIR}/documents.parquet'"
        ).fetchall())
        con.close()
        want: dict = defaultdict(lambda: [0, 0, 0, 0])
        for k in keepers:
            cell = want[src_of[k["doc_id"]]]
            r = res[k["doc_id"]]
            cell[0] += 1
            cell[2] += r
            if k["is_keeper"]:
                cell[1] += 1
                cell[3] += r
        got = q_image_dedup_savings(spark, SF_TEST_DIR).collect()
        assert {r["source"] for r in got} == set(want)
        for r in got:
            ni, nk, rt, rk = want[r["source"]]
            assert (r["n_images"], r["n_keepers"], r["res_total"], r["res_kept"]) == (
                ni, nk, rt, rk
            )
            assert r["savings_milli"] == ((rt - rk) * 1000) // rt
            # planted duplicate groups mean every source saves something
            assert r["n_keepers"] < r["n_images"]
            assert r["savings_milli"] > 0


class TestRevenueYoy:
    def test_growth_math_and_negative_floor(self, spark):
        import math as _math

        rows = q_revenue_yoy(spark, SF_TEST_DIR).collect()
        by_nation: dict[str, list] = defaultdict(list)
        for r in rows:
            by_nation[r["nation"]].append(r)
        saw_negative = False
        for nation, rs in by_nation.items():
            assert [r["yr"] for r in rs] == sorted(r["yr"] for r in rs)
            assert rs[0]["prev_revenue"] is None and rs[0]["growth_milli"] is None
            for prev, cur in zip(rs, rs[1:]):
                assert cur["prev_revenue"] == prev["revenue"]
                want = _math.floor(
                    (cur["revenue"] - prev["revenue"]) * 1000 / prev["revenue"]
                )
                assert cur["growth_milli"] == want
                if want < 0:
                    saw_negative = True
        assert saw_negative, "no negative growth — the floor-vs-DIV distinction is untested"
