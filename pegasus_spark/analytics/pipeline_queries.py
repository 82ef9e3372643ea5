"""Training-data pipeline queries with DuckDB oracle twins.

Each Spark implementation lives in pegasus_spark.textops.*; here each gets a
(spark, sf_dir) wrapper plus an ANSI-SQL twin that recomputes the SAME
algorithm (same md5 hashes, same closed-form ratios, same rounding, same
tie-breaks) so the driver's value-hash gate verifies them end-to-end.

SQL-parity rules used throughout (see textops module docstrings):
md5 hex for all content hashes; varchar MIN for minhash; 60-bit simhash from
15 hex chars; round() before any float comparison/ordering; explicit
deterministic tie-break columns on every LIMIT.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pegasus_spark.operators import exact_percentiles
from pegasus_spark.textops import dedup as D
from pegasus_spark.textops import similarity as S
from pegasus_spark.textops import text as T

# The oracles that mirror with_lang_guess / with_quality / gopher_flags
# build their marker lists and score weights from textops.text, so they
# cannot drift from the scorer: DuckDB list literals per language.
_SQL_STOPS = {
    lang: "[" + ",".join(f"'{w}'" for w in words) + "]"
    for lang, words in T.LANG_MARKERS.items()
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_token_stats(spark, sf_dir):
    return (
        T.with_token_count(_docs(spark, sf_dir))
        .select("doc_id", "n_tokens", "n_subwords_est")
        .orderBy("doc_id")
    )


ORACLE_TOKEN_STATS = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       CAST(floor(length(trim(text)) / 4.0) AS INT) AS n_subwords_est
FROM documents ORDER BY doc_id
"""


def q_doc_quality(spark, sf_dir):
    return (
        T.with_quality(_docs(spark, sf_dir))
        .select("doc_id", "n_tokens", "stop_ratio", "mean_word_len", "punct_ratio", "quality")
        .orderBy("doc_id")
    )


ORACLE_DOC_QUALITY = rf"""
WITH t AS (
  SELECT doc_id, trim(text) AS tt,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, length(tt) AS tlen, len(toks) AS n,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS n_stop,
         length(tt) - length(regexp_replace(tt, '[.,!?;:]', '', 'g')) AS n_punct
  FROM t
)
SELECT doc_id, n AS n_tokens,
       round(n_stop * 1.0 / n, 4) AS stop_ratio,
       round((tlen - (n - 1)) * 1.0 / n, 4) AS mean_word_len,
       round(n_punct * 1.0 / tlen, 4) AS punct_ratio,
       round(least(n / 64.0, 1.0) * {T.QUALITY_W_LENGTH}
             + (1.0 - least(n_stop * 1.0 / n, 1.0)) * {T.QUALITY_W_NONSTOP}
             + least(((tlen - (n - 1)) * 1.0 / n) / 8.0, 1.0) * {T.QUALITY_W_WORDLEN}, 4) AS quality
FROM m ORDER BY doc_id
"""


def q_lang_id(spark, sf_dir):
    return (
        T.with_lang_guess(_docs(spark, sf_dir))
        .select(
            "doc_id", "hits_en", "hits_de", "hits_es", "hits_fr", "lang_guess",
            (F.col("lang_guess") == F.col("lang")).alias("agrees"),
        )
        .orderBy("doc_id")
    )


ORACLE_LANG_ID = rf"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), s AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS hits_en,
    len(list_filter(toks, x -> list_contains({_SQL_STOPS['de']}, x))) AS hits_de,
    len(list_filter(toks, x -> list_contains({_SQL_STOPS['es']}, x))) AS hits_es,
    len(list_filter(toks, x -> list_contains({_SQL_STOPS['fr']}, x))) AS hits_fr
  FROM t
)
SELECT doc_id, hits_en, hits_de, hits_es, hits_fr,
  CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
       WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
       WHEN hits_es >= hits_fr THEN 'es'
       ELSE 'fr' END AS lang_guess,
  (CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
        WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
        WHEN hits_es >= hits_fr THEN 'es'
        ELSE 'fr' END) = lang AS agrees
FROM s ORDER BY doc_id
"""


def q_fingerprint(spark, sf_dir):
    # single-file table ⇒ single scan partition; spread the md5-window work
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return (
        T.with_fingerprint(docs, k=8)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


ORACLE_FINGERPRINT = r"""
WITH t AS (SELECT doc_id, trim(text) AS tt FROM documents),
w AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 7, 1))) AS i FROM t
)
SELECT doc_id, min(md5(substr(tt, i, 8))) AS fingerprint
FROM w GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    return D.exact_dup_groups(_docs(spark, sf_dir)).orderBy("text_hash")


ORACLE_EXACT_DEDUP = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS dup_cnt
FROM documents GROUP BY md5(text) ORDER BY text_hash
"""


def q_minhash_near_dup(spark, sf_dir):
    return D.minhash_near_dups(
        _docs(spark, sf_dir), n_hashes=8, k=5, bands=4, rows=2, min_sig_match=4
    ).orderBy("id_a", "id_b")


ORACLE_MINHASH_NEAR_DUP = r"""
WITH t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
  (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
   + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
   + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) AS sig_matches
FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
WHERE (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
   + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
   + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) >= 4
ORDER BY id_a, id_b
"""


def q_minhash_accuracy(spark, sf_dir):
    """Estimator-calibration audit of the minhash dedup pass
    (dedup.minhash_accuracy — ann_recall's text-side twin): per surviving
    near-dup pair, the signature-estimated Jaccard sig_matches/8 next to
    the EXACT 5-shingle Jaccard over the same distinct-shingle sets, plus
    the signed error — the table that justifies min_sig_match before a
    corpus-scale delete. est and true are each ONE IEEE division of exact
    BIGINTs; err subtracts the unrounded quotients and rounds once. The
    exact-verify join touches only pair participants."""
    return D.minhash_accuracy(
        _docs(spark, sf_dir), n_hashes=8, k=5, bands=4, rows=2, min_sig_match=4
    ).orderBy("id_a", "id_b")


ORACLE_MINHASH_ACCURACY = r"""
WITH t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
px AS (
  SELECT c.id_a, c.id_b,
    (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) AS sig_matches
  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
),
keep AS (SELECT * FROM px WHERE sig_matches >= 4),
cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
i AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM keep p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT k.id_a, k.id_b, k.sig_matches,
       round(k.sig_matches * 1.0 / 8, 4) AS est_jaccard,
       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
       CAST(ca.n + cb.n - COALESCE(i.n_inter, 0) AS BIGINT) AS n_union,
       round(COALESCE(i.n_inter, 0) * 1.0
             / (ca.n + cb.n - COALESCE(i.n_inter, 0)), 4) AS true_jaccard,
       round(k.sig_matches * 1.0 / 8
             - COALESCE(i.n_inter, 0) * 1.0
               / (ca.n + cb.n - COALESCE(i.n_inter, 0)), 4) AS err
FROM keep k
LEFT JOIN i ON i.id_a = k.id_a AND i.id_b = k.id_b
JOIN cnt ca ON ca.doc_id = k.id_a
JOIN cnt cb ON cb.doc_id = k.id_b
ORDER BY k.id_a, k.id_b
"""


def q_minhash_threshold_sweep(spark, sf_dir):
    """Operating curve for the minhash verify threshold — minhash_accuracy
    folded into the decision table (threshold_sweep's shape, applied to
    the dedup estimator): for every candidate min_sig_match t = 1..8,
    how many LSH candidate pairs survive, how many are TRUE near-dups by
    the exact 5-shingle Jaccard (≥ 0.25, ngram_jaccard's τ), the
    precision of acting at t, and the recall relative to all true dups
    among the candidates. Recall is banding-conditional by construction —
    pairs no band catches are invisible to any t; the b/r recall curve is
    the analytic (1-(1-s^r)^b) companion, not measured here.

    The pair table first collapses to its ≤8-row (sig_matches → pairs,
    true dups) histogram — a map-side-combinable 8-key aggregate — and
    the t ≥ s comparison is an 8×8 broadcast theta-join over THAT (the
    first form broadcast the whole LSH pair table into the theta-join:
    ~900k rows × 8 t values of nested-loop probes at sf0.1); zero-filled
    so a t that keeps nothing still reports. Every ratio is one IEEE
    division of exact BIGINTs, NULL on empty denominators."""
    acc = D.minhash_accuracy(
        _docs(spark, sf_dir), n_hashes=8, k=5, bands=4, rows=2, min_sig_match=1
    ).select("sig_matches", "true_jaccard")
    # ≤8 rows, but its subtree is the full exact verify over every LSH
    # candidate pair; `per` feeds both `tot` and the final select, so an
    # unmaterialized hist runs that verify TWICE (measured 17.7 → 8.7 s
    # at sf0.1 from this one checkpoint).
    hist = acc.groupBy("sig_matches").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c"),
        F.sum(F.when(F.col("true_jaccard") >= 0.25, 1).otherwise(0))
        .cast("bigint").alias("_d"),
    ).localCheckpoint(eager=True)
    ks = spark.range(1, 9).select(F.col("id").cast("int").alias("t"))
    per = (
        ks.join(F.broadcast(hist), F.col("sig_matches") >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.sum("_d"), F.lit(0)).cast("bigint").alias("n_true_dups"),
        )
    )
    tot = per.agg(
        F.max(F.when(F.col("t") == 1, F.col("n_true_dups"))).alias("n_true_total")
    )
    np_, nt, ntt = F.col("n_pairs"), F.col("n_true_dups"), F.col("n_true_total")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "t",
            "n_pairs",
            "n_true_dups",
            F.when(np_ > 0, F.round(nt / np_, 4)).alias("precision"),
            F.when(ntt > 0, F.round(nt / ntt, 4)).alias("recall"),
        )
        .orderBy("t")
    )


ORACLE_MINHASH_THRESHOLD_SWEEP = r"""
WITH t0 AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t0
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
px AS (
  SELECT c.id_a, c.id_b,
    (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) AS sig_matches
  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
),
cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
i AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM px p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.s = a.s
  GROUP BY 1, 2
),
j AS (
  SELECT k.sig_matches,
         round(COALESCE(i.n_inter, 0) * 1.0
               / (ca.n + cb.n - COALESCE(i.n_inter, 0)), 4) AS true_jaccard
  FROM px k
  LEFT JOIN i ON i.id_a = k.id_a AND i.id_b = k.id_b
  JOIN cnt ca ON ca.doc_id = k.id_a
  JOIN cnt cb ON cb.doc_id = k.id_b
),
ks AS (SELECT unnest(generate_series(1, 8)) AS t),
per AS (
  SELECT ks.t, CAST(count(j.sig_matches) AS BIGINT) AS n_pairs,
         CAST(COALESCE(SUM(CASE WHEN j.true_jaccard >= 0.25 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_true_dups
  FROM ks LEFT JOIN j ON j.sig_matches >= ks.t
  GROUP BY ks.t
),
tot AS (SELECT n_true_dups AS n_true_total FROM per WHERE t = 1)
SELECT CAST(per.t AS INT) AS t, per.n_pairs, per.n_true_dups,
       CASE WHEN per.n_pairs > 0
            THEN round(per.n_true_dups * 1.0 / per.n_pairs, 4) END AS "precision",
       CASE WHEN tot.n_true_total > 0
            THEN round(per.n_true_dups * 1.0 / tot.n_true_total, 4) END AS recall
FROM per CROSS JOIN tot
ORDER BY t
"""


def q_near_dup_clusters(spark, sf_dir):
    """Transitive dedup: connected components over the minhash near-dup pair
    graph; cluster_id = min reachable doc_id (singletons keep their own).
    Oracle = DuckDB recursive CTE transitive closure over the same pairs —
    genuinely iterative on the Spark side (min-label propagation, converges
    in O(component diameter) rounds), exactly SQL-expressible at oracle
    scale. The pair+CC build is memoized per session/input
    (_minhash_cluster_df) and shared with the density and quality-gap
    audits — the materialized-cluster-table discipline."""
    _pairs, clusters = _minhash_cluster_df(spark, sf_dir)
    return clusters.orderBy("doc_id")


# Shared recursive-CTE body: minhash signatures → LSH bands → surviving
# pairs (p) → transitive closure (reach). ORACLE_NEAR_DUP_CLUSTERS and
# ORACLE_CLUSTER_DENSITY both build on it so the pair/closure definition
# can't drift between the assignment gate and the density audit.
_ORACLE_MINHASH_CC_BODY = r"""
WITH RECURSIVE t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
p AS (
  SELECT id_a, id_b
  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
  WHERE (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) >= 4
),
e AS (SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
)"""

ORACLE_NEAR_DUP_CLUSTERS = _ORACLE_MINHASH_CC_BODY + r"""
SELECT v.doc_id,
       CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
GROUP BY v.doc_id
ORDER BY v.doc_id
"""


def q_k_anonymity(spark, sf_dir):
    """k-anonymity re-identification risk audit (Sweeney 2002) over the
    quasi-identifier tuple (source, lang, log2 length band) — the privacy
    datasheet row a release review asks for next to the PII scrub: how
    many docs sit in quasi-identifier groups smaller than k=5, i.e. are
    re-identifiable by their metadata alone if any one attribute links to
    an external record. The length band uses the exact length(bin(n))−1
    identity so the quasi-id itself can't drift between engines.

    Scale shape: one (source, lang, band) partial-agg groupBy (bounded by
    the quasi-id grid, combines map-side) → one per-source rollup with
    conditional sums; no joins, text never moves. risk_milli is exact
    BIGINT·1000 DIV."""
    q = _docs(spark, sf_dir).select(
        "source", "lang", (F.length(F.bin("n_chars")) - 1).cast("int").alias("band")
    )
    g = q.groupBy("source", "lang", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("gs")
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("gs").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("gs") < 5, F.col("gs")).otherwise(0))
            .cast("bigint").alias("n_at_risk"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("gs") < 5, 1).otherwise(0))
            .cast("bigint").alias("n_small_groups"),
        )
        .withColumn("risk_milli", F.expr("(n_at_risk * 1000) DIV n_docs"))
        .orderBy("source")
    )


ORACLE_K_ANONYMITY = """
WITH q AS (
  SELECT doc_id, source, lang, length(bin(n_chars)) - 1 AS band FROM documents
),
g AS (
  SELECT source, lang, band, CAST(count(*) AS BIGINT) AS gs
  FROM q GROUP BY source, lang, band
)
SELECT source,
       CAST(SUM(gs) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN gs < 5 THEN gs ELSE 0 END) AS BIGINT) AS n_at_risk,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN gs < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
       CAST((SUM(CASE WHEN gs < 5 THEN gs ELSE 0 END) * 1000) // SUM(gs)
            AS BIGINT) AS risk_milli
FROM g GROUP BY source ORDER BY source
"""


def q_hits_scores(spark, sf_dir):
    """HITS hub/authority scores (Kleinberg 1999) over the same
    deterministic host graph as `pagerank` — the second classic
    link-analysis prior a crawl scheduler consults (hubs = listing/index
    hosts worth re-crawling for discovery, authorities = content hosts
    worth fetching deeply; pegasus's region→listing→detail traversal is
    exactly a hub→authority walk). Three unrolled mutual-recursion
    rounds: auth ← Σ in-neighbor hubs, hub ← Σ out-neighbor NEW auths,
    each renormalized to an L∞=10⁶ BIGINT grid via `score·10⁶ DIV
    max(score)` — integer sums and DIV keep every round bit-identical
    across engines and partitionings (the pagerank discipline; max is
    floored at 1 so an empty side can't divide by zero).

    Scale shape: identical to pagerank — the corpus crosses ONE exchange
    (the (src, dst) host distinct, |V|²-bounded); degrees, the node set,
    and all six per-round joins run on that bounded graph with the score
    side broadcast. At 100 TB only the edge-dedup scan grows. The edge
    set and each round's |V|-row score frame are eagerly checkpointed:
    every L∞ renorm feeds TWO consumers (the 1-row max agg and the
    scaled projection), so an unmaterialized lineage re-evaluates the
    whole upstream round per consumer and compounds across rounds — the
    minhash-sweep lesson; measured 23.3 → 3.2 s warm at sf0.1 from the
    checkpoints alone — the remainder is ~8 tiny sequential jobs per
    round, bounded by rounds, not data — values identical
    (replay-pinned)."""
    n_hosts = 97
    docs = _docs(spark, sf_dir).select("doc_id")
    dst = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % n_hosts
    )
    edges = (
        docs.select((F.col("doc_id") % n_hosts).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    ).localCheckpoint(eager=True)  # the one corpus exchange, paid once
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    ).localCheckpoint(eager=True)
    hub = nodes.select("host", F.lit(1000000).cast("bigint").alias("s"))

    def _norm(scored):
        scored = scored.localCheckpoint(eager=True)  # ≤|V| rows
        m = scored.agg(
            F.greatest(F.max("s"), F.lit(1)).cast("bigint").alias("m")
        )
        return scored.crossJoin(F.broadcast(m)).select(
            "host", F.expr("s * 1000000 DIV m").cast("bigint").alias("s")
        )

    auth = None
    for _ in range(3):
        ac = (
            edges.join(F.broadcast(hub), edges.src == hub.host)
            .groupBy("dst")
            .agg(F.sum("s").alias("c"))
        )
        auth = _norm(
            nodes.join(F.broadcast(ac), nodes.host == ac.dst, "left").select(
                "host", F.coalesce("c", F.lit(0)).cast("bigint").alias("s")
            )
        )
        hc = (
            edges.join(F.broadcast(auth), edges.dst == auth.host)
            .groupBy("src")
            .agg(F.sum("s").alias("c"))
        )
        hub = _norm(
            nodes.join(F.broadcast(hc), nodes.host == hc.src, "left").select(
                "host", F.coalesce("c", F.lit(0)).cast("bigint").alias("s")
            )
        )
    return (
        nodes.join(
            F.broadcast(auth.select("host", F.col("s").alias("auth_micro"))), "host"
        )
        .join(F.broadcast(hub.select("host", F.col("s").alias("hub_micro"))), "host")
        .orderBy("host")
    )


def _hits_iter_sql(i: int) -> str:
    prev_hub = f"hn{i - 1}" if i > 0 else "s0"
    return f"""
ac{i} AS (
  SELECT e.dst AS host, SUM(h.s) AS c FROM e JOIN {prev_hub} h ON h.host = e.src
  GROUP BY e.dst
),
a{i} AS (
  SELECT n.host, CAST(coalesce(ac{i}.c, 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN ac{i} ON ac{i}.host = n.host
),
am{i} AS (SELECT greatest(MAX(s), 1) AS m FROM a{i}),
an{i} AS (SELECT host, CAST(s * 1000000 // m AS BIGINT) AS s FROM a{i}, am{i}),
hc{i} AS (
  SELECT e.src AS host, SUM(a.s) AS c FROM e JOIN an{i} a ON a.host = e.dst
  GROUP BY e.src
),
h{i} AS (
  SELECT n.host, CAST(coalesce(hc{i}.c, 0) AS BIGINT) AS s
  FROM nodes n LEFT JOIN hc{i} ON hc{i}.host = n.host
),
hm{i} AS (SELECT greatest(MAX(s), 1) AS m FROM h{i}),
hn{i} AS (SELECT host, CAST(s * 1000000 // m AS BIGINT) AS s FROM h{i}, hm{i})"""


ORACLE_HITS_SCORES = (
    """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 97 AS src,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 97 AS dst
    FROM documents
  ) WHERE src <> dst
),
nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
s0 AS (SELECT host, CAST(1000000 AS BIGINT) AS s FROM nodes),"""
    + ",".join(_hits_iter_sql(i) for i in range(3))
    + """
SELECT n.host, an2.s AS auth_micro, hn2.s AS hub_micro
FROM nodes n
JOIN an2 ON an2.host = n.host
JOIN hn2 ON hn2.host = n.host
ORDER BY n.host
"""
)


def q_shingle_df_histogram(spark, sf_dir):
    """Document-frequency spectrum of the 5-shingles — the evidence table
    behind every df-cut decision (ngram_jaccard's max_df_frac hot-gram
    anti-join, CCNet's head/tail split): per log2 df band, how many
    distinct shingles live there and how many postings (doc, shingle)
    they carry. The Zipf head is the point: at sf0.01 the top band holds
    76 shingles carrying 29k postings — the boilerplate a pair search
    must cut before it quadratically explodes. The band is the exact
    length(bin(df))−1 identity (length_histogram's rule) so no float
    log2 can drift a power-of-two boundary between engines.

    Scale shape: distinct (doc, shingle) explode → (shingle) partial-agg
    count — the exchange is VOCABULARY-sized (one row per distinct
    shingle, map-side combined, boilerplate mega-keys collapse early) —
    then a ≤64-band rollup. Text never moves past the explode."""
    d = _docs(spark, sf_dir).select("doc_id", F.trim("text").alias("_t"))
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(_t) - 4, 1)),"
                    " j -> substring(_t, j, 5))"
                )
            )
        ).alias("s"),
    )
    df = sh.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return (
        df.groupBy((F.length(F.bin("df")) - 1).cast("int").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("df").cast("bigint").alias("n_postings"),
        )
        .orderBy("band")
    )


ORACLE_SHINGLE_DF_HISTOGRAM = r"""
WITH t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s)
SELECT CAST(length(bin(df)) - 1 AS INT) AS band,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(SUM(df) AS BIGINT) AS n_postings
FROM df GROUP BY band ORDER BY band
"""


def q_dup_quality_gap(spark, sf_dir):
    """What does dedup actually remove? Exact quality/length comparison
    of CLUSTERED docs (any doc in a ≥2-member near-dup cluster) vs UNIQUE
    docs — the datasheet row that justifies (or indicts) a dedup pass:
    if clustered docs score like unique ones, the pass costs diversity
    for nothing; here they differ, and the table quantifies it. Means are
    exact: token sums are BIGINTs and the 4-dp quality re-quantizes to a
    10⁴ grid via round(q·10⁴, 0) — the product of a 4-dp-rounded double
    and 10⁴ is within 1e-10 of an integer, so round-to-nearest lands both
    engines on the same BIGINT (floor would not).

    Scale shape: the pair/CC build is the dedup pipeline's own cost
    (shared via the _minhash_cluster_df memo); the gap table adds one
    broadcast-sized join of ≥2-cluster ids and one 2-key partial agg.
    Output: 2 rows."""
    docs = _docs(spark, sf_dir)
    _pairs, clusters = _minhash_cluster_df(spark, sf_dir)
    multi = (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("_s"))
        .filter(F.col("_s") >= 2)
        .join(clusters, "cluster_id")
        .select("doc_id", F.lit(True).alias("_dup"))
    )
    q = T.with_quality(docs).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("nt"),
        F.round(F.col("quality") * 10000, 0).cast("bigint").alias("q4"),
    )
    return (
        q.join(multi, "doc_id", "left")
        .groupBy(
            F.when(F.col("_dup"), F.lit("clustered"))
            .otherwise(F.lit("unique"))
            .alias("dup_status")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("SUM(nt) DIV COUNT(*)").cast("bigint").alias("mean_tokens"),
            F.expr("SUM(q4) DIV COUNT(*)").cast("bigint").alias("mean_quality_e4"),
        )
        .orderBy("dup_status")
    )


ORACLE_DUP_QUALITY_GAP = _ORACLE_MINHASH_CC_BODY + rf""",
assign AS (
  SELECT v.doc_id,
         CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
  FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
  GROUP BY v.doc_id
),
multi AS (
  SELECT doc_id FROM assign
  WHERE cluster_id IN (
    SELECT cluster_id FROM assign GROUP BY cluster_id HAVING count(*) >= 2
  )
),
q AS (
  SELECT m.doc_id, m.n AS nt,
         CAST(round(round(least(m.n / 64.0, 1.0) * {T.QUALITY_W_LENGTH}
               + (1.0 - least(m.n_stop * 1.0 / m.n, 1.0)) * {T.QUALITY_W_NONSTOP}
               + least(((m.tlen - (m.n - 1)) * 1.0 / m.n) / 8.0, 1.0) * {T.QUALITY_W_WORDLEN}, 4)
             * 10000, 0) AS BIGINT) AS q4
  FROM (
    SELECT doc_id, length(tt) AS tlen, len(toks) AS n,
           len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS n_stop
    FROM (
      SELECT doc_id, tt, regexp_split_to_array(tt, '\s+') AS toks
      FROM t
    )
  ) m
)
SELECT CASE WHEN mu.doc_id IS NOT NULL THEN 'clustered' ELSE 'unique' END AS dup_status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) // count(*) AS BIGINT) AS mean_tokens,
       CAST(SUM(q4) // count(*) AS BIGINT) AS mean_quality_e4
FROM q LEFT JOIN multi mu ON mu.doc_id = q.doc_id
GROUP BY dup_status
ORDER BY dup_status
"""


def q_cluster_density(spark, sf_dir):
    """Transitive-merge risk audit of the near-dup clusters (the false-merge
    failure mode SemDeDup/RefinedWeb warn about): per cluster size, how many
    of the C(s,2) possible pairs are DIRECT LSH-surviving near-dup pairs.
    A 2-cluster is always density 1000‰ (its one edge is what merged it);
    a large cluster at low density was built by CHAINING — A~B~C~…~Z where
    A and Z may share nothing — and is the cluster a curation run should
    re-verify before keeping one doc for all of it. At sf0.01 the corpus
    has exactly this pathology: a 396-doc component at single-digit
    per-mille density next to honest 2/3-clusters at 666-1000‰.

    Scale shape: the LSH pair plan is checkpointed ONCE and feeds both the
    CC build and the density join; the per-cluster pair count joins pairs
    to the assignment on id_a (both ends share a cluster by construction,
    so one join suffices); everything after the assignment is
    cluster-id-keyed and the output is bounded by the number of DISTINCT
    cluster sizes. All ratios are exact BIGINT·1000 DIV. The pair+CC
    build rides the shared _minhash_cluster_df memo."""
    pairs, clusters = _minhash_cluster_df(spark, sf_dir)
    return D.cluster_pair_density(clusters, pairs)


ORACLE_CLUSTER_DENSITY = _ORACLE_MINHASH_CC_BODY + r""",
assign AS (
  SELECT v.doc_id,
         CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
  FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
  GROUP BY v.doc_id
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS s
  FROM assign GROUP BY cluster_id HAVING count(*) >= 2
),
pc AS (
  SELECT a.cluster_id, CAST(count(*) AS BIGINT) AS d
  FROM p JOIN assign a ON a.doc_id = p.id_a
  GROUP BY a.cluster_id
)
SELECT s AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(SUM(coalesce(d, 0)) AS BIGINT) AS n_direct_pairs,
       CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS n_possible_pairs,
       CAST((SUM(coalesce(d, 0)) * 1000) // SUM((s * (s - 1)) // 2)
            AS BIGINT) AS density_milli
FROM sizes LEFT JOIN pc USING (cluster_id)
GROUP BY s
ORDER BY cluster_size
"""


# cluster-assignment memo: (spark applicationId, sf_dir) → materialized
# (doc_id, cluster_id) DataFrame. Four registry queries (cross_modal_clusters,
# dedup_keepers, curated_corpus, dropped_docs) consume the SAME deterministic
# cluster build — recomputing the evidence union + iterative CC per query
# cost ~8 s each at sf0.1. This is the in-process analog of what a real
# pipeline does at 100 TB: write the cluster assignment to a table once,
# then run keeper selection / curation / audits against it.
_CLUSTER_CACHE: dict[tuple, DataFrame] = {}

# Write-once cluster TABLE hook: the curation CLI registers a FrontierStore
# here, after which _cross_modal_cluster_df serves the four consumers from
# the store's committed `clusters` table whenever its recorded input
# fingerprint (sf_dir + parquet mtimes) matches the current inputs, and
# otherwise builds once and COMMITS — the in-process memo made durable.
# A second process (or a post-reset re-read in this one) then does ZERO
# connected-component jobs: the assignment is a parquet scan.
_CLUSTER_STORE = None
_CC_BUILD_COUNT = 0  # how many times this process ran the CC build (diagnostics)


def use_cluster_store(store) -> None:
    """Attach (or detach, with ``None``) a FrontierStore whose ``clusters``
    table backs the cross-modal cluster assignment."""
    global _CLUSTER_STORE
    _CLUSTER_STORE = store


def reset_cluster_memo() -> None:
    """Drop memoized cluster assignments (and their localCheckpoint blocks).
    A localCheckpointed DataFrame has no lineage to recompute from — callers
    that unpersist the session's RDD blocks (bench.py does, before its crawl
    phase) MUST also clear this memo or the next consumer would read a
    truncated plan whose blocks are gone."""
    for entry in _CLUSTER_CACHE.values():
        for df in entry if isinstance(entry, tuple) else (entry,):
            try:
                df.unpersist()
            except Exception:
                pass
    _CLUSTER_CACHE.clear()


def _minhash_cluster_df(spark, sf_dir):
    """Shared by q_near_dup_clusters / q_cluster_density /
    q_dup_quality_gap: the minhash LSH pair graph and its connected-
    component assignment, each built ONCE per (session, sf_dir, input
    mtime) — the cross-modal memo discipline applied to the
    single-evidence chain. A real pipeline materializes the pair table
    and the cluster assignment once and runs the density/quality audits
    against them; recomputing the t≥4 pair search + CC per audit cost
    ~4.5 s each at sf0.1. Returns (pairs, clusters), both eagerly
    checkpointed."""
    import os

    def _mt(name):
        try:
            return os.path.getmtime(os.path.join(sf_dir, name))
        except OSError:
            return -1.0

    cache_key = (
        spark.sparkContext.applicationId, sf_dir, "minhash-cc",
        _mt("documents.parquet"),
    )
    cached = _CLUSTER_CACHE.get(cache_key)
    if cached is not None:
        return cached
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_near_dups(
        docs, n_hashes=8, k=5, bands=4, rows=2, min_sig_match=4
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    clusters = D.near_dup_clusters(docs, pairs).localCheckpoint(eager=True)
    _CLUSTER_CACHE[cache_key] = (pairs, clusters)
    return pairs, clusters


def _cross_modal_cluster_df(spark, sf_dir):
    """Shared by q_cross_modal_clusters / q_dedup_keepers / q_curated_corpus
    / q_dropped_docs: connected components over the union of ALL near-dup
    evidence — minhash (shingle Jaccard), simhash (token Hamming), and
    embedding sign-LSH cosine — so a pair caught by any detector lands in
    the same cluster. Embedding ids map 1:1 onto doc ids in the synthetic
    tables; edges are semi-joined to the document vertex set so foreign ids
    cannot enter the graph. Scale shape: each evidence source is already a
    bucketed equality join; the union adds no new shuffle class. The CC is
    D.near_dup_clusters, which switches on the pair count: up to
    D.LOCAL_CC_MAX_EDGES pairs it runs union-find on the driver (sf0.01:
    1,726 pairs, 7 jobs and 0.6 s instead of the loop's 39 jobs and 3.5 s),
    above it the min-label-propagation + pointer-jumping loop.
    The result is deterministic, so the materialized assignment is memoized
    per (session, sf_dir, input mtimes) and reused by every downstream
    consumer — the mtime component invalidates the memo if the backing
    parquet is regenerated mid-session."""
    import os

    def _mt(name):
        try:
            return os.path.getmtime(os.path.join(sf_dir, name))
        except OSError:
            return -1.0

    cache_key = (
        spark.sparkContext.applicationId, sf_dir,
        _mt("documents.parquet"), _mt("embeddings.parquet"),
    )
    cached = _CLUSTER_CACHE.get(cache_key)
    if cached is not None:
        return cached
    fingerprint = {
        "sf_dir": sf_dir,
        "mt_documents": _mt("documents.parquet"),
        "mt_embeddings": _mt("embeddings.parquet"),
    }
    if _CLUSTER_STORE is not None:
        got = _CLUSTER_STORE.read_clusters()
        if got is not None:
            table, meta = got
            if {k: meta.get(k) for k in fingerprint} == fingerprint:
                # parquet-backed: stable without a checkpoint, zero CC jobs
                _CLUSTER_CACHE[cache_key] = table
                return table
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    # the three evidence builders each run eager localCheckpoint jobs at
    # construction; building them from one thread serializes those jobs.
    # Overlap the independent chains (the scheduler's in-driver concurrency
    # discipline, scheduler.py run_round) — the cluster answer is identical.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as ex:
        f_mh = ex.submit(
            lambda: D.minhash_near_dups(
                docs, n_hashes=8, k=5, bands=4, rows=2, min_sig_match=4
            ).select("id_a", "id_b")
        )
        f_sh = ex.submit(
            lambda: D.simhash_near_dups(docs, max_hamming=3).select("id_a", "id_b")
        )
        f_ep = ex.submit(
            lambda: S.embedding_near_dup_pairs(emb, tau=0.25, n_bits=10).select(
                "id_a", "id_b"
            )
        )
        mh, sh, ep = f_mh.result(), f_sh.result(), f_ep.result()
    ids = docs.select("doc_id")
    pairs = (
        mh.unionByName(sh).unionByName(ep)
        .join(ids.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        .distinct()
    )
    clusters = D.near_dup_clusters(docs, pairs).localCheckpoint(eager=True)
    global _CC_BUILD_COUNT
    _CC_BUILD_COUNT += 1
    if _CLUSTER_STORE is not None:
        _CLUSTER_STORE.write_clusters(clusters, fingerprint)
    _CLUSTER_CACHE[cache_key] = clusters
    return clusters


def q_cross_modal_clusters(spark, sf_dir):
    """The dedup ENDGAME: every doc labeled with the min doc id reachable
    through the union of minhash + simhash + embedding near-dup evidence
    (see _cross_modal_cluster_df for the scale argument)."""
    return _cross_modal_cluster_df(spark, sf_dir).orderBy("doc_id")


def q_dedup_keepers(spark, sf_dir):
    """Keeper selection — the step that turns clusters into a deduped
    corpus: within each cross-modal cluster keep the highest-quality doc
    (the gated doc_quality score, tie-break lowest doc_id). Output marks
    every doc with its cluster, the cluster's keeper, and whether it
    survives; filtering is_keeper yields exactly one doc per duplicate
    group across ALL modalities.

    Parity discipline: the keeper argmax orders by the ROUNDED quality
    (the same round(…,4) the doc_quality gate hashes), so Spark and DuckDB
    order identical decimal values, never raw float expressions. Scale
    shape: quality is a narrow per-row computation; the only new exchange
    over the cluster build is one hash shuffle on cluster_id for the
    first_value window — at 100 TB that is a shuffle of (doc_id, cluster_id,
    quality) triples, not text."""
    return _keeper_df(spark, sf_dir).orderBy("doc_id")


def _keeper_df(spark, sf_dir):
    """Shared by q_dedup_keepers / q_curated_corpus / q_dropped_docs: the
    cross-modal cluster build + quality-argmax keeper decision (see
    q_dedup_keepers for the parity and scale arguments)."""
    docs = _docs(spark, sf_dir)
    clusters = _cross_modal_cluster_df(spark, sf_dir)
    q = T.with_quality(docs).select("doc_id", "quality")
    return D.cluster_keepers(clusters, q)


# Shared CTE body: cross-modal near-dup evidence (minhash ∪ simhash ∪
# embedding sign-LSH) + transitive reachability. Used by both the
# cross_modal_clusters and dedup_keepers oracles.
_ORACLE_CROSS_MODAL_BODY = r"""
WITH RECURSIVE t AS (SELECT doc_id, trim(text) AS tt FROM documents),
-- minhash evidence (identical pipeline to the near_dup_clusters oracle)
mh_pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
mh_sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM mh_pos),
mh_hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM mh_sh)
  GROUP BY doc_id, h
),
mh_sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM mh_hx GROUP BY doc_id
),
mh_bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM mh_sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM mh_sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM mh_sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM mh_sig
),
mh_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM mh_bands a JOIN mh_bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
mh_p AS (
  SELECT id_a, id_b
  FROM mh_cand c JOIN mh_sig sa ON sa.doc_id = c.id_a JOIN mh_sig sb ON sb.doc_id = c.id_b
  WHERE (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) >= 4
),
-- simhash evidence (identical pipeline to the simhash_near_dup oracle)
sh_tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(tt, '\s+')) AS tok FROM t
),
sh_h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM sh_tok),
sh_bits AS (
  SELECT doc_id, b, SUM(((hv >> b) & 1) * 2 - 1) AS s
  FROM (SELECT doc_id, hv, unnest(generate_series(0, 59)) AS b FROM sh_h)
  GROUP BY doc_id, b
),
sh_sh AS (
  SELECT doc_id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
  FROM sh_bits GROUP BY doc_id
),
sh_chunked AS (
  SELECT doc_id, simhash, c, (simhash >> (c * 15)) & 32767 AS cv
  FROM (SELECT doc_id, simhash, unnest(generate_series(0, 3)) AS c FROM sh_sh)
),
sh_p AS (
  SELECT id_a, id_b FROM (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS sh_a, b.simhash AS sh_b
    FROM sh_chunked a JOIN sh_chunked b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
  ) WHERE bit_count(xor(sh_a, sh_b)) <= 3
),
-- embedding evidence (identical pipeline to the embedding_near_dup oracle)
em_e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
em_b AS (
  SELECT vec_id, v,
    (SELECT SUM(CASE WHEN v[2*j+1] > v[2*j+2] THEN (1::BIGINT << j) ELSE 0 END)
     FROM unnest(generate_series(0, 9)) AS tt(j)) AS bucket
  FROM em_e
),
em_p AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM em_b a JOIN em_b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
  WHERE round(list_dot_product(a.v, b2.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 4) >= 0.25
    AND a.vec_id IN (SELECT doc_id FROM documents)
    AND b2.vec_id IN (SELECT doc_id FROM documents)
),
allp AS (
  SELECT id_a, id_b FROM mh_p
  UNION SELECT id_a, id_b FROM sh_p
  UNION SELECT id_a, id_b FROM em_p
),
e AS (SELECT id_a AS s, id_b AS d FROM allp UNION ALL SELECT id_b, id_a FROM allp),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
)"""

ORACLE_CROSS_MODAL_CLUSTERS = _ORACLE_CROSS_MODAL_BODY + r"""
SELECT v.doc_id,
       CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
GROUP BY v.doc_id
ORDER BY v.doc_id
"""

# Keeper selection CTE chain: clusters + the gated doc_quality score; the
# keeper is first_value per cluster ordered by (rounded quality DESC,
# doc_id ASC) — identical decimal ordering on both engines. Shared by the
# dedup_keepers / curated_corpus / dropped_docs oracles.
_ORACLE_KEEPER_CTES = _ORACLE_CROSS_MODAL_BODY + rf""",
clusters AS (
  SELECT v.doc_id,
         CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
  FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
  GROUP BY v.doc_id
),
tq AS (
  SELECT doc_id, trim(text) AS qt,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
mq AS (
  SELECT doc_id, length(qt) AS tlen, len(toks) AS n,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS n_stop
  FROM tq
),
qq AS (
  SELECT doc_id,
         round(least(n / 64.0, 1.0) * {T.QUALITY_W_LENGTH}
               + (1.0 - least(n_stop * 1.0 / n, 1.0)) * {T.QUALITY_W_NONSTOP}
               + least(((tlen - (n - 1)) * 1.0 / n) / 8.0, 1.0) * {T.QUALITY_W_WORDLEN}, 4) AS quality
  FROM mq
),
kk AS (
  SELECT c.doc_id, c.cluster_id,
         first_value(c.doc_id) OVER (
           PARTITION BY c.cluster_id
           ORDER BY qq.quality DESC, c.doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS keeper_id
  FROM clusters c JOIN qq ON qq.doc_id = c.doc_id
)"""

ORACLE_DEDUP_KEEPERS = _ORACLE_KEEPER_CTES + r"""
SELECT doc_id, cluster_id, keeper_id, doc_id = keeper_id AS is_keeper
FROM kk
ORDER BY doc_id
"""


def q_curated_corpus(spark, sf_dir):
    """The materialized dedup-endgame OUTPUT, gated per source: counts of
    docs in / survivors / dropped, plus a survivor PAYLOAD digest — md5 over
    the lexically-sorted per-doc text md5s — so the gate proves the curated
    corpus carries exactly the keepers' payloads, not just the right row
    count. Built from D.curate_corpus (the same function write_curated
    ships); the stats agg shuffles (source, md5) pairs only. Scale shape:
    the payload crosses one id-keyed join inside curate_corpus (the minimum
    to emit a corpus), everything after is 16/32-byte keys."""
    docs = _docs(spark, sf_dir)
    curated, _ = D.curate_corpus(docs, _keeper_df(spark, sf_dir))
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    surv = curated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.md5(
            F.concat_ws("", F.array_sort(F.collect_list(F.md5("text"))))
        ).alias("survivors_digest"),
    )
    return (
        per_src.join(surv, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_survivors", F.lit(0)).cast("bigint").alias("n_survivors"),
            (F.col("n_docs") - F.coalesce("n_survivors", F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
            F.coalesce("survivors_digest", F.md5(F.lit(""))).alias(
                "survivors_digest"
            ),
        )
        .orderBy("source")
    )


ORACLE_CURATED_CORPUS = _ORACLE_KEEPER_CTES + r""",
surv AS (
  SELECT d.source, count(*) AS n_survivors,
         md5(string_agg(md5(d.text), '' ORDER BY md5(d.text))) AS survivors_digest
  FROM kk JOIN documents d ON d.doc_id = kk.doc_id
  WHERE kk.doc_id = kk.keeper_id
  GROUP BY d.source
),
tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT tot.source,
       CAST(tot.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(surv.n_survivors, 0) AS BIGINT) AS n_survivors,
       CAST(tot.n_docs - coalesce(surv.n_survivors, 0) AS BIGINT) AS n_dropped,
       coalesce(surv.survivors_digest, md5('')) AS survivors_digest
FROM tot LEFT JOIN surv USING (source)
ORDER BY tot.source
"""


def q_dropped_docs(spark, sf_dir):
    """The CDC-style audit side of the curated corpus: every dropped doc
    with its cluster, the keeper that displaced it, and WHY — exact_dup
    (text byte-identical to the keeper, by md5) vs near_dup (caught only by
    the minhash/simhash/embedding evidence). The reason join moves md5
    keys, never text (D.curate_corpus)."""
    docs = _docs(spark, sf_dir)
    _, dropped = D.curate_corpus(docs, _keeper_df(spark, sf_dir))
    return dropped.orderBy("doc_id")


ORACLE_DROPPED_DOCS = _ORACLE_KEEPER_CTES + r""",
hh AS (SELECT doc_id, md5(text) AS h FROM documents)
SELECT kk.doc_id, kk.cluster_id, kk.keeper_id,
       CASE WHEN a.h = b.h THEN 'exact_dup' ELSE 'near_dup' END AS reason
FROM kk
JOIN hh a ON a.doc_id = kk.doc_id
JOIN hh b ON b.doc_id = kk.keeper_id
WHERE kk.doc_id <> kk.keeper_id
ORDER BY kk.doc_id
"""


def q_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLE_SIMHASH = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok
),
bits AS (
  SELECT doc_id, b, SUM(((hv >> b) & 1) * 2 - 1) AS s
  FROM (SELECT doc_id, hv, unnest(generate_series(0, 59)) AS b FROM h)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id
"""


def q_simhash_near_dup(spark, sf_dir):
    # max_hamming=3 = chunks-1: inside the pigeonhole guarantee, so the
    # result is EXHAUSTIVE (round 1 ran at 14 where candidate recall is ~9%
    # — measured in tests/test_textops.py — and only gate-matched because
    # the oracle mirrored the same candidate set)
    return D.simhash_near_dups(_docs(spark, sf_dir), max_hamming=3).orderBy("id_a", "id_b")


ORACLE_SIMHASH_NEAR_DUP = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents
),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok),
bits AS (
  SELECT doc_id, b, SUM(((hv >> b) & 1) * 2 - 1) AS s
  FROM (SELECT doc_id, hv, unnest(generate_series(0, 59)) AS b FROM h)
  GROUP BY doc_id, b
),
sh AS (
  SELECT doc_id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
),
chunked AS (
  SELECT doc_id, simhash, c, (simhash >> (c * 15)) & 32767 AS cv
  FROM (SELECT doc_id, simhash, unnest(generate_series(0, 3)) AS c FROM sh)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM chunked a JOIN chunked b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
ORDER BY id_a, id_b
"""


def q_ngram_jaccard(spark, sf_dir):
    # max_df_frac=0.1: the hot-gram df-cut (skew guard for the gram join);
    # the oracle applies the identical cut
    return D.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, tau=0.25, max_df_frac=0.1
    ).orderBy("id_a", "id_b")


ORACLE_NGRAM_JACCARD = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
),
g AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i FROM toks)
),
c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
hot AS (
  SELECT gram FROM g GROUP BY gram
  HAVING count(*) > CAST(ceil(0.1 * (SELECT count(*) FROM documents)) AS INT)
),
jg AS (SELECT * FROM g WHERE gram NOT IN (SELECT gram FROM hot)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM jg a JOIN jg b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter,
       round(inter * 1.0 / (ca.n + cb.n - inter), 4) AS jaccard
FROM inter JOIN c ca ON ca.doc_id = id_a JOIN c cb ON cb.doc_id = id_b
WHERE round(inter * 1.0 / (ca.n + cb.n - inter), 4) >= 0.25
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_cosine_topk(spark, sf_dir):
    return S.cosine_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)


ORACLE_COSINE_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos
FROM e, q WHERE vec_id <> 0
ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def q_cosine_topk_multi(spark, sf_dir):
    """Batch retrieval: top-3 by cosine for a 5-query batch in one corpus
    pass (textops.similarity.cosine_topk_multi — broadcast query set +
    WindowGroupLimit per-query rank)."""
    return S.cosine_topk_multi(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=3)


ORACLE_COSINE_TOPK_MULTI = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2, 3, 4)),
s AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(v, qv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
  ) AS knn_rank FROM s
)
SELECT query_id, vec_id, knn_rank, cos FROM r WHERE knn_rank <= 3
ORDER BY query_id, knn_rank
"""


def q_embedding_near_dup(spark, sf_dir):
    # 10 sign bits + tau=0.25: non-vacuous on the driver's near-orthogonal
    # synthetic embeddings (16 bits / tau=0.3 bucketed every vector alone →
    # the round-1 gate passed on 0 rows and verified nothing).
    return S.embedding_near_dup_pairs(
        _emb(spark, sf_dir), tau=0.25, n_bits=10
    ).orderBy("id_a", "id_b")


ORACLE_EMBEDDING_NEAR_DUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v,
    (SELECT SUM(CASE WHEN v[2*j+1] > v[2*j+2] THEN (1::BIGINT << j) ELSE 0 END)
     FROM unnest(generate_series(0, 9)) AS t(j)) AS bucket
  FROM e
)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       round(list_dot_product(a.v, b2.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 4) AS cos
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE round(list_dot_product(a.v, b2.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))), 4) >= 0.25
ORDER BY id_a, id_b
"""


def q_curation_pipeline(spark, sf_dir):
    """Composed training-data curation: exact-dedup (min-id keeper) →
    quality floor → language allowlist → the surviving corpus with its
    quality score. The end-to-end shape of a pretraining data filter;
    each stage is narrow or a single hash-shuffle."""
    docs = T.with_quality(T.with_lang_guess(_docs(spark, sf_dir)))
    deduped = D.exact_dedupe(docs)
    return (
        deduped.filter(F.col("quality") >= 0.5)
        .filter(F.col("lang_guess").isin("en", "de"))
        .select("doc_id", "lang", "lang_guess", "n_tokens", "quality")
        .orderBy("doc_id")
    )


ORACLE_CURATION_PIPELINE = rf"""
WITH t AS (
  SELECT doc_id, lang, trim(text) AS tt,
         regexp_split_to_array(trim(text), '\s+') AS toks, text
  FROM documents
), m AS (
  SELECT doc_id, lang, text, length(tt) AS tlen, len(toks) AS n,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS hits_en,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['de']}, x))) AS hits_de,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['es']}, x))) AS hits_es,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['fr']}, x))) AS hits_fr
  FROM t
), scored AS (
  SELECT doc_id, lang, text, n AS n_tokens,
    CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
         WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
         WHEN hits_es >= hits_fr THEN 'es' ELSE 'fr' END AS lang_guess,
    round(least(n / 64.0, 1.0) * {T.QUALITY_W_LENGTH}
          + (1.0 - least(hits_en * 1.0 / n, 1.0)) * {T.QUALITY_W_NONSTOP}
          + least(((tlen - (n - 1)) * 1.0 / n) / 8.0, 1.0) * {T.QUALITY_W_WORDLEN}, 4) AS quality
  FROM m
), deduped AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk FROM scored
)
SELECT doc_id, lang, lang_guess, n_tokens, quality
FROM deduped
WHERE rk = 1 AND quality >= 0.5 AND lang_guess IN ('en', 'de')
ORDER BY doc_id
"""


def q_ann_topk(spark, sf_dir):
    """Approximate NN via md5-derived Rademacher hyperplane buckets with
    Hamming multi-probe — deterministic and SQL-expressible, so the gate
    value-hashes it (the seeded-Gaussian numpy variant S.ann_topk stays as
    the production alternative, recall property-tested in
    tests/test_textops.py)."""
    return S.ann_topk_md5(
        _emb(spark, sf_dir), query_vec_id=0, k=10, dim=64,
        n_planes=8, probe_hamming=4,
    )


ORACLE_ANN_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pl AS (
  SELECT p,
         list(CASE WHEN ('0x' || substr(md5(d::VARCHAR || '_' || p::VARCHAR), 1, 15))::BIGINT % 2 = 1
                   THEN 1.0 ELSE -1.0 END ORDER BY d) AS w
  FROM (SELECT unnest(generate_series(0, 63)) AS d) td
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS p) tp
  GROUP BY p
),
b AS (
  SELECT vec_id,
         SUM(CASE WHEN round(list_dot_product(v, w), 4) > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
  FROM e CROSS JOIN pl
  GROUP BY vec_id
),
qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
qv AS (SELECT v AS qvec FROM e WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, e.v
  FROM b JOIN e USING (vec_id) CROSS JOIN qb
  WHERE bit_count(xor(b.bucket, qb.qbucket)) <= 4 AND e.vec_id <> 0
)
SELECT vec_id,
       round(list_dot_product(v, qvec)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 4) AS cos
FROM cand CROSS JOIN qv
ORDER BY cos DESC, vec_id ASC
LIMIT 10
"""


def q_decontaminate(spark, sf_dir):
    """Training-data decontamination: flag corpus documents sharing any
    4-token n-gram with the evaluation set (here the deterministic stand-in
    eval set = doc_id % 101 == 0). THE canonical pre-training scrub — exact
    n-gram overlap against held-out benchmarks.

    Scale shape: the eval suite is tiny relative to the corpus, so its
    distinct gram set BROADCASTS and the corpus grams stream through the
    hash probe — nothing shuffles until the (tiny) post-match per-doc count.
    A per-row array_intersect against a broadcast eval array was measured 3×
    slower (it rebuilds the eval hash set per document); the broadcast hash
    join probes one shared table per partition. Output: contaminated doc_id
    + how many distinct eval grams it shares.

    Round-3 tune: the eval gram set is built from its OWN filtered rescan
    (doc_id % 101 == 0 pushes into the scan; 1/101 of the corpus) instead of
    a second evaluation of the shared gram subtree — the expensive
    interpreted gram build over the full corpus now runs exactly once,
    streamed straight into the broadcast-probe with nothing materialized
    (the right shape at 100 TB, where checkpointing all corpus grams would
    cost more than the tiny rescan). The corpus side is pre-repartitioned on
    doc_id so the gram build parallelizes and the post-probe groupBy reuses
    the partitioning."""
    from pegasus_spark.textops.text import word_grams

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir)
    eval_g = (
        docs.filter(F.col("doc_id") % 101 == 0)
        .select(F.explode(F.array_distinct(word_grams("text", n=4))).alias("g"))
        .distinct()
    )
    g = (
        docs.filter(F.col("doc_id") % 101 != 0)
        .repartition(par, "doc_id")
        .select(
            "doc_id", F.explode(F.array_distinct(word_grams("text", n=4))).alias("g")
        )
    )
    return (
        g.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .orderBy("doc_id")
    )


ORACLE_DECONTAMINATE = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
g AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+3], ' ') AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk) - 3, 1))) AS i FROM toks)
),
eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id % 101 = 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM g
WHERE doc_id % 101 <> 0 AND gram IN (SELECT gram FROM eval_g)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_fuzzy_decontaminate(spark, sf_dir):
    """Fuzzy benchmark decontamination (the near-dup complement of
    `decontaminate`, per GPT-3 appx C's 13-gram fuzzy dedup and the Llama
    eval-overlap scrubs): corpus docs whose MINHASH signature LSH-collides
    with an eval doc's and agrees on ≥ 4 of 8 positions. The eval stand-in
    is the same deterministic doc_id % 101 == 0 slice `decontaminate` uses,
    so the two operators triage the SAME leak surface at different
    sensitivities (exact n-gram vs Jaccard-level similarity).

    Scale: eval signatures and bands broadcast (an eval suite is KBs against
    a 100 TB corpus); the corpus computes signatures once — one md5-explode
    plus a per-doc partial-aggregated MIN row, text never shuffles — and
    probes the broadcast. No corpus self-join anywhere, unlike
    minhash_near_dup whose band join is corpus×corpus."""
    docs = _docs(spark, sf_dir)
    flagged = D.minhash_decontaminate(
        docs.filter(F.col("doc_id") % 101 != 0),
        docs.filter(F.col("doc_id") % 101 == 0),
    )
    return flagged.orderBy("doc_id")


ORACLE_FUZZY_DECONTAMINATE = r"""
WITH t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
cand AS (
  SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id
  FROM bands c JOIN bands e ON c.band = e.band AND c.bh = e.bh
  WHERE c.doc_id % 101 <> 0 AND e.doc_id % 101 = 0
),
ver AS (
  SELECT cand.doc_id, cand.eval_id,
    (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) AS sig_matches
  FROM cand JOIN sig sa ON sa.doc_id = cand.doc_id JOIN sig sb ON sb.doc_id = cand.eval_id
)
SELECT doc_id, CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_matches,
       CAST(max(sig_matches) AS BIGINT) AS max_sig_matches
FROM ver WHERE sig_matches >= 4
GROUP BY doc_id ORDER BY doc_id
"""


def q_index_dedup(spark, sf_dir):
    """Incremental ingestion dedup (D.minhash_index_dedup): the doc_id % 3
    == 0 slice stands in for the committed corpus index, the rest for
    today's batch — new docs whose minhash LSH-collides with the index and
    agrees on ≥ 4 of 8 positions flag as already-ingested near-dups. The
    band match is a SHUFFLE join (the index is corpus-scale; broadcast is
    the eval-suite case, fuzzy_decontaminate), both sides minhashed once,
    their signatures riding the band join."""
    docs = _docs(spark, sf_dir)
    return D.minhash_index_dedup(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
    ).orderBy("doc_id")


ORACLE_INDEX_DEDUP = r"""
WITH t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
cand AS (
  SELECT DISTINCT b.doc_id AS doc_id, ix.doc_id AS index_id
  FROM bands b JOIN bands ix ON b.band = ix.band AND b.bh = ix.bh
  WHERE b.doc_id % 3 <> 0 AND ix.doc_id % 3 = 0
),
ver AS (
  SELECT cand.doc_id, cand.index_id,
    (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) AS sig_matches
  FROM cand JOIN sig sa ON sa.doc_id = cand.doc_id JOIN sig sb ON sb.doc_id = cand.index_id
)
SELECT doc_id, CAST(count(DISTINCT index_id) AS BIGINT) AS n_index_matches,
       CAST(max(sig_matches) AS BIGINT) AS max_sig_matches
FROM ver WHERE sig_matches >= 4
GROUP BY doc_id ORDER BY doc_id
"""


def q_source_overlap(spark, sf_dir):
    """Cross-source duplication overlap matrix — the "how much of source A
    re-appears in source B" table a release datacard publishes (the
    CommonCrawl-vs-C4-style overlap audits): verified minhash near-dup
    pairs (the gated minhash_near_dup output) rolled up per unordered
    source pair, with within-source pairs on the diagonal.

    Scale shape: the pair search is minhash_near_dup's (band-key equality
    join, no all-pairs); the rollup joins the pair ids to their sources —
    two id-keyed joins of pair-sized rows — and aggregates to at most
    |sources|² rows, bounded at any corpus size."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_near_dups(docs)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(src.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("source", "src_a"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("source", "src_b"), "id_b")
    )
    return (
        lab.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


ORACLE_SOURCE_OVERLAP = r"""
WITH t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
ver AS (
  SELECT p.id_a, p.id_b
  FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
  WHERE (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) >= 4
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM ver
JOIN documents da ON da.doc_id = ver.id_a
JOIN documents db ON db.doc_id = ver.id_b
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


def q_length_histogram(spark, sf_dir):
    """Per-source document-length distribution on an EXACT log2 ladder —
    the datasheet figure next to corpus_datacard's table (Gebru et al.
    datasheets; every corpus release plots it): docs and token mass per
    (source, ⌊log2(n_tokens)⌋ bucket). The bucket is computed exactly as
    length(bin(n_tokens)) − 1 — a string-length identity both engines
    share — so NO float log enters the plan and the power-of-two boundary
    rows cannot drift between engines.

    Scale shape: one narrow token-count projection + ONE combinable
    groupBy on (source, bucket) — |sources|·~20 groups at any corpus
    size; text never shuffles."""
    tok = T.with_token_count(_docs(spark, sf_dir)).filter(F.col("n_tokens") >= 1)
    bucket = (F.length(F.expr("bin(n_tokens)")) - 1).cast("int")
    return (
        tok.groupBy("source", bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("source", "log2_bucket")
    )


ORACLE_LENGTH_HISTOGRAM = r"""
WITH tok AS (
  SELECT source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
)
SELECT source, CAST(length(bin(n_tokens)) - 1 AS INT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM tok WHERE n_tokens >= 1
GROUP BY 1, 2
ORDER BY source, log2_bucket
"""


def q_vocab_stats(spark, sf_dir):
    """Per-source vocabulary datasheet (text.vocab_stats): token
    occurrences, distinct vocabulary, hapax legomena, type-token ratio,
    hapax share, dominant word — the Heaps/Zipf release summary beside
    length_histogram. The (source, word) count partial-aggs (the Zipf
    head collapses map-side), everything downstream reads one row per
    distinct word; output = |sources| rows. Single-file scan respread
    (the bpe_pair_stats precedent)."""
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return T.vocab_stats(docs)


ORACLE_VOCAB_STATS = r"""
WITH raw AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w0
  FROM documents
),
toks AS (SELECT source, lower(w0) AS w FROM raw WHERE w0 <> ''),
c AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY source, w
),
per AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM c GROUP BY source
),
top AS (
  SELECT source, w AS top_word, cnt AS top_word_cnt,
         row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w ASC) AS rn
  FROM c
)
SELECT p.source, p.n_tokens, p.n_vocab, p.n_hapax,
       round(p.n_vocab * 1.0 / p.n_tokens, 4) AS ttr,
       round(p.n_hapax * 1.0 / p.n_vocab, 4) AS hapax_share,
       t.top_word, t.top_word_cnt
FROM per p JOIN top t ON t.source = p.source AND t.rn = 1
ORDER BY p.source
"""


def q_ngram_topk(spark, sf_dir):
    """Corpus-wide top-20 word trigrams (text.ngram_topk — the WIMBD
    headline table, Elazar et al. 2024): count, document frequency, and
    occurrence share per gram. Grams ride the shared word_grams
    construction (clamp=False), lowercased; the (gram, doc) partial agg
    collapses within-doc repeats map-side, the big exchange is
    vocabulary-sized, and the top-20 is a TakeOrderedAndProject, not a
    global sort. Single-file scan respread (the bpe_pair_stats
    precedent)."""
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return T.ngram_topk(docs, n=3, topk=20)


ORACLE_NGRAM_TOPK = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
),
g AS (
  SELECT doc_id, lower(array_to_string(tk[i:i+2], ' ')) AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        FROM toks WHERE len(tk) >= 3)
),
pd AS (
  SELECT gram, doc_id, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY gram, doc_id
),
c AS (
  SELECT gram, CAST(SUM(c) AS BIGINT) AS cnt, CAST(count(*) AS BIGINT) AS doc_freq
  FROM pd GROUP BY gram
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM c),
top AS (SELECT * FROM c ORDER BY cnt DESC, gram ASC LIMIT 20)
SELECT gram, cnt, doc_freq, round(cnt * 1.0 / t, 6) AS share
FROM top, tot
ORDER BY cnt DESC, gram ASC
"""


def q_pmi_bigrams(spark, sf_dir):
    """Top-20 bigram collocations by PMI (text.pmi_bigrams — Church &
    Hanks 1990): exact BIGINT lift on the 10⁶ grid, min bigram count 3.
    Both count aggregates collapse map-side; the joins key on the
    frequent-bigram word set. Single-file scan respread (the
    bpe_pair_stats precedent)."""
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return T.pmi_bigrams(docs, min_count=3, topk=20)


ORACLE_PMI_BIGRAMS = r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
),
w AS (SELECT lower(t.w) AS w FROM toks, unnest(tk) AS t(w) WHERE t.w != ''),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM w GROUP BY w),
tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM uni),
g AS (
  SELECT lower(array_to_string(tk[i:i+1], ' ')) AS g
  FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
        FROM toks WHERE len(tk) >= 2)
),
bi AS (
  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
         CAST(count(*) AS BIGINT) AS c_xy
  FROM g GROUP BY g HAVING count(*) >= 3
)
SELECT w1, w2, c_xy, u1.c_w AS c_x, u2.c_w AS c_y,
       (c_xy * t.n * 1000000) // (u1.c_w * u2.c_w) AS lift_micro
FROM bi
JOIN uni u1 ON u1.w = bi.w1
JOIN uni u2 ON u2.w = bi.w2, tot t
ORDER BY lift_micro DESC, w1 ASC, w2 ASC
LIMIT 20
"""


def q_vocab_coverage(spark, sf_dir):
    """Per-source OOV rate vs the corpus top-V vocabulary
    (text.vocab_coverage). Gate uses vocab_size=8 — the synthetic corpus
    has ~31 distinct words, so a production-sized vocab (default 1000)
    would make OOV identically zero and gate nothing; with V=8 both the
    occurrence and type OOV channels fire. One (source, word) partial
    agg feeds both the vocab build and the rollup."""
    return T.vocab_coverage(_docs(spark, sf_dir), vocab_size=8)


ORACLE_VOCAB_COVERAGE = r"""
WITH toks AS (
  SELECT source, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
),
w AS (
  SELECT source, lower(t.w) AS w FROM toks, unnest(tk) AS t(w) WHERE t.w != ''
),
gw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY source, w
),
vocab AS (
  SELECT w FROM (
    SELECT w, SUM(cnt) AS c FROM gw GROUP BY w
    ORDER BY c DESC, w ASC LIMIT 8
  )
)
SELECT gw.source,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_types,
       round(SUM(CASE WHEN v.w IS NULL THEN cnt ELSE 0 END) * 1.0 / SUM(cnt), 6)
         AS oov_rate
FROM gw LEFT JOIN vocab v ON gw.w = v.w
GROUP BY gw.source
ORDER BY gw.source
"""


def q_pareto_docs(spark, sf_dir):
    """Quality/length Pareto frontier (text.pareto_frontier): the docs no
    other doc weakly dominates on (quality, n_tokens) — the skyline a
    curator reads as "the best doc at every length". Sweep over DISTINCT
    points via the ranged running max (no O(n²) dominance join, no
    single-partition window), winners joined back by (quality, n_tokens)
    as a broadcast semi join."""
    d = T.with_quality(_docs(spark, sf_dir)).select(
        "doc_id", "quality", "n_tokens"
    )
    return T.pareto_frontier(d, x_col="quality", y_col="n_tokens")


ORACLE_PARETO_DOCS = rf"""
WITH t AS (
  SELECT doc_id, trim(text) AS tt,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, length(tt) AS tlen, len(toks) AS n,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS n_stop
  FROM t
), q AS (
  SELECT doc_id, CAST(n AS INT) AS n_tokens,
       round(least(n / 64.0, 1.0) * {T.QUALITY_W_LENGTH}
             + (1.0 - least(n_stop * 1.0 / n, 1.0)) * {T.QUALITY_W_NONSTOP}
             + least(((tlen - (n - 1)) * 1.0 / n) / 8.0, 1.0) * {T.QUALITY_W_WORDLEN}, 4) AS quality
  FROM m
),
pts AS (SELECT DISTINCT quality, n_tokens FROM q),
sw AS (
  SELECT quality, n_tokens,
         max(n_tokens) OVER (ORDER BY quality DESC, n_tokens DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
  FROM pts
),
fr AS (SELECT quality, n_tokens FROM sw WHERE mx IS NULL OR mx < n_tokens)
SELECT q.doc_id, q.quality, q.n_tokens
FROM q JOIN fr ON q.quality = fr.quality AND q.n_tokens = fr.n_tokens
ORDER BY q.quality DESC, q.n_tokens DESC, q.doc_id ASC
"""


def q_dup_audit_sample(spark, sf_dir):
    """Deterministic human-QA queue for the near-dup pass: the 20
    strongest verified minhash pairs (sig_matches desc, then (id_a, id_b)
    asc — a fully tie-broken LIMIT per the repo rule), each carrying both
    docs' content md5s so an auditor can pull the texts by hash without
    the query ever moving them. Every large dedup deployment samples pairs
    for manual threshold QA before a destructive pass; this is that
    sample, reproducible across reruns and engines.

    Scale shape: minhash_near_dup's pair plan, two id-keyed joins of
    pair-sized rows for the md5s, then TakeOrderedAndProject — the global
    top-20 never materializes more than 20 rows per partition."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_near_dups(docs)
    h = docs.select("doc_id", F.md5("text").alias("_h"))
    return (
        pairs.join(h.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("_h", "md5_a"), "id_a")
        .join(h.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("_h", "md5_b"), "id_b")
        .select("id_a", "id_b", "sig_matches", "md5_a", "md5_b")
        .orderBy(F.desc("sig_matches"), "id_a", "id_b")
        .limit(20)
    )


ORACLE_DUP_AUDIT_SAMPLE = r"""
WITH t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
ver AS (
  SELECT p.id_a, p.id_b,
    (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) AS sig_matches
  FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
  WHERE (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) >= 4
)
SELECT v.id_a, v.id_b, v.sig_matches,
       md5(da.text) AS md5_a, md5(db.text) AS md5_b
FROM ver v
JOIN documents da ON da.doc_id = v.id_a
JOIN documents db ON db.doc_id = v.id_b
ORDER BY v.sig_matches DESC, v.id_a, v.id_b
LIMIT 20
"""


def q_contamination_report(spark, sf_dir):
    """Per-source contamination datacard: how many of each source's docs the
    EXACT 4-gram eval-overlap scrub flags, how many the FUZZY minhash probe
    flags, and the rates — the triage table that decides whether a source
    needs doc-level scrubbing or wholesale exclusion before training (the
    rollup the per-doc `decontaminate` / `fuzzy_decontaminate` outputs feed
    in a real release audit).

    Scale shape: both flag sets are contamination-sized (probe hits only),
    so they BROADCAST into left joins against the (doc_id, source) pairs;
    the only unbounded exchange is the per-source partial aggregate
    (|sources| rows). The expensive subtrees are exactly the two gated
    operators' — this query adds two tiny joins and one bounded agg on
    top."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 101 != 0).select("doc_id", "source")
    exact = q_decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("_ex")
    )
    fuzzy = q_fuzzy_decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("_fz")
    )
    return (
        corpus.join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(fuzzy), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("_ex"), F.lit(0))).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("_fz"), F.lit(0))).cast("bigint").alias("n_fuzzy"),
        )
        .withColumn("exact_rate", F.round(F.col("n_exact") / F.col("n_docs"), 4))
        .withColumn("fuzzy_rate", F.round(F.col("n_fuzzy") / F.col("n_docs"), 4))
        .orderBy("source")
    )


ORACLE_CONTAMINATION_REPORT = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
g AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+3], ' ') AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk) - 3, 1))) AS i FROM toks)
),
eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id % 101 = 0),
exact_hit AS (
  SELECT DISTINCT doc_id FROM g
  WHERE doc_id % 101 <> 0 AND gram IN (SELECT gram FROM eval_g)
),
t AS (SELECT doc_id, trim(text) AS tt FROM documents),
pos AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 4, 1))) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 5) AS s FROM pos),
hx AS (
  SELECT doc_id, h, min(substr(md5(s), 1 + 3 * h, 8)) AS v
  FROM (SELECT doc_id, s, unnest(generate_series(0, 7)) AS h FROM sh)
  GROUP BY doc_id, h
),
sig AS (
  SELECT doc_id,
    max(CASE WHEN h=0 THEN v END) AS m0, max(CASE WHEN h=1 THEN v END) AS m1,
    max(CASE WHEN h=2 THEN v END) AS m2, max(CASE WHEN h=3 THEN v END) AS m3,
    max(CASE WHEN h=4 THEN v END) AS m4, max(CASE WHEN h=5 THEN v END) AS m5,
    max(CASE WHEN h=6 THEN v END) AS m6, max(CASE WHEN h=7 THEN v END) AS m7
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM sig UNION ALL
  SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig UNION ALL
  SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig UNION ALL
  SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig
),
cand AS (
  SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id
  FROM bands c JOIN bands e ON c.band = e.band AND c.bh = e.bh
  WHERE c.doc_id % 101 <> 0 AND e.doc_id % 101 = 0
),
fuzzy_hit AS (
  SELECT DISTINCT cand.doc_id
  FROM cand JOIN sig sa ON sa.doc_id = cand.doc_id JOIN sig sb ON sb.doc_id = cand.eval_id
  WHERE (CAST(sa.m0 = sb.m0 AS INT) + CAST(sa.m1 = sb.m1 AS INT) + CAST(sa.m2 = sb.m2 AS INT)
     + CAST(sa.m3 = sb.m3 AS INT) + CAST(sa.m4 = sb.m4 AS INT) + CAST(sa.m5 = sb.m5 AS INT)
     + CAST(sa.m6 = sb.m6 AS INT) + CAST(sa.m7 = sb.m7 AS INT)) >= 4
)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
       round(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS exact_rate,
       round(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS fuzzy_rate
FROM documents d
LEFT JOIN exact_hit e ON e.doc_id = d.doc_id
LEFT JOIN fuzzy_hit f ON f.doc_id = d.doc_id
WHERE d.doc_id % 101 <> 0
GROUP BY d.source
ORDER BY d.source
"""


def q_doc_repetition(spark, sf_dir):
    """Intra-document repetition ratio (the Gopher/C4-style quality rule:
    heavily self-repeating docs are boilerplate): fraction of a doc's token
    3-grams that are duplicates of an earlier gram in the SAME doc.

    Shape: ONE gram construction (explode) feeding a codegen'd
    count/count-distinct aggregate keyed by doc_id — measured ~35% faster
    than the narrow array_distinct form, which evaluates the interpreted
    higher-order gram builder twice per row (once for size, once for the
    distinct). Round-3 tunes: (a) the CPU-bound gram build is pre-
    repartitioned on doc_id (the simhash/ngram rule — a single-file
    documents scan is ONE task, and the interpreted F.transform gram
    builder serializes there; the groupBy then reuses that partitioning, so
    the repartition is the only exchange in the plan); (b) the distinct
    counts unhex(md5(gram)) 16-byte binaries, not gram strings — the
    round-4 switch from xxhash64 that puts this query back under the
    md5-only parity rule (a 128-bit within-doc collision vs the raw-string
    oracle is ~2^-128-scale, the same accepted risk as every other md5 key
    in the repo) while still shrinking the hash-agg rows vs raw grams."""
    from pegasus_spark.textops.text import tokens_col, word_grams

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir)
    g = (
        docs.filter(F.size(tokens_col("text")) >= 3)
        .repartition(par, "doc_id")
        .select("doc_id", F.explode(word_grams("text", n=3, clamp=False)).alias("g"))
    )
    return (
        g.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.countDistinct(F.unhex(F.md5("g"))).cast("bigint").alias("n_distinct"),
        )
        .withColumn(
            "rep_ratio",
            F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_grams"), 4),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_REPETITION = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
g AS (
  SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
       round(1.0 - count(DISTINCT gram) * 1.0 / count(*), 4) AS rep_ratio
FROM g GROUP BY doc_id ORDER BY doc_id
"""


def q_kmeans_clusters(spark, sf_dir):
    """Spherical k-means (k=8, one Lloyd iteration + final assignment) over
    the embeddings table — iterative clustering with EXACT oracle parity:
    integer-quantized vectors make centroid updates exact bigint sums (the
    un-normalized sum is the spherical centroid, so no float division), and
    assignment uses the 4dp integer argmax encoding."""
    return S.spherical_kmeans(_emb(spark, sf_dir), k=8, iters=1)


# shared CTE chain: quantize → seed → assign → centroid update → final
# score table s1 (and its centroid set c1) — ORACLE_KMEANS_CLUSTERS takes
# the argmax, ORACLE_CLUSTER_SILHOUETTE keeps scoring against c1
_KMEANS_CORE_SQL = """
WITH e AS (
  SELECT vec_id, q FROM (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
    FROM embeddings
  ) WHERE list_dot_product(q::DOUBLE[], q::DOUBLE[]) > 0
),
c0 AS (SELECT vec_id AS cid, q AS cvec FROM e WHERE vec_id < 8),
s0 AS (
  SELECT e.vec_id, c.cid,
         CAST(round(list_dot_product(q::DOUBLE[], cvec::DOUBLE[])
                    / (sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[]))
                       * sqrt(list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[])))
                    * 10000, 0) AS BIGINT) * 1000000 - c.cid AS val
  FROM e, c0 c
),
a0 AS (SELECT vec_id, arg_max(cid, val) AS cell FROM s0 GROUP BY vec_id),
m AS (
  SELECT a0.cell, generate_subscripts(q, 1) AS pos, unnest(q) AS x
  FROM a0 JOIN e USING (vec_id)
),
msum AS (SELECT cell, pos, SUM(x) AS s FROM m GROUP BY cell, pos),
c1 AS (SELECT cell AS cid, list(s ORDER BY pos) AS cvec FROM msum GROUP BY cell),
s1 AS (
  SELECT e.vec_id, c.cid,
         CAST(round(list_dot_product(q::DOUBLE[], cvec::DOUBLE[])
                    / (sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[]))
                       * sqrt(list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[])))
                    * 10000, 0) AS BIGINT) * 1000000 - c.cid AS val
  FROM e, c1 c
)"""

ORACLE_KMEANS_CLUSTERS = (
    _KMEANS_CORE_SQL
    + """
SELECT vec_id, arg_max(cid, val) AS cell FROM s1 GROUP BY vec_id ORDER BY vec_id
"""
)


def q_cluster_silhouette(spark, sf_dir):
    """Simplified-silhouette audit of the k=8 spherical k-means clustering
    (similarity.kmeans_silhouette — Rousseeuw 1987 in the centroid-distance
    simplification): per cluster, member count, mean cosine to the own
    centroid, mean cosine to the best other centroid, and the mean
    silhouette (b−a)/max(a,b) on an exact round(cos·10⁶) BIGINT grid —
    the table that says whether the cells SemDeDup and IVF rely on are
    real topic buckets. One extra assignment-shaped n×k broadcast pass;
    every exchange past it is k rows."""
    return S.kmeans_silhouette(_emb(spark, sf_dir), k=8, iters=1)


ORACLE_CLUSTER_SILHOUETTE = (
    _KMEANS_CORE_SQL
    + """,
a1 AS (SELECT vec_id, arg_max(cid, val) AS cell FROM s1 GROUP BY vec_id),
cm AS (
  SELECT e.vec_id, c.cid,
         CAST(round(list_dot_product(q::DOUBLE[], cvec::DOUBLE[])
                    / (sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[]))
                       * sqrt(list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[])))
                    * 1000000, 0) AS BIGINT) AS cm
  FROM e, c1 c
),
per AS (
  SELECT a1.vec_id, a1.cell,
         max(CASE WHEN cm.cid = a1.cell THEN cm.cm END) AS own,
         max(CASE WHEN cm.cid <> a1.cell THEN cm.cm END) AS oth
  FROM a1 JOIN cm ON cm.vec_id = a1.vec_id
  GROUP BY a1.vec_id, a1.cell
),
sil AS (
  SELECT cell, own, oth,
         CASE WHEN greatest(1000000 - own, 1000000 - oth) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor((own - oth) * 1000000
                              / greatest(1000000 - own, 1000000 - oth)) AS BIGINT)
         END AS s
  FROM per
)
SELECT cell, CAST(count(*) AS BIGINT) AS n,
       round(SUM(own) / (count(*) * 1000000.0), 4) AS mean_cos_own,
       round(SUM(oth) / (count(*) * 1000000.0), 4) AS mean_cos_other,
       round(SUM(s) / (count(*) * 1000000.0), 4) AS mean_silhouette
FROM sil GROUP BY cell ORDER BY cell
"""
)


MIX_RATES = {"src0": 100, "src1": 50, "src2": 25}  # percent; others 10
MIX_DEFAULT = 10


def q_source_mix(spark, sf_dir):
    """Training-mixture weighting: sample each source at its configured
    rate (the data-mixing step of a pre-training pipeline — upsample rare
    high-quality sources, downsample bulk ones). Sampling is DETERMINISTIC:
    a document's bucket is md5(doc_id) reduced mod 100, so reruns, both
    engines, and any partitioning keep exactly the same rows — no RNG in
    the plan (rand() cannot cross the oracle gate and is not reproducible
    across retries at scale anyway). Fully narrow: filter fused into the
    scan, no shuffle before the presentation sort."""
    docs = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    rate = F.lit(MIX_DEFAULT)
    for src, pct in MIX_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(pct)).otherwise(rate)
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


ORACLE_SOURCE_MIX = """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 <
      CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50 WHEN 'src2' THEN 25
                  ELSE 10 END
ORDER BY doc_id
"""


def q_ivf_topk(spark, sf_dir):
    """IVF ANN: coarse-quantize to 16 cells, probe the 4 nearest, exact
    cosine only within probed cells. Unlike ann_topk this variant is fully
    SQL-expressible, so the oracle runs the same algorithm end to end."""
    return S.ivf_topk(_emb(spark, sf_dir), query_vec_id=0, k=10, n_cells=16, nprobe=4)


def _ivf_topk_sql(nprobe: int) -> str:
    """The IVF oracle body, parameterized on nprobe so ann_recall can reuse
    the SAME algorithm at a tighter operating point."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
scored AS (
  SELECT e.vec_id,
         c.cid,
         CAST(round(list_dot_product(v, cv)
                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv)))
                    * 10000, 0) AS BIGINT) * 1000000 - c.cid AS val
  FROM e, c
),
assign AS (SELECT vec_id, arg_max(cid, val) AS cell FROM scored GROUP BY vec_id),
probe AS (SELECT cid AS cell FROM scored WHERE vec_id = 0 ORDER BY val DESC LIMIT {nprobe}),
cand AS (SELECT vec_id FROM assign WHERE cell IN (SELECT cell FROM probe)),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos
FROM e JOIN cand USING (vec_id), q
WHERE e.vec_id <> 0
ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


ORACLE_IVF_TOPK = _ivf_topk_sql(4)


def q_gopher_rules(spark, sf_dir):
    """Gopher-style quality-rule filter (textops.text.with_gopher_rules):
    per-rule boolean columns + the keep conjunction, so a pipeline audit can
    see exactly which rule dropped a doc. Zero shuffle — pure per-row
    projections fused into the parquet scan; at 100 TB this is a mapper."""
    return (
        T.with_gopher_rules(_docs(spark, sf_dir))
        .select(
            "doc_id", "n_tokens", "mean_word_len", "uniq_ratio",
            "r_len", "r_mean_wlen", "r_stop", "r_uniq", "keep",
        )
        .orderBy("doc_id")
    )


ORACLE_GOPHER_RULES = rf"""
WITH t AS (
  SELECT doc_id, trim(text) AS tt,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, len(toks) AS n, length(tt) AS tlen,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS n_stop,
         len(list_distinct(toks)) AS n_uniq
  FROM t
), r AS (
  SELECT doc_id, n AS n_tokens, n_stop,
         round((tlen - (n - 1)) * 1.0 / n, 4) AS mean_word_len,
         round(n_uniq * 1.0 / n, 4) AS uniq_ratio
  FROM m
)
SELECT doc_id, n_tokens, mean_word_len, uniq_ratio,
       (n_tokens >= 32 AND n_tokens <= 4096) AS r_len,
       (mean_word_len >= 4.0 AND mean_word_len <= 10.0) AS r_mean_wlen,
       (n_stop >= 2) AS r_stop,
       (uniq_ratio >= 0.35) AS r_uniq,
       (n_tokens >= 32 AND n_tokens <= 4096
        AND mean_word_len >= 4.0 AND mean_word_len <= 10.0
        AND n_stop >= 2 AND uniq_ratio >= 0.35) AS keep
FROM r ORDER BY doc_id
"""


BM25_QUERY = ["hash", "window", "merge", "scan"]


def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 retrieval (text.bm25_topk — Robertson & Zaragoza 2009,
    the Lucene scoring) for a fixed 4-keyword query over the documents
    table: the lexical-search QA pass beside the embedding retrieval
    family. idf is the non-negative Lucene variant, quantized ONCE to
    floor(ln·10⁶) BIGINT in the 1-row stats frame; per-doc scores are
    exact BIGINT sums of floored per-term contributions, so the top-10
    (score desc, doc_id) cannot drift cross-engine. The corpus never
    shuffles: tf/dl are narrow array expressions, the stats are one 1-row
    broadcast aggregate, and the top-k is a TakeOrderedAndProject."""
    return T.bm25_topk(_docs(spark, sf_dir), BM25_QUERY, k=10)


def _bm25_oracle_sql(terms: list[str]) -> str:
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(tk, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    idf_cols = ",\n         ".join(
        f"CAST(floor(ln(1.0::DOUBLE + (n - df{i} + 0.5::DOUBLE)"
        f" / (df{i} + 0.5::DOUBLE)) * 1000000) AS BIGINT) AS idf{i}"
        for i in range(len(terms))
    )
    contrib = " + ".join(
        f"CAST(floor(idf{i} * (tf{i} * 2.2::DOUBLE)"
        f" / (tf{i} + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl)))"
        f" AS BIGINT)"
        for i in range(len(terms))
    )
    hits = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(len(terms))
    )
    return rf"""
WITH base AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS tk
  FROM documents
),
feat AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
         {tf_cols}
  FROM base
),
st0 AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl,
         {df_cols}
  FROM feat
),
st AS (
  SELECT n, sdl * 1.0 / n AS avgdl,
         {idf_cols}
  FROM st0
),
scored AS (
  SELECT doc_id,
         {contrib} AS sm,
         CAST({hits} AS INT) AS n_hit_terms
  FROM feat, st
)
SELECT doc_id, round(sm * 1.0 / 1000000, 4) AS score, n_hit_terms
FROM scored WHERE n_hit_terms > 0
ORDER BY sm DESC, doc_id ASC LIMIT 10
"""


ORACLE_BM25_TOPK = _bm25_oracle_sql(BM25_QUERY)


def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-3 terms by tf-idf (idf = ln(N/df), score rounded to 6 dp
    BEFORE ranking so both engines rank identical decimals; term ASC breaks
    score ties). Scale shape: explode → (doc_id, term) partial-agg shuffle →
    term-keyed df agg + join (the df table is vocab-sized, far smaller than
    the tf table) → one window shuffle back on doc_id. The corpus count
    rides a broadcast single-row cross join, never a driver collect.

    Parity: ln is not IEEE-pinned, but round(…, 6) absorbs the ≤1-ulp
    libm/JVM spread (same discipline as the sqrt-based cosine oracles)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(T.tokens_col()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "term_rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "term_rank")
    )


ORACLE_TFIDF_TOP_TERMS = r"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term
), d AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*)::DOUBLE AS n_docs FROM documents
), s AS (
  SELECT tf.doc_id, tf.term, tf.tf, d.df,
         round(tf.tf * ln(n.n_docs / d.df), 6) AS score
  FROM tf JOIN d USING (term) CROSS JOIN n
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC
  ) AS term_rank FROM s
)
SELECT doc_id, term_rank, term, tf, df, score
FROM r WHERE term_rank <= 3 ORDER BY doc_id, term_rank
"""


def q_dup_rate_by_source(spark, sf_dir):
    """Per-source duplication report — the triage view a curation run starts
    from (which sources are polluting the corpus?): for each source, the doc
    count, how many docs share their EXACT text (md5, the exact_dedup
    discipline) with any other doc corpus-wide, how many share their
    winnowing FINGERPRINT (the doc_fingerprint min-window hash — the cheap
    candidate-duplicate signal), and the fingerprint-dup rate. Scale shape:
    two 16/32-byte-keyed partial-agg shuffles for group sizes, hash-joins
    back, then a tiny per-source agg — text never moves past the first
    projection."""
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # materialize the fingerprint ONCE (the min-md5 window transform is the
    # expensive column): three consumers read it — the per-source probe side
    # and both group-size builds (the truncate-and-reuse discipline of
    # hamming_near_dups / ngram_jaccard_pairs). Runs one job at construction.
    base = T.with_fingerprint(docs, k=8).select(
        "doc_id", "source", F.md5(F.col("text")).alias("h"), "fingerprint"
    ).localCheckpoint(eager=True)
    # group-size + join-back + per-source agg core is shared with the
    # crawl-store caption report (reports.dup_rate_report)
    from pegasus_spark.analytics.reports import dup_rate_report

    return dup_rate_report(base, "source", "h", "fingerprint")


ORACLE_DUP_RATE_BY_SOURCE = r"""
WITH t AS (SELECT doc_id, source, text, trim(text) AS tt FROM documents),
w AS (
  SELECT doc_id, tt, unnest(generate_series(1, greatest(length(tt) - 7, 1))) AS i FROM t
),
fp AS (
  SELECT doc_id, min(md5(substr(tt, i, 8))) AS fingerprint FROM w GROUP BY doc_id
),
base AS (
  SELECT t.doc_id, t.source, md5(t.text) AS h, fp.fingerprint
  FROM t JOIN fp ON fp.doc_id = t.doc_id
),
hs AS (SELECT h, count(*) AS hgrp FROM base GROUP BY h),
fs AS (SELECT fingerprint, count(*) AS fgrp FROM base GROUP BY fingerprint)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN hgrp >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
       CAST(sum(CASE WHEN fgrp >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp_dups,
       round(avg(CASE WHEN fgrp >= 2 THEN 1.0 ELSE 0.0 END), 4) AS fp_dup_rate
FROM base JOIN hs USING (h) JOIN fs USING (fingerprint)
GROUP BY source ORDER BY source
"""


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing (T.pack_shards): the plan a training run
    uses to cut a corpus into ~512-token shards, per source, in doc_id
    order — deterministic streaming first-fit via an exclusive prefix sum.
    One partition-local window per source, no global exchange (the packing
    unit IS the parallel unit at 100 TB)."""
    return T.pack_shards(_docs(spark, sf_dir), budget=512).orderBy("doc_id")


ORACLE_PACK_SHARDS = r"""
WITH t AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         coalesce(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS prior
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor(prior / 512.0) AS BIGINT) AS shard_id
FROM c ORDER BY doc_id
"""


def q_pack_manifest(spark, sf_dir):
    """Shard manifest over the pack_shards assignment (T.pack_manifest):
    per (source, shard) — docs, exact token total, id span, and the
    order-free md5-of-sorted-md5(id)s content digest two exports can
    compare without payloads. One shard-key groupBy over the planner's
    narrow rows."""
    return T.pack_manifest(T.pack_shards(_docs(spark, sf_dir), budget=512))


ORACLE_PACK_MANIFEST = r"""
WITH t AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         coalesce(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS prior
  FROM t
),
a AS (
  SELECT doc_id, source, n_tokens,
         CAST(floor(prior / 512.0) AS BIGINT) AS shard_id
  FROM c
)
SELECT source, shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_id, MAX(doc_id) AS last_id,
       md5(string_agg(md5(doc_id::VARCHAR), '|'
           ORDER BY md5(doc_id::VARCHAR))) AS digest
FROM a
GROUP BY source, shard_id
ORDER BY source, shard_id
"""


def q_pack_shards_salted(spark, sf_dir):
    """The Zipf-safe PRODUCTION form of pack_shards (round 5): every source
    subdivides into 8 md5(doc_id) salt groups and each (source, grp) unit
    packs independently — the window exchange carries the salt
    (plan-asserted in tests/test_textops.py), so one CommonCrawl-sized
    source can no longer serialize the prefix sum through a single task.
    Same first-fit rule per packing unit; a shard's global key is
    (source, grp, shard_id). Gated with its own oracle so the salted path
    is value-checked, not just plan-checked."""
    return T.pack_shards(_docs(spark, sf_dir), budget=512, salt_groups=8).orderBy(
        "doc_id"
    )


ORACLE_PACK_SHARDS_SALTED = r"""
WITH t AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 8 AS grp
  FROM documents
),
c AS (
  SELECT doc_id, source, grp, n_tokens,
         coalesce(SUM(n_tokens) OVER (
           PARTITION BY source, grp ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS prior
  FROM t
)
SELECT doc_id, source, grp, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor(prior / 512.0) AS BIGINT) AS shard_id
FROM c ORDER BY doc_id
"""


def q_sequence_pack(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing (T.sequence_pack): the
    corpus concatenated in doc_id order is cut into fixed 2048-token
    training sequences; each doc reports its global token start offset and
    the [first_seq, last_seq] span it lands in — docs CROSS sequence
    boundaries, unlike pack_shards' whole-doc bins. This entry passes the
    corpus size (a parquet count, which reads only file footers), so it
    plans the small-input form (one global running-sum window) up to the
    size switch; its twin `sequence_pack_ranged` passes no size and so gates
    the 100 TB form against the SAME oracle. All chunk math is exact
    integer division (DIV / //)."""
    docs = _docs(spark, sf_dir)
    return T.sequence_pack(docs, seq_len=2048, n_rows=docs.count()).orderBy("doc_id")


def q_sequence_pack_ranged(spark, sf_dir):
    """The 100 TB strategy of sequence_pack, value-checked against the SAME
    oracle as the window form (the size switch is a pure physical choice):
    an unsized input takes the ranged form — repartitionByRange on doc_id
    → partition-local running sums → per-partition token offsets (a
    ≤ n_partitions-row collect) — NO single-partition exchange,
    plan-asserted in tests/test_textops.py. n_partitions=5 here so the
    gate actually exercises multi-partition offset stitching at sf0.01."""
    return T.sequence_pack(
        _docs(spark, sf_dir), seq_len=2048, n_partitions=5
    ).orderBy("doc_id")


ORACLE_SEQUENCE_PACK = r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_off
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // 2048 AS BIGINT) AS first_seq,
       CAST((start_off + n_tokens - 1) // 2048 AS BIGINT) AS last_seq,
       CAST((start_off + n_tokens - 1) // 2048
            - start_off // 2048 + 1 AS INT) AS n_seqs
FROM c ORDER BY doc_id
"""


def q_mixture_resample(spark, sf_dir):
    """Prescribed-proportion source mixing (textops.text.mixture_resample):
    targets src0:src1:src2 = 5:3:2 — the feasibility bound C = min(T_s/w_s)
    makes the binding source keep everything and the others downsample by a
    deterministic md5 threshold; sources outside the target mix drop. The
    data-dependent sibling of source_mix's fixed rates."""
    return T.mixture_resample(
        _docs(spark, sf_dir), targets={"src0": 5, "src1": 3, "src2": 2}
    ).orderBy("doc_id")


ORACLE_MIXTURE_RESAMPLE = r"""
WITH tok AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
w(source, w) AS (VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE),
                        ('src2', 0.2::DOUBLE)),
tot AS (
  SELECT t.source, CAST(SUM(t.n_tokens) AS DOUBLE) AS T, MAX(w.w) AS w
  FROM tok t JOIN w ON t.source = w.source GROUP BY t.source
),
c AS (SELECT MIN(round(T / w, 9)) AS C FROM tot),
r AS (SELECT source, round(w * (SELECT C FROM c) / T, 9) AS keep_rate FROM tot)
SELECT t.doc_id, t.source, CAST(t.n_tokens AS INT) AS n_tokens, r.keep_rate
FROM tok t JOIN r ON t.source = r.source
WHERE ('0x' || substr(md5(t.doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0
      < r.keep_rate
ORDER BY t.doc_id
"""


def q_threshold_sweep(spark, sf_dir):
    """Quality-filter operating-point table
    (textops.text.quality_threshold_sweep): docs/tokens surviving each
    decile quality cut plus pool shares — the ablation table that picks a
    filter's threshold before committing a 100 TB pass."""
    return T.quality_threshold_sweep(_docs(spark, sf_dir))


ORACLE_THRESHOLD_SWEEP = rf"""
WITH t AS (
  SELECT trim(text) AS tt, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), m AS (
  SELECT length(tt) AS tlen, len(toks) AS n,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS n_stop
  FROM t
), q AS (
  SELECT n AS n_tokens,
         round(least(n / 64.0, 1.0) * {T.QUALITY_W_LENGTH}
               + (1.0 - least(n_stop * 1.0 / n, 1.0)) * {T.QUALITY_W_NONSTOP}
               + least(((tlen - (n - 1)) * 1.0 / n) / 8.0, 1.0) * {T.QUALITY_W_WORDLEN}, 4) AS quality
  FROM m
), hist AS (
  SELECT CAST(least(floor(quality * 10), 9) AS INT) AS threshold_x10,
         CAST(count(*) AS BIGINT) AS d, CAST(SUM(n_tokens) AS BIGINT) AS tk
  FROM q GROUP BY 1
)
SELECT threshold_x10,
       CAST(SUM(d) OVER (ORDER BY threshold_x10 DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_docs_kept,
       CAST(SUM(tk) OVER (ORDER BY threshold_x10 DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens_kept,
       round(SUM(d) OVER (ORDER BY threshold_x10 DESC ROWS UNBOUNDED PRECEDING) * 1.0
             / SUM(d) OVER (), 4) AS doc_share,
       round(SUM(tk) OVER (ORDER BY threshold_x10 DESC ROWS UNBOUNDED PRECEDING) * 1.0
             / SUM(tk) OVER (), 4) AS token_share
FROM hist
ORDER BY threshold_x10
"""


def q_epoch_schedule(spark, sf_dir):
    """Data-constrained epoch scheduling (textops.text.epoch_schedule,
    Muennighoff et al. 2023): a token budget of 50% of the pool aimed at
    just 3 of the 20 sources (weights 5:3:2) — src0's demand exceeds the
    4-epoch repeat cap (exercising the saturation branch: served < need,
    unfilled > 0) while src1/src2 stay under it, so the gate checks both
    arms of the cap on exact BIGINT columns."""
    return T.epoch_schedule(
        _docs(spark, sf_dir),
        targets={"src0": 5, "src1": 3, "src2": 2},
        budget_mult_pct=50,
    ).orderBy("source")


ORACLE_EPOCH_SCHEDULE = r"""
WITH tok AS (
  SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
avail AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
  FROM tok GROUP BY source
),
tot AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS t FROM avail),
w(source, w) AS (VALUES ('src0', 5), ('src1', 3), ('src2', 2)),
need AS (
  SELECT a.source, a.avail_tokens,
         CAST(tot.t * 50 // 100 * w.w // 10 AS BIGINT) AS need_tokens
  FROM avail a JOIN w ON a.source = w.source CROSS JOIN tot
)
SELECT source, avail_tokens, need_tokens,
       CAST(least(need_tokens * 1000 // avail_tokens, 4000) AS BIGINT) AS epochs_milli,
       CAST(least(need_tokens, avail_tokens * 4) AS BIGINT) AS served_tokens,
       CAST(need_tokens - least(need_tokens, avail_tokens * 4) AS BIGINT) AS unfilled_tokens
FROM need
ORDER BY source
"""


def q_cluster_split(spark, sf_dir):
    """Leakage-safe train/valid/test assignment: the split is decided by
    the md5 of the doc's CROSS-MODAL cluster id — every member of a
    near-dup cluster (caught by minhash, simhash, OR embedding evidence)
    lands in the same split. Hashing doc ids instead would scatter
    near-duplicates of eval documents into train, the contamination the
    decontaminate operator exists to catch after the fact. 90/5/5 by the
    first 4 hex digits of md5(cluster_id). Reuses the memoized cluster
    assignment; the split itself is a narrow projection."""
    clusters = _cross_modal_cluster_df(spark, sf_dir)
    b = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    return (
        clusters.withColumn(
            "split",
            F.when(b < 90, "train").when(b < 95, "valid").otherwise("test"),
        )
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    )


ORACLE_CLUSTER_SPLIT = _ORACLE_CROSS_MODAL_BODY + r""",
clusters AS (
  SELECT v.doc_id,
         CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
  FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
  GROUP BY v.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid' ELSE 'test' END AS split
FROM (
  SELECT doc_id, cluster_id,
         ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS b
  FROM clusters
)
ORDER BY doc_id
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) over the embeddings table: spherical
    k-means (one iteration — the SAME oracle-pinned clustering as
    kmeans_clusters) buckets the space, then within-cell pairs with
    round(cos·10⁴) ≥ 4000 mark the higher id as a duplicate (greedy
    keep-lowest-id). τ is calibrated to the synthetic table's cosine range
    (global max pair cos ≈ 0.51 — real corpora run τ ≈ 0.95); at this cut
    ~4% of rows drop, so the gate exercises both verdicts.

    k scales with the corpus — SemDeDup's own rule (k ≈ n / target cell
    size; the paper runs ~50k cells for LAION) — because within-cell work
    is quadratic in cell size: a fixed k=8 measured 26.9 s at sf0.1 (625
    vectors/cell → ~1.9M candidate pairs) vs ~cell-size-128 buckets. At the
    driver's sf0.01 gate n=500 keeps k at the floor of 8, the value the
    oracle's ``vec_id < 8`` seed set pins — the k choice is a physical
    bucketing decision, same contract as the scheduler's size switches."""
    emb = _emb(spark, sf_dir)
    k = max(8, emb.count() // 128)  # parquet count() — metadata-cheap
    return S.semantic_dedup(emb, k=k, iters=1, tau_x10k=4000)


ORACLE_SEMANTIC_DEDUP = """
WITH e AS (
  SELECT vec_id, q FROM (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
    FROM embeddings
  ) WHERE list_dot_product(q::DOUBLE[], q::DOUBLE[]) > 0
),
c0 AS (SELECT vec_id AS cid, q AS cvec FROM e WHERE vec_id < 8),
s0 AS (
  SELECT e.vec_id, c.cid,
         CAST(round(list_dot_product(q::DOUBLE[], cvec::DOUBLE[])
                    / (sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[]))
                       * sqrt(list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[])))
                    * 10000, 0) AS BIGINT) * 1000000 - c.cid AS val
  FROM e, c0 c
),
a0 AS (SELECT vec_id, arg_max(cid, val) AS cell FROM s0 GROUP BY vec_id),
m AS (
  SELECT a0.cell, generate_subscripts(q, 1) AS pos, unnest(q) AS x
  FROM a0 JOIN e USING (vec_id)
),
msum AS (SELECT cell, pos, SUM(x) AS s FROM m GROUP BY cell, pos),
c1 AS (SELECT cell AS cid, list(s ORDER BY pos) AS cvec FROM msum GROUP BY cell),
s1 AS (
  SELECT e.vec_id, c.cid,
         CAST(round(list_dot_product(q::DOUBLE[], cvec::DOUBLE[])
                    / (sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[]))
                       * sqrt(list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[])))
                    * 10000, 0) AS BIGINT) * 1000000 - c.cid AS val
  FROM e, c1 c
),
a AS (SELECT vec_id, arg_max(cid, val) AS cell FROM s1 GROUP BY vec_id),
v AS (SELECT a.vec_id, a.cell, e.q FROM a JOIN e USING (vec_id)),
dups AS (
  SELECT DISTINCT x.vec_id
  FROM v x JOIN v y ON x.cell = y.cell AND y.vec_id < x.vec_id
  WHERE CAST(round(list_dot_product(x.q::DOUBLE[], y.q::DOUBLE[])
             / (sqrt(list_dot_product(x.q::DOUBLE[], x.q::DOUBLE[]))
                * sqrt(list_dot_product(y.q::DOUBLE[], y.q::DOUBLE[])))
             * 10000, 0) AS BIGINT) >= 4000
)
SELECT v.vec_id, v.cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept
FROM v LEFT JOIN dups d ON v.vec_id = d.vec_id
ORDER BY v.vec_id
"""


def q_unigram_logprob(spark, sf_dir):
    """Unigram-LM perplexity-proxy quality score (T.unigram_logprob,
    CCNet-style): mean corpus-unigram log-prob per document, computed as an
    exact integer sum of once-quantized per-token log-probs (order-free
    cross-engine) divided at the end."""
    return T.unigram_logprob(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLE_UNIGRAM_LOGPROB = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT sum(c)::DOUBLE AS t FROM cnt),
lp AS (SELECT tok, CAST(floor(ln(c / t) * 1000000) AS BIGINT) AS lpq FROM cnt, tot)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(lpq) / (count(*) * 1000000.0), 4) AS avg_logprob
FROM toks JOIN lp USING (tok)
GROUP BY doc_id ORDER BY doc_id
"""


def q_bigram_logprob(spark, sf_dir):
    """Bigram-LM perplexity-proxy score (T.bigram_logprob) — the
    conditional-probability step between unigram_logprob and CCNet's
    real 5-gram KenLM: mean add-one-smoothed bigram log-prob per
    document, exact BIGINT sums of once-quantized pair log-probs."""
    return T.bigram_logprob(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLE_BIGRAM_LOGPROB = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
),
bg AS (
  SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
        FROM toks WHERE len(tk) >= 2)
),
cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY a, b),
ca AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cab GROUP BY a),
v AS (
  SELECT count(DISTINCT tok)::DOUBLE AS v
  FROM (SELECT unnest(tk) AS tok FROM toks)
),
lp AS (
  SELECT a, b, CAST(floor(ln((c + 1) / (ca + v)) * 1000000) AS BIGINT) AS lpq
  FROM cab JOIN ca USING (a) CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(lpq) / (count(*) * 1000000.0), 4) AS avg_logprob
FROM bg JOIN lp USING (a, b)
GROUP BY doc_id ORDER BY doc_id
"""


def q_dup_span_stats(spark, sf_dir):
    """Cross-doc duplicated 8-token-span stats (D.dup_span_stats) — the
    exact-substring-dedup triage signal. Pre-repartition on doc_id so the
    gram build parallelizes past the single-file scan task (the
    ngram_jaccard round-3 tune)."""
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return D.dup_span_stats(docs, n=8).orderBy("doc_id")


ORACLE_DUP_SPAN_STATS = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
g AS (
  SELECT doc_id, md5(array_to_string(tk[i:i+7], ' ')) AS h
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
        FROM toks WHERE len(tk) >= 8)
),
cnt AS (SELECT h, count(*) AS c FROM g GROUP BY h)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_span_ratio
FROM g JOIN cnt USING (h)
GROUP BY doc_id ORDER BY doc_id
"""


def q_span_scrub(spark, sf_dir):
    """Exact-substring span removal (D.span_scrub) — the dedup ACTION behind
    dup_span_stats' triage: delete every non-canonical occurrence of any
    corpus-repeated 8-token span and rebuild the doc from surviving tokens.
    Same pre-repartition as the other gram builders."""
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return D.span_scrub(docs, n=8).orderBy("doc_id")


ORACLE_SPAN_SCRUB = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos,
         doc_id * 1000000 + (i - 1) AS k,
         md5(array_to_string(tk[i:i+7], ' ')) AS h
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
        FROM toks WHERE len(tk) >= 8)
),
cnt AS (SELECT h, count(*) AS c, min(k) AS canon FROM g GROUP BY h),
rm AS (
  SELECT DISTINCT g.doc_id, g.pos + u.off AS idx
  FROM g JOIN cnt USING (h)
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off) u
  WHERE cnt.c >= 2 AND g.k <> cnt.canon
),
tokpos AS (
  SELECT doc_id, i - 1 AS idx, tk[i] AS tok
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM toks)
),
reb AS (
  SELECT t.doc_id, count(*) AS n_kept,
         string_agg(t.tok, ' ' ORDER BY t.idx) AS text_clean
  FROM tokpos t
  LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.idx = t.idx
  WHERE rm.doc_id IS NULL
  GROUP BY t.doc_id
)
SELECT toks.doc_id,
       CAST(len(toks.tk) AS BIGINT) AS n_tokens,
       CAST(len(toks.tk) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(reb.text_clean, '') AS text_clean
FROM toks LEFT JOIN reb ON reb.doc_id = toks.doc_id
ORDER BY toks.doc_id
"""


def q_pii_scrub(spark, sf_dir):
    """PII redaction (T.pii_scrub) — emails / IPv4s / phone numbers replaced
    by typed placeholders with per-class counts, the standard pre-release
    scrub pass. The synthetic corpus carries no PII, so the gate PLANTS a
    deterministic suffix per doc (an email, an IP, and a dotted-quad-proof
    phone number derived from doc_id) — the regexes then have real work to
    do and the oracle rebuilds the identical suffix. Pure narrow map: zero
    exchanges past the scan at any scale."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"), d.cast("string"),
            F.lit("@mail.example.com or 10."), (d % 200).cast("string"),
            F.lit(".0."), (d % 250).cast("string"),
            F.lit(" tel 555-"), F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((d % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return T.pii_scrub(planted).orderBy("doc_id")


ORACLE_PII_SCRUB = r"""
WITH planted AS (
  SELECT doc_id,
    text || ' reach user' || doc_id::VARCHAR || '@mail.example.com or 10.'
         || (doc_id % 200)::VARCHAR || '.0.' || (doc_id % 250)::VARCHAR
         || ' tel 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
         || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
    len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
    regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM planted
),
s2 AS (
  SELECT doc_id, n_email,
    len(regexp_extract_all(t,
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
    regexp_replace(t,
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t
  FROM s1
)
SELECT doc_id,
  regexp_replace(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS scrubbed,
  n_email::INT AS n_email,
  n_ipv4::INT AS n_ipv4,
  len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::INT AS n_phone
FROM s2 ORDER BY doc_id
"""


def q_line_dedup(spark, sf_dir):
    """Within-doc repeated-line removal (T.line_dedup) — the Gopher
    "repetition removal" action. The synthetic corpus is single-line, so
    the gate PLANTS a deterministic boilerplate block per doc: a shared
    nav line and a doc_id%7-keyed footer line each appear TWICE, plus one
    unique line — every doc must drop exactly those 2 repeats and keep
    first occurrences in order; the oracle rebuilds the identical layout.
    Pure narrow map: zero exchanges past the scan at any scale."""
    docs = _docs(spark, sf_dir)
    nl = F.lit("\n")
    nav = F.lit("home | listings | contact")
    footer = F.concat(F.lit("footer-"), (F.col("doc_id") % 7).cast("string"))
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), nl, nav, nl, footer, nl, nav, nl, footer, nl,
            F.lit("unique-"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return T.line_dedup(planted).orderBy("doc_id")


ORACLE_LINE_DEDUP = r"""
WITH planted AS (
  SELECT doc_id,
    text || chr(10) || 'home | listings | contact'
         || chr(10) || 'footer-' || (doc_id % 7)::VARCHAR
         || chr(10) || 'home | listings | contact'
         || chr(10) || 'footer-' || (doc_id % 7)::VARCHAR
         || chr(10) || 'unique-' || doc_id::VARCHAR AS text
  FROM documents
),
split_lines AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM planted
),
kept AS (
  SELECT doc_id, lines,
    list_filter(generate_series(1, len(lines)),
                i -> list_position(lines, lines[i]) = i) AS keep
  FROM split_lines
)
SELECT doc_id,
  array_to_string(list_transform(keep, i -> lines[i]), chr(10)) AS clean_text,
  len(lines)::INT AS n_lines,
  (len(lines) - len(keep))::INT AS n_dup_lines
FROM kept ORDER BY doc_id
"""


def q_ppl_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity buckets per source
    (T.ppl_buckets): terciles of the unigram-LM score within each source —
    the bucket assignment a CCNet curation run uses to keep head+middle and
    drop the noisy tail. Deterministic: rank orders by the rounded score
    desc, doc_id asc."""
    return T.ppl_buckets(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLE_PPL_BUCKETS = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT sum(c)::DOUBLE AS t FROM cnt),
lp AS (SELECT tok, CAST(floor(ln(c / t) * 1000000) AS BIGINT) AS lpq FROM cnt, tot),
scored AS (
  SELECT doc_id, round(sum(lpq) / (count(*) * 1000000.0), 4) AS avg_logprob
  FROM toks JOIN lp USING (tok) GROUP BY doc_id
),
ranked AS (
  SELECT s.doc_id, d.source, s.avg_logprob,
         ntile(3) OVER (
           PARTITION BY d.source ORDER BY s.avg_logprob DESC, s.doc_id ASC
         ) AS tile
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT doc_id, source, avg_logprob,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR hashed-unigram importance weights (T.dsir_weights,
    arXiv:2302.03169): per-doc ln-likelihood-ratio of target (the
    doc_id % 101 eval slice, shared with decontaminate) vs the raw pool,
    over 256 md5-hashed token buckets with Laplace smoothing."""
    return T.dsir_weights(_docs(spark, sf_dir)).orderBy("doc_id")


ORACLE_DSIR_WEIGHTS = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
tb AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT % 256 AS b FROM toks
),
cnt AS (
  SELECT b,
         sum(CASE WHEN doc_id % 101 = 0 THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN doc_id % 101 <> 0 THEN 1 ELSE 0 END) AS cr
  FROM tb GROUP BY b
),
tot AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM cnt),
lam AS (
  SELECT b,
         CAST(floor(ln(((ct + 1) / (tt + 256.0)) / ((cr + 1) / (tr + 256.0)))
                    * 1000000) AS BIGINT) AS lq
  FROM cnt, tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(lq) / (count(*) * 1000000.0), 4) AS dsir_weight
FROM tb JOIN lam USING (b)
WHERE doc_id % 101 <> 0
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# image-side planners (multimodal.py), gated on deterministic fake metadata
# ---------------------------------------------------------------------------
# The planners consume image METADATA only (dims / byte sizes) — exactly the
# narrow rows they'd see at 100 TB after the late-payload-join discipline —
# so the gate derives deterministic dims/sizes from the documents table
# (md5-of-id, the repo's no-RNG sampling convention) and verifies the full
# per-item plan against a SQL twin.


def q_ratio_bucket_plan(spark, sf_dir):
    """Aspect-ratio bucketing (multimodal.ratio_buckets): every image joins
    the SDXL-style ladder bucket nearest its aspect ratio (ties to the wider
    bucket), then fills 64-item training batches in id order. Dims are
    md5-derived in [256, 2048] so the plan is a pure function of the doc
    ids. The ladder is a 13-element literal folded into the projection —
    the only exchange is the per-bucket batch window."""
    from pegasus_spark.multimodal import ratio_buckets

    hw = F.md5(F.col("doc_id").cast("string"))
    imgs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("w"),
        (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("h"),
    )
    return ratio_buckets(imgs, batch_size=64, id_col="doc_id").orderBy("doc_id")


ORACLE_RATIO_BUCKET_PLAN = """
WITH imgs AS (
  SELECT doc_id,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 1793 + 256)::INT AS w,
    (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 1793 + 256)::INT AS h
  FROM documents
),
ladder(bw, bh) AS (VALUES
  (512, 2048), (512, 1536), (640, 1536), (768, 1344), (832, 1216),
  (896, 1152), (1024, 1024), (1152, 896), (1216, 832), (1344, 768),
  (1536, 640), (1536, 512), (2048, 512)
),
ranked AS (
  SELECT i.doc_id, i.w, i.h, l.bw, l.bh,
    row_number() OVER (
      PARTITION BY i.doc_id
      ORDER BY round(abs(i.w::DOUBLE / i.h - l.bw::DOUBLE / l.bh), 9) ASC,
               l.bw DESC, l.bh ASC
    ) AS rn
  FROM imgs i CROSS JOIN ladder l
)
SELECT doc_id, w, h, bw AS bucket_w, bh AS bucket_h,
  CAST(floor((row_number() OVER (PARTITION BY bw, bh ORDER BY doc_id) - 1)
             / 64.0) AS BIGINT) AS batch_idx
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


def q_ratio_bucket_plan_salted(spark, sf_dir):
    """The 100 TB form of ratio_buckets (round 5): batch_idx derives within
    (bucket, md5(doc_id)-salt-group) — the raw plan's window has exactly 13
    distinct keys, i.e. 13 tasks at any corpus size; the salt carries the
    exchange (plan-asserted in tests/test_multimodal.py) and a trainer's
    batch key becomes (bucket_w, bucket_h, grp, batch_idx). Bucket
    assignment itself is identical to the unsalted gate."""
    from pegasus_spark.multimodal import ratio_buckets

    hw = F.md5(F.col("doc_id").cast("string"))
    imgs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("w"),
        (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("h"),
    )
    return ratio_buckets(
        imgs, batch_size=64, id_col="doc_id", salt_groups=4
    ).orderBy("doc_id")


ORACLE_RATIO_BUCKET_PLAN_SALTED = """
WITH imgs AS (
  SELECT doc_id,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 1793 + 256)::INT AS w,
    (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 1793 + 256)::INT AS h,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 4 AS grp
  FROM documents
),
ladder(bw, bh) AS (VALUES
  (512, 2048), (512, 1536), (640, 1536), (768, 1344), (832, 1216),
  (896, 1152), (1024, 1024), (1152, 896), (1216, 832), (1344, 768),
  (1536, 640), (1536, 512), (2048, 512)
),
ranked AS (
  SELECT i.doc_id, i.w, i.h, i.grp, l.bw, l.bh,
    row_number() OVER (
      PARTITION BY i.doc_id
      ORDER BY round(abs(i.w::DOUBLE / i.h - l.bw::DOUBLE / l.bh), 9) ASC,
               l.bw DESC, l.bh ASC
    ) AS rn
  FROM imgs i CROSS JOIN ladder l
)
SELECT doc_id, w, h, bw AS bucket_w, bh AS bucket_h, grp,
  CAST(floor((row_number() OVER (PARTITION BY bw, bh, grp ORDER BY doc_id) - 1)
             / 64.0) AS BIGINT) AS batch_idx
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


def q_ratio_bucket_stats(spark, sf_dir):
    """Batch-utilization audit of the aspect-ratio plan
    (multimodal.ratio_bucket_stats): per ladder bucket — image count,
    batch count, tail-batch padding rows, and the padding fraction of the
    bucket's batch slots. Same md5-derived dims as the plan gates; the
    whole query is the plan's projection plus two partial-aggregable
    groupBys (batch rows, then ladder rows) — no window anywhere."""
    from pegasus_spark.multimodal import ratio_buckets, ratio_bucket_stats

    hw = F.md5(F.col("doc_id").cast("string"))
    imgs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("w"),
        (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("h"),
    )
    plan = ratio_buckets(imgs, batch_size=64, id_col="doc_id")
    # batch_size rides the plan's column metadata
    return ratio_bucket_stats(plan).orderBy("bucket_w", "bucket_h")


ORACLE_RATIO_BUCKET_STATS = """
WITH imgs AS (
  SELECT doc_id,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 1793 + 256)::INT AS w,
    (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 1793 + 256)::INT AS h
  FROM documents
),
ladder(bw, bh) AS (VALUES
  (512, 2048), (512, 1536), (640, 1536), (768, 1344), (832, 1216),
  (896, 1152), (1024, 1024), (1152, 896), (1216, 832), (1344, 768),
  (1536, 640), (1536, 512), (2048, 512)
),
ranked AS (
  SELECT i.doc_id, l.bw, l.bh,
    row_number() OVER (
      PARTITION BY i.doc_id
      ORDER BY round(abs(i.w::DOUBLE / i.h - l.bw::DOUBLE / l.bh), 9) ASC,
               l.bw DESC, l.bh ASC
    ) AS rn
  FROM imgs i CROSS JOIN ladder l
),
plan AS (
  SELECT doc_id, bw, bh,
    CAST(floor((row_number() OVER (PARTITION BY bw, bh ORDER BY doc_id) - 1)
               / 64.0) AS BIGINT) AS batch_idx
  FROM ranked WHERE rn = 1
),
per_batch AS (
  SELECT bw, bh, batch_idx, count(*) AS n FROM plan GROUP BY bw, bh, batch_idx
)
SELECT bw AS bucket_w, bh AS bucket_h,
  CAST(sum(n) AS BIGINT) AS n_images,
  CAST(count(*) AS BIGINT) AS n_batches,
  CAST(count(*) * 64 - sum(n) AS BIGINT) AS pad_rows,
  round((count(*) * 64 - sum(n)) / (count(*) * 64.0), 6) AS waste_frac
FROM per_batch GROUP BY bw, bh ORDER BY bucket_w, bucket_h
"""


def q_image_rules(spark, sf_dir):
    """LAION/DataComp-style image curation rules (multimodal.with_image_rules):
    per-rule boolean audit columns + the keep conjunction over image METADATA
    (md5-derived dims/bytes — the same deterministic fake-dims convention as
    the ratio-bucket gates — with the document text standing in as the
    caption and its lang column as the caption language).  Zero shuffle:
    every rule is a per-row projection fused into the parquet scan, exactly
    like the text side's gopher_rules mapper."""
    from pegasus_spark.multimodal import with_image_rules

    hw = F.md5(F.col("doc_id").cast("string"))
    imgs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("w"),
        (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("h"),
        (F.conv(F.substring(hw, 9, 8), 16, 10).cast("bigint") % 4000000
         + 1024).alias("n_bytes"),
        F.col("text").alias("caption"),
        "lang",
    )
    return with_image_rules(imgs, id_col="doc_id").orderBy("doc_id")


ORACLE_IMAGE_RULES = r"""
WITH imgs AS (
  SELECT doc_id,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 1793 + 256)::INT AS w,
    (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 1793 + 256)::INT AS h,
    (('0x' || substr(md5(doc_id::VARCHAR), 9, 8))::BIGINT % 4000000 + 1024) AS n_bytes,
    len(regexp_split_to_array(trim(text), '\s+')) AS n_cap_tokens,
    lang
  FROM documents
),
m AS (
  SELECT doc_id, w, h, n_bytes, n_cap_tokens, lang,
         round(greatest(w::DOUBLE / h, h::DOUBLE / w), 4) AS ar,
         round(n_bytes::DOUBLE / (w::DOUBLE * h), 6) AS bpp
  FROM imgs
)
SELECT doc_id, w, h, n_bytes, ar, bpp, n_cap_tokens,
       (least(w, h) >= 512) AS r_dims,
       (ar <= 3.0) AS r_ar,
       (bpp >= 0.05 AND bpp <= 2.0) AS r_bpp,
       (n_cap_tokens >= 16 AND n_cap_tokens <= 72) AS r_cap,
       (lang = 'en') AS r_lang,
       (least(w, h) >= 512 AND ar <= 3.0
        AND bpp >= 0.05 AND bpp <= 2.0
        AND n_cap_tokens >= 16 AND n_cap_tokens <= 72
        AND lang = 'en') AS keep
FROM m ORDER BY doc_id
"""


def q_clip_filter(spark, sf_dir):
    """CLIP-score alignment filter (multimodal.image_text_alignment), fixed-τ
    form: each embedding pairs with its XOR-1 neighbor as the deterministic
    stand-in for the (image tower, text tower) output pair, cosine rounded
    to 4 dp before the τ = 0.05 compare.  The whole operator is one narrow
    projection over the pair table — the gate's equi-join exists only to
    BUILD that pair table from the single embeddings fixture."""
    from pegasus_spark.multimodal import image_text_alignment

    e = _emb(spark, sf_dir)
    img = e.select(F.col("vec_id"), F.col("embedding").alias("img_vec"))
    txt = e.select(
        F.col("vec_id").bitwiseXOR(F.lit(1)).alias("vec_id"),
        F.col("embedding").alias("txt_vec"),
    )
    pairs = img.join(txt, "vec_id")
    return image_text_alignment(
        pairs, id_col="vec_id", tau=0.05
    ).orderBy("vec_id")


ORACLE_CLIP_FILTER = r"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
p AS (
  SELECT a.vec_id,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS clip_score
  FROM e a JOIN e b ON b.vec_id = xor(a.vec_id, 1)
)
SELECT vec_id, clip_score, (clip_score >= 0.05) AS keep
FROM p ORDER BY vec_id
"""


def q_image_decontaminate(spark, sf_dir):
    """Eval-set image leakage flag (multimodal.image_decontaminate): corpus
    phashes (md5-derived 60-bit, the deterministic fake-metadata convention)
    vs an eval set built from every 23rd image's hash with ONE bit flipped —
    so the flagged rows exercise the Hamming ball, not just exact equality.
    max_hamming = 2 with 3 chunks keeps the pigeonhole exhaustive; the
    oracle computes the same ball naively (EXISTS over the tiny eval set),
    which must agree exactly because the chunk trick is recall-lossless at
    that setting."""
    from pegasus_spark.multimodal import image_decontaminate

    hw = F.md5(F.col("doc_id").cast("string"))
    corpus = _docs(spark, sf_dir).select(
        "doc_id",
        F.conv(F.substring(hw, 1, 15), 16, 10).cast("bigint").alias("phash"),
    )
    evals = corpus.filter(F.col("doc_id") % 23 == 0).select(
        F.expr(
            "phash ^ shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))"
        ).alias("eval_phash")
    )
    return image_decontaminate(
        corpus, evals, max_hamming=2, chunks=3, id_col="doc_id", n_bits=60
    ).orderBy("doc_id")


ORACLE_IMAGE_DECONTAMINATE = r"""
WITH c AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS phash
  FROM documents
),
ev AS (
  SELECT xor(phash, (1::BIGINT << (doc_id % 60)::INT)) AS eh
  FROM c WHERE doc_id % 23 = 0
)
SELECT doc_id, phash,
       EXISTS (SELECT 1 FROM ev WHERE bit_count(xor(c.phash, ev.eh)) <= 2)
         AS contaminated
FROM c ORDER BY doc_id
"""


def q_augmentation_plan(spark, sf_dir):
    """Deterministic per-epoch crop/flip schedule (multimodal.
    augmentation_plan) over the same md5-synthesized dims as the ratio
    planners: 3 epochs, 512×512 crops, undersized images excluded. All
    integer md5 arithmetic — the reproducible-augmentation contract of a
    resumable trainer."""
    from pegasus_spark.multimodal import augmentation_plan

    hw = F.md5(F.col("doc_id").cast("string"))
    imgs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("w"),
        (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 1793 + 256)
        .cast("int").alias("h"),
    )
    return augmentation_plan(
        imgs, epochs=3, crop_w=512, crop_h=512, id_col="doc_id"
    ).orderBy("doc_id", "epoch")


def q_frame_sample_plan(spark, sf_dir):
    """Uniform-k video frame-sampling schedule (multimodal.frame_sample_plan)
    over md5-synthesized video metadata: duration 1-61 s, fps 10-40 carried
    ×100 (the ratio-planner dim-synthesis convention lifted to the video
    modality). 8 midpoint samples per video, exact integer DIV throughout —
    the decode stays stubbed (no ffmpeg in this environment), the schedule
    the decoder would follow is fully gated."""
    from pegasus_spark.multimodal import frame_sample_plan

    hw = F.md5(F.col("doc_id").cast("string"))
    vids = _docs(spark, sf_dir).select(
        "doc_id",
        (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 60000 + 1000)
        .cast("bigint").alias("duration_ms"),
        (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 3001 + 1000)
        .cast("bigint").alias("fps_x100"),
    )
    return frame_sample_plan(vids, n_samples=8, id_col="doc_id").orderBy(
        "doc_id", "sample_idx"
    )


def q_audio_chunk_plan(spark, sf_dir):
    """Whisper-style strided audio chunk schedule (multimodal.
    audio_chunk_plan) over md5-synthesized clip metadata: duration 0.5 to
    120.5 s (sub-second clips exercise the min-tail exclusion), 16 kHz;
    30 s windows every 24 s (20% overlap). All integer math; bytes never
    enter the plan — the gated schedule half of the stubbed
    audio_features decode."""
    from pegasus_spark.multimodal import audio_chunk_plan

    hw = F.md5(F.col("doc_id").cast("string"))
    clips = _docs(spark, sf_dir).select(
        "doc_id",
        (F.conv(F.substring(hw, 1, 5), 16, 10).cast("bigint") % 120001 + 500)
        .cast("bigint").alias("duration_ms"),
        F.lit(16000).cast("bigint").alias("sample_rate"),
    )
    return audio_chunk_plan(clips, id_col="doc_id").orderBy("doc_id", "chunk_idx")


ORACLE_AUDIO_CHUNK_PLAN = """
WITH clips AS (
  SELECT doc_id,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 5))::BIGINT % 120001 + 500) AS duration_ms
  FROM documents
),
n AS (
  SELECT doc_id, duration_ms,
         CASE WHEN duration_ms >= 31000
              THEN (duration_ms - 31000) // 24000 + 2 ELSE 1 END AS n_chunks
  FROM clips WHERE duration_ms >= 1000
),
c AS (
  SELECT doc_id, duration_ms, CAST(i AS INT) AS chunk_idx,
         CAST(i * 24000 AS BIGINT) AS start_ms
  FROM (SELECT doc_id, duration_ms, unnest(generate_series(0, n_chunks - 1)) AS i FROM n)
)
SELECT doc_id, chunk_idx, start_ms,
       CAST(least(start_ms + 30000, duration_ms) AS BIGINT) AS end_ms,
       CAST((least(start_ms + 30000, duration_ms) - start_ms) * 16000 // 1000 AS BIGINT) AS n_samples
FROM c
ORDER BY doc_id, chunk_idx
"""


ORACLE_FRAME_SAMPLE_PLAN = """
WITH vids AS (
  SELECT doc_id,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 60000 + 1000) AS duration_ms,
    (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 3001 + 1000) AS fps_x100
  FROM documents
),
t AS (
  SELECT doc_id, CAST(duration_ms * fps_x100 // 100000 AS BIGINT) AS total_frames
  FROM vids
)
SELECT doc_id, total_frames, CAST(k AS INT) AS sample_idx,
       CAST((2 * k + 1) * total_frames // 16 AS BIGINT) AS frame_idx
FROM (SELECT doc_id, total_frames, unnest(generate_series(0, 7)) AS k FROM t)
WHERE total_frames >= 8
ORDER BY doc_id, sample_idx
"""


def q_resolution_histogram(spark, sf_dir):
    """Per-format image-resolution distribution on an EXACT log2 pixel
    ladder — the image-modality datasheet figure beside length_histogram
    (every image-corpus release plots its resolution mix): images and
    total megapixel mass per (format, ⌊log2(w·h)⌋ bucket). Dims and format
    come from the md5 synthesis the ratio planners share; the bucket is
    length(bin(w·h)) − 1, the same no-float-log identity as
    length_histogram. One bounded-key combinable groupBy; bytes never
    enter the plan."""
    hw = F.md5(F.col("doc_id").cast("string"))
    imgs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 1793 + 256)
        .alias("w"),
        (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 1793 + 256)
        .alias("h"),
        F.when(
            F.conv(F.substring(hw, 9, 2), 16, 10).cast("bigint") % 4 < 3, "jpeg"
        ).otherwise("png").alias("fmt"),
    )
    px = F.col("w") * F.col("h")
    bucket = (F.length(F.expr("bin(w * h)")) - 1).cast("int")
    return (
        imgs.groupBy("fmt", bucket.alias("log2_px_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.sum(px).cast("bigint").alias("total_pixels"),
        )
        .orderBy("fmt", "log2_px_bucket")
    )


ORACLE_RESOLUTION_HISTOGRAM = """
WITH imgs AS (
  SELECT doc_id,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 1793 + 256) AS w,
    (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 1793 + 256) AS h,
    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 9, 2))::BIGINT % 4 < 3
         THEN 'jpeg' ELSE 'png' END AS fmt
  FROM documents
)
SELECT fmt, CAST(length(bin(w * h)) - 1 AS INT) AS log2_px_bucket,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(SUM(w * h) AS BIGINT) AS total_pixels
FROM imgs
GROUP BY 1, 2
ORDER BY fmt, log2_px_bucket
"""


ORACLE_AUGMENTATION_PLAN = """
WITH imgs AS (
  SELECT doc_id,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 1793 + 256)::INT AS w,
    (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 1793 + 256)::INT AS h
  FROM documents
),
e AS (
  SELECT doc_id, w, h, unnest(generate_series(0, 2)) AS epoch
  FROM imgs WHERE w >= 512 AND h >= 512
),
s AS (
  SELECT doc_id, epoch, w, h,
         md5(doc_id::VARCHAR || ':' || epoch::VARCHAR) AS sd
  FROM e
)
SELECT doc_id, CAST(epoch AS INT) AS epoch, w, h,
  CAST(('0x' || substr(sd, 1, 8))::BIGINT % (w - 511) AS INT) AS crop_x,
  CAST(('0x' || substr(sd, 9, 8))::BIGINT % (h - 511) AS INT) AS crop_y,
  CAST(('0x' || substr(sd, 17, 8))::BIGINT % 2 AS INT) AS flip
FROM s ORDER BY doc_id, epoch
"""


def q_image_shard_plan(spark, sf_dir):
    """WebDataset-style shard planning (multimodal.pack_image_shards): items
    salted into 16 md5 groups, then byte-budgeted shards fill in id order
    via the exclusive prefix sum. Payload bytes never enter the window —
    the plan rides (id, n_bytes) rows only; here n_bytes is the document's
    UTF-8 length standing in for the image payload size."""
    from pegasus_spark.multimodal import pack_image_shards

    items = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.col("text").cast("binary").alias("bytes"),
    )
    return pack_image_shards(items, budget_bytes=1 << 16, n_groups=16).orderBy(
        "image_id"
    )


ORACLE_IMAGE_SHARD_PLAN = """
WITH items AS (
  SELECT doc_id::VARCHAR AS image_id,
         octet_length(encode(text))::BIGINT AS n_bytes,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 16 AS grp
  FROM documents
)
SELECT image_id, grp, n_bytes,
  CAST(floor(
    coalesce(sum(n_bytes) OVER (
      PARTITION BY grp ORDER BY image_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 65536.0
  ) AS BIGINT) AS shard_id
FROM items ORDER BY image_id
"""


def _phash_df(spark, sf_dir):
    """Synthesized 60-bit perceptual hash with PLANTED duplicate groups —
    shared by q_phash_near_dup / q_phash_clusters / q_phash_keepers (see
    q_phash_near_dup for the planting scheme and recall argument)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id % 97 AS STRING)), 1, 15), 16, 10) AS BIGINT)"
            " ^ (CASE WHEN (doc_id div 97) % 4 IN (1, 3)"
            "      THEN shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 97 % 60 AS INT))"
            "      ELSE CAST(0 AS BIGINT) END)"
            " ^ (CASE WHEN (doc_id div 97) % 4 IN (2, 3)"
            "      THEN shiftleft(CAST(1 AS BIGINT), CAST((doc_id % 97 * 7 + 13) % 60 AS INT))"
            "      ELSE CAST(0 AS BIGINT) END)"
        ).alias("phash"),
    )


def q_phash_near_dup(spark, sf_dir):
    """Perceptual-hash near-dup pairs (multimodal.image_near_dups' engine,
    textops.dedup.hamming_near_dups) — the driver-gated twin of the
    pytest-only binary-image path. A 60-bit phash is synthesized per doc
    with PLANTED duplicate groups (reference crawl stores a phash per
    fetched image, items table): group = doc_id % 97 picks a base
    md5-derived hash, and the member's variant flips 0-2 deterministic bit
    positions, so every within-group pair sits at hamming ≤ 2 while
    cross-group pairs are random 60-bit (chunk-collision candidates get
    filtered by the exact verify). Pigeonhole 4×15-bit chunk equality join —
    exhaustive for hamming ≤ 3, shuffle key is the chunk value, never
    all-pairs; same scale shape as simhash_near_dup."""
    return D.hamming_near_dups(
        _phash_df(spark, sf_dir), hash_col="phash", max_hamming=3, chunks=4,
        id_col="doc_id", n_bits=60,
    ).orderBy("id_a", "id_b")


def _phash_cluster_df(spark, sf_dir):
    """Shared by q_phash_clusters / q_phash_keepers: connected components
    over the phash near-dup pair graph (the same D.near_dup_clusters
    machinery the text side uses — driver union-find for a small pair
    graph, min-label propagation + pointer jumping above it; pairs from the
    chunk-equality join, never all-pairs)."""
    ph = _phash_df(spark, sf_dir)
    pairs = D.hamming_near_dups(
        ph, hash_col="phash", max_hamming=3, chunks=4,
        id_col="doc_id", n_bits=60,
    ).select("id_a", "id_b")
    return D.near_dup_clusters(ph, pairs)


def q_phash_clusters(spark, sf_dir):
    """Transitive image dedup: connected components over the phash near-dup
    pairs — the image twin of near_dup_clusters, completing the
    pairs → clusters → keepers chain on the image axis. Pairwise phash
    matching alone cannot dedup a drifting series (A~B at 2 bits, B~C at
    2 bits, A~C at 4 bits escapes the radius); the CC step guarantees one
    cluster per connected group. Oracle = DuckDB recursive-CTE transitive
    closure over the identical pair graph. Scale: the pair graph comes
    from the bucketed chunk join; CC is the proven min-label +
    pointer-jumping loop (O(component diameter) rounds, shallow here)."""
    return _phash_cluster_df(spark, sf_dir).orderBy("doc_id")


def q_phash_keepers(spark, sf_dir):
    """Image keeper selection: within each phash cluster keep the
    HIGHEST-RESOLUTION copy (ties to the lowest doc_id) — the standard
    image-dedup keep rule (LAION dedup keeps the largest variant), via the
    same D.cluster_keepers argmax helper the text pipeline uses with
    quality. Dims are the md5 synthesis ratio_bucket_plan uses, so
    resolution = w·h is an exact BIGINT — the parity contract (never order
    on raw floats) is satisfied with no rounding. Scale: one cluster_id
    hash shuffle of (doc_id, cluster_id, resolution) triples on top of the
    cluster build; image bytes never move."""
    hw = F.md5(F.col("doc_id").cast("string"))
    res = _docs(spark, sf_dir).select(
        "doc_id",
        (
            (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 1793 + 256)
            * (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 1793 + 256)
        ).alias("resolution"),
    )
    clusters = _phash_cluster_df(spark, sf_dir)
    return D.cluster_keepers(clusters, res, metric_col="resolution").orderBy(
        "doc_id"
    )


def q_image_dedup_savings(spark, sf_dir):
    """The "what did image dedup buy" ledger closing the phash chain:
    per source, image count, keeper count, total vs kept resolution
    (exact BIGINT w·h from the md5 dim synthesis — a byte-cost proxy
    with no codec in this environment), and the storage savings on the
    10³ grid ((total − kept)·1000 DIV total). The number a release
    datasheet quotes to justify the dedup pass.

    Scale shape: the phash cluster build + the shared cluster_keepers
    argmax (one cluster_id shuffle of id/metric triples), then one
    source-keyed bounded rollup; image bytes never move."""
    hw = F.md5(F.col("doc_id").cast("string"))
    res = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        (
            (F.conv(F.substring(hw, 1, 4), 16, 10).cast("bigint") % 1793 + 256)
            * (F.conv(F.substring(hw, 5, 4), 16, 10).cast("bigint") % 1793 + 256)
        ).alias("resolution"),
    )
    keep = D.cluster_keepers(
        _phash_cluster_df(spark, sf_dir),
        res.select("doc_id", "resolution"),
        metric_col="resolution",
    )
    return (
        keep.join(res, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.sum(F.col("is_keeper").cast("int")).cast("bigint").alias("n_keepers"),
            F.sum("resolution").cast("bigint").alias("res_total"),
            F.sum(F.when(F.col("is_keeper"), F.col("resolution")).otherwise(0))
            .cast("bigint")
            .alias("res_kept"),
        )
        .withColumn(
            "savings_milli",
            F.expr("((res_total - res_kept) * 1000) DIV res_total"),
        )
        .orderBy("source")
    )


ORACLE_PHASH_NEAR_DUP = """
WITH ph AS (
  SELECT doc_id,
    xor(xor(
      ('0x' || substr(md5((doc_id % 97)::VARCHAR), 1, 15))::BIGINT,
      CASE WHEN (doc_id // 97) % 4 IN (1, 3)
           THEN 1::BIGINT << ((doc_id % 97) % 60) ELSE 0 END),
      CASE WHEN (doc_id // 97) % 4 IN (2, 3)
           THEN 1::BIGINT << (((doc_id % 97) * 7 + 13) % 60) ELSE 0 END
    ) AS phash
  FROM documents
),
chunked AS (
  SELECT doc_id, phash, c, (phash >> (c * 15)) & 32767 AS cv
  FROM (SELECT doc_id, phash, unnest(generate_series(0, 3)) AS c FROM ph)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.phash AS ph_a, b.phash AS ph_b
  FROM chunked a JOIN chunked b
    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(ph_a, ph_b)) AS hamming
FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3
ORDER BY id_a, id_b
"""


# Shared CTE body: the synthesized phash pair graph + transitive
# reachability (identical planting/chunking to the phash_near_dup oracle).
# Used by the phash_clusters and phash_keepers oracles.
_ORACLE_PHASH_GRAPH = """
WITH RECURSIVE ph AS (
  SELECT doc_id,
    xor(xor(
      ('0x' || substr(md5((doc_id % 97)::VARCHAR), 1, 15))::BIGINT,
      CASE WHEN (doc_id // 97) % 4 IN (1, 3)
           THEN 1::BIGINT << ((doc_id % 97) % 60) ELSE 0 END),
      CASE WHEN (doc_id // 97) % 4 IN (2, 3)
           THEN 1::BIGINT << (((doc_id % 97) * 7 + 13) % 60) ELSE 0 END
    ) AS phash
  FROM documents
),
chunked AS (
  SELECT doc_id, phash, c, (phash >> (c * 15)) & 32767 AS cv
  FROM (SELECT doc_id, phash, unnest(generate_series(0, 3)) AS c FROM ph)
),
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM chunked a JOIN chunked b
    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 3
),
e AS (SELECT id_a AS s, id_b AS d FROM p UNION ALL SELECT id_b, id_a FROM p),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
)"""

ORACLE_PHASH_CLUSTERS = _ORACLE_PHASH_GRAPH + """
SELECT v.doc_id,
       CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
GROUP BY v.doc_id
ORDER BY v.doc_id
"""


ORACLE_IMAGE_DEDUP_SAVINGS = _ORACLE_PHASH_GRAPH + """,
clusters AS (
  SELECT v.doc_id,
         CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
  FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
  GROUP BY v.doc_id
),
imgs AS (
  SELECT doc_id, source,
    ((('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 1793 + 256)
     * (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 1793 + 256))
      AS resolution
  FROM documents
),
kk AS (
  SELECT c.doc_id, i.source, i.resolution,
         first_value(c.doc_id) OVER (
           PARTITION BY c.cluster_id
           ORDER BY i.resolution DESC, c.doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) = c.doc_id AS is_keeper
  FROM clusters c JOIN imgs i ON i.doc_id = c.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(SUM(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
       CAST(SUM(resolution) AS BIGINT) AS res_total,
       CAST(SUM(CASE WHEN is_keeper THEN resolution ELSE 0 END) AS BIGINT)
         AS res_kept,
       CAST(((SUM(resolution) - SUM(CASE WHEN is_keeper THEN resolution ELSE 0 END))
        * 1000) // SUM(resolution) AS BIGINT) AS savings_milli
FROM kk GROUP BY source ORDER BY source
"""

ORACLE_PHASH_KEEPERS = _ORACLE_PHASH_GRAPH + """,
clusters AS (
  SELECT v.doc_id,
         CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
  FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
  GROUP BY v.doc_id
),
imgs AS (
  SELECT doc_id,
    ((('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 1793 + 256)
     * (('0x' || substr(md5(doc_id::VARCHAR), 5, 4))::BIGINT % 1793 + 256))
      AS resolution
  FROM documents
),
kk AS (
  SELECT c.doc_id, c.cluster_id,
         first_value(c.doc_id) OVER (
           PARTITION BY c.cluster_id
           ORDER BY i.resolution DESC, c.doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         ) AS keeper_id
  FROM clusters c JOIN imgs i ON i.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, keeper_id, doc_id = keeper_id AS is_keeper
FROM kk
ORDER BY doc_id
"""


def q_cluster_size_histogram(spark, sf_dir):
    """Dedup yield curve over the cross-modal near-dup clusters
    (textops.dedup.group_size_histogram): distribution of cluster sizes and
    how much of the corpus each size class holds — the diagnostic read
    before committing a dedup pass ("long tail of pairs, or a few
    boilerplate mega-clusters?").  Reuses the memoized cluster assignment;
    the histogram itself is two map-side-combinable aggregates, and the
    unpartitioned running-sum window sees only the aggregated histogram
    rows (≤ max cluster size), never the corpus."""
    return D.group_size_histogram(
        _cross_modal_cluster_df(spark, sf_dir), key_col="cluster_id"
    )


ORACLE_CLUSTER_SIZE_HISTOGRAM = _ORACLE_CROSS_MODAL_BODY + r""",
clusters AS (
  SELECT v.doc_id,
         CAST(least(v.doc_id, coalesce(MIN(r.d), v.doc_id)) AS BIGINT) AS cluster_id
  FROM documents v LEFT JOIN reach r ON r.s = v.doc_id
  GROUP BY v.doc_id
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS group_size FROM clusters GROUP BY cluster_id
),
h AS (SELECT group_size, COUNT(*) AS n_clusters FROM sizes GROUP BY group_size)
SELECT group_size, n_clusters,
       group_size * n_clusters AS n_docs,
       (group_size - 1) * n_clusters AS n_dupes,
       CAST(SUM(group_size * n_clusters) OVER (ORDER BY group_size) AS BIGINT)
         AS cum_docs
FROM h ORDER BY group_size
"""


def q_embedding_dispersion(spark, sf_dir):
    """Per-label mean pairwise cosine via the centroid identity
    (textops.similarity.embedding_dispersion): ‖Σu‖² − Σ‖u‖² replaces the
    O(n²) pair block with one element-wise sum per group — the cohesion
    signal SemDeDup-style pruning picks its thresholds from.  Exact parity
    on the quantize-once integer grid (floor(x·10⁶) raw, floor(u·10⁴)
    normalized), so every aggregate is an order-independent integer sum."""
    return S.embedding_dispersion(_emb(spark, sf_dir), group_col="label")


ORACLE_EMBEDDING_DISPERSION = r"""
WITH e AS (
  SELECT label,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
  FROM embeddings
),
nm AS (
  SELECT label, q::DOUBLE[] AS qd,
         sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[])) AS qn
  FROM e
  WHERE list_dot_product(q::DOUBLE[], q::DOUBLE[]) > 0
),
u AS (
  SELECT label,
         list_transform(qd, x -> CAST(floor(x / qn * 10000) AS BIGINT)) AS uq
  FROM nm
),
r AS (
  SELECT label, uq,
         CAST(list_dot_product(uq::DOUBLE[], uq::DOUBLE[]) AS BIGINT) AS sd
  FROM u
),
g AS (
  SELECT label, COUNT(*) AS n_vecs, CAST(SUM(sd) AS BIGINT) AS self_sum
  FROM r GROUP BY label
),
m AS (SELECT label, generate_subscripts(uq, 1) AS pos, unnest(uq) AS x FROM r),
d AS (SELECT label, pos, CAST(SUM(x) AS BIGINT) AS s FROM m GROUP BY label, pos),
ss AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS ss FROM d GROUP BY label)
SELECT g.label, g.n_vecs,
       CASE WHEN g.n_vecs > 1 THEN
         round((ss.ss - g.self_sum) / (g.n_vecs * (g.n_vecs - 1.0) * 1e8), 6)
       END AS mean_pairwise_cos
FROM g JOIN ss USING (label)
ORDER BY label
"""


def q_aesthetic_score(spark, sf_dir):
    """LAION-Aesthetics-style quality scoring (Schuhmann et al.,
    arXiv:2210.08402 §3.3): the aesthetics predictor is a small linear
    head over the image's CLIP embedding, and images below a score cutoff
    are dropped before training. At engine level the stage is exactly a
    fixed O(dim) weight vector applied to every embedding — a broadcastable
    model, one narrow fold per row, the filter fused into the scan (the
    same class as clip_filter's fixed-τ mode). Weights are md5-derived per
    dimension so the gate is a pure function of position; the dot product
    runs on the quantize-once integer grid (floor(x·10⁶) embedding,
    integer weights in [-1000, 1000]) so the score is an exact BIGINT — no
    float enters the plan, and keep = score > 0 stands in for the real τ.
    Scale: zero exchanges before the presentation sort."""
    scored = _emb(spark, sf_dir).select(
        "vec_id", F.expr(_AESTHETIC_Q_EXPR).alias("aesthetic_q")
    )
    return scored.withColumn("keep", F.col("aesthetic_q") > 0).orderBy("vec_id")


# the md5-derived linear head on the exact integer grid — shared between
# q_aesthetic_score and q_clip_aesthetic_grid so the two surfaces can never
# disagree on what "the aesthetic score" is
_AESTHETIC_Q_EXPR = (
    "aggregate(zip_with("
    " transform(embedding,"
    "  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),"
    " transform(sequence(1, 64), i ->"
    "  CAST(conv(substring(md5(CAST(i AS STRING)), 1, 4), 16, 10) AS BIGINT)"
    "  % 2001 - 1000),"
    " (q, w) -> q * w), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)


ORACLE_AESTHETIC_SCORE = """
WITH w AS (
  SELECT list_transform(generate_series(1, 64),
           i -> ('0x' || substr(md5(i::VARCHAR), 1, 4))::BIGINT % 2001 - 1000)
         AS wv
),
q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT vec_id,
       CAST(list_dot_product(qv::DOUBLE[], wv::DOUBLE[]) AS BIGINT) AS aesthetic_q,
       CAST(list_dot_product(qv::DOUBLE[], wv::DOUBLE[]) AS BIGINT) > 0 AS keep
FROM q CROSS JOIN w
ORDER BY vec_id
"""


def q_clip_aesthetic_grid(spark, sf_dir):
    """Joint CLIP-score × aesthetic-score distribution grid — the
    filter-interaction audit an image-curation run publishes before fixing
    its thresholds (the DataComp §4 exercise: CLIP-alignment and aesthetic
    filters are applied TOGETHER, and the 2-D score mass shows what each τ
    choice keeps). Per (clip_bin, aes_bin) cell: image count, corpus
    share, and whether that cell passes each filter at the deployed
    thresholds (clip ≥ 0.05 — clip_filter's τ; aesthetic > 0 —
    aesthetic_score's cut). Composes the two independently-gated scoring
    ops on the SAME rows (the ann_recall composition precedent).

    Binning is threshold-aligned and exact: clip_bin = floor(20·score) on
    the 4-dp-rounded cosine (bins are 0.05 wide, so bin ≥ 1 ⟺ pass);
    aes_bin is a SIGNED log2 magnitude ladder sign(q)·length(bin(|q|)) on
    the exact BIGINT score — the length_histogram string-length identity,
    no float log, and the ladder starts at ±1 so sign (= the keep verdict)
    survives binning; q = 0 maps to bin 0. Scale shape: BOTH scores ride
    the one pair-table pass (the aesthetic head computes on the img side
    BEFORE the XOR-1 self-join, so no second corpus join re-fetches it —
    reusing image_text_alignment's pruned output would cost a
    corpus-size vec_id exchange), then ONE combinable groupBy on a
    ~40 × ~60 bounded grid and a 1-row total broadcast back. The cosine
    is image_text_alignment's expression verbatim (clip_filter's gate
    covers it); the head is the _AESTHETIC_Q_EXPR aesthetic_score
    shares."""
    from pegasus_spark.textops.similarity import _dot

    e = _emb(spark, sf_dir)
    img = e.select(
        F.col("vec_id"),
        F.col("embedding").alias("img_vec"),
        F.expr(_AESTHETIC_Q_EXPR).alias("aesthetic_q"),
    )
    txt = e.select(
        F.col("vec_id").bitwiseXOR(F.lit(1)).alias("vec_id"),
        F.col("embedding").alias("txt_vec"),
    )
    iv, tv = F.col("img_vec"), F.col("txt_vec")
    cos = _dot(iv, tv) / (F.sqrt(_dot(iv, iv)) * F.sqrt(_dot(tv, tv)))
    binned = img.join(txt, "vec_id").select(
        F.floor(F.round(cos, 4) * 20).cast("int").alias("clip_bin"),
        F.when(F.col("aesthetic_q") == 0, F.lit(0))
        .otherwise(
            F.when(F.col("aesthetic_q") > 0, F.lit(1)).otherwise(F.lit(-1))
            * F.length(F.expr("bin(abs(aesthetic_q))"))
        )
        .cast("int")
        .alias("aes_bin"),
    )
    cells = binned.groupBy("clip_bin", "aes_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images")
    )
    total = cells.agg(F.sum("n_images").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "clip_bin",
            "aes_bin",
            (F.col("clip_bin") >= 1).alias("keep_clip"),
            (F.col("aes_bin") > 0).alias("keep_aes"),
            "n_images",
            F.round(F.col("n_images") / F.col("n_total"), 4).alias("share"),
        )
        .orderBy("clip_bin", "aes_bin")
    )


ORACLE_CLIP_AESTHETIC_GRID = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cp AS (
  SELECT a.vec_id,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS clip_score
  FROM e a JOIN e b ON b.vec_id = xor(a.vec_id, 1)
),
w AS (
  SELECT list_transform(generate_series(1, 64),
           i -> ('0x' || substr(md5(i::VARCHAR), 1, 4))::BIGINT % 2001 - 1000)
         AS wv
),
aq AS (
  SELECT vec_id,
         CAST(list_dot_product(
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000000) AS BIGINT))::DOUBLE[],
           wv::DOUBLE[]) AS BIGINT) AS aesthetic_q
  FROM embeddings CROSS JOIN w
),
b AS (
  SELECT CAST(floor(clip_score * 20) AS INT) AS clip_bin,
         CAST(CASE WHEN aesthetic_q = 0 THEN 0
              ELSE (CASE WHEN aesthetic_q > 0 THEN 1 ELSE -1 END)
                   * length(bin(abs(aesthetic_q))) END AS INT) AS aes_bin
  FROM cp JOIN aq USING (vec_id)
),
c AS (
  SELECT clip_bin, aes_bin, CAST(count(*) AS BIGINT) AS n_images
  FROM b GROUP BY 1, 2
),
t AS (SELECT SUM(n_images) AS n_total FROM c)
SELECT clip_bin, aes_bin,
       (clip_bin >= 1) AS keep_clip, (aes_bin > 0) AS keep_aes,
       n_images, round(n_images * 1.0 / n_total, 4) AS share
FROM c CROSS JOIN t
ORDER BY clip_bin, aes_bin
"""


def q_corpus_datacard(spark, sf_dir):
    """Per-source corpus datasheet ("datasheets for datasets", Gebru et al.,
    arXiv:1803.09010): the one-page per-source summary a pipeline publishes
    with a release — volume (docs, tokens, share of corpus), exact-dup
    rate, mean document length, and the dominant language. One scan feeds
    two partial-aggregable groupBys (source; source×lang); the corpus
    total is a 1-row broadcast and the dominant-language argmax window
    sees only |sources|×|langs| aggregated rows — bounded cardinality at
    any corpus size, so the whole datacard is two count-shuffles at 100 TB.

    Parity: counts ride exact BIGINT sums (md5-only text hashing for the
    dup rate); every ratio is a single IEEE division (+subtraction) of
    exact integers rounded once — the doc_quality discipline."""
    docs = _docs(spark, sf_dir)
    base = T.with_token_count(docs).select(
        "source", "lang", "n_chars", "n_tokens", F.md5("text").alias("th")
    )
    per_src = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("th").alias("n_uniq"),
        F.sum("n_chars").alias("total_chars"),
    )
    total = per_src.agg(F.sum("n_docs").alias("corpus_docs"))
    lc = base.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    top = (
        lc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_src.join(F.broadcast(top), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.round(F.col("n_docs") / F.col("corpus_docs"), 4).alias("pct_docs"),
            F.round(
                F.lit(1.0) - F.col("n_uniq") / F.col("n_docs"), 4
            ).alias("exact_dup_rate"),
            F.round(F.col("total_chars") / F.col("n_docs"), 2).alias("mean_chars"),
            "top_lang",
        )
        .orderBy("source")
    )


ORACLE_CORPUS_DATACARD = r"""
WITH b AS (
  SELECT source, lang, n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         md5(text) AS th
  FROM documents
),
s AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         COUNT(DISTINCT th) AS n_uniq,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM b GROUP BY source
),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS corpus_docs FROM s),
lc AS (SELECT source, lang, COUNT(*) AS n FROM b GROUP BY source, lang),
top AS (
  SELECT source, lang AS top_lang
  FROM (SELECT source, lang,
               row_number() OVER (PARTITION BY source ORDER BY n DESC, lang ASC) AS rn
        FROM lc)
  WHERE rn = 1
)
SELECT s.source, s.n_docs, s.total_tokens,
       round(s.n_docs * 1.0 / t.corpus_docs, 4) AS pct_docs,
       round(1.0 - s.n_uniq * 1.0 / s.n_docs, 4) AS exact_dup_rate,
       round(s.total_chars * 1.0 / s.n_docs, 2) AS mean_chars,
       top.top_lang
FROM s CROSS JOIN t JOIN top ON top.source = s.source
ORDER BY s.source
"""


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide exact paragraph dedup (D.paragraph_dedup — RefinedWeb
    arXiv:2306.01116 §3.3 / Dolma's paragraph deduper): keep only the
    globally-first occurrence of every distinct paragraph, rebuild docs.
    The synthetic corpus is single-line, so the gate PLANTS the cross-doc
    layout: a banner paragraph shared by ALL docs (survives only in the
    smallest doc_id), a promo paragraph shared within each doc_id%5 class
    (survives once per class), the doc's own text, and a unique tail.
    Winner agg carries (md5, id, pos) only — partial-aggregable, so the
    banner's corpus-sized key collapses map-side (see docstring in
    textops/dedup.py for the 100 TB shape)."""
    docs = _docs(spark, sf_dir)
    nl = F.lit("\n")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("banner: one corpus-wide boilerplate paragraph"), nl,
            F.col("text"), nl,
            F.lit("promo-"), (F.col("doc_id") % 5).cast("string"), nl,
            F.lit("tail-"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return D.paragraph_dedup(planted).orderBy("doc_id")


ORACLE_PARAGRAPH_DEDUP = r"""
WITH planted AS (
  SELECT doc_id,
    'banner: one corpus-wide boilerplate paragraph'
      || chr(10) || text
      || chr(10) || 'promo-' || (doc_id % 5)::VARCHAR
      || chr(10) || 'tail-' || doc_id::VARCHAR AS text
  FROM documents
),
split AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM planted
),
paras AS (
  SELECT doc_id, unnest(generate_series(1, len(lines))) AS i, lines FROM split
),
p2 AS (SELECT doc_id, i, lines[i] AS para FROM paras),
marked AS (
  SELECT doc_id, i, para,
    (doc_id * 1000 + i) = min(doc_id * 1000 + i)
      OVER (PARTITION BY md5(para)) AS keep
  FROM p2
)
SELECT doc_id,
  COALESCE(string_agg(para, chr(10) ORDER BY i) FILTER (WHERE keep), '')
    AS clean_text,
  count(*)::INT AS n_paras,
  (count(*) - count(*) FILTER (WHERE keep))::INT AS n_dup_paras
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


def q_label_outliers(spark, sf_dir):
    """Label-noise audit by nearest-class-centroid (S.label_outliers —
    the distance side of confident learning, arXiv:1911.00068): exact
    BIGINT grid distances to the own-label vs nearest-other-label
    centroid; is_outlier marks mislabel candidates. One bounded
    label×dim partial agg + a |labels|-row driver collect (the k-means
    centroid precedent), then a zero-exchange narrow fold per row —
    n cancels out of the per-row math, so the BIGINT bound holds at any
    corpus size."""
    return S.label_outliers(_emb(spark, sf_dir)).orderBy("vec_id")


ORACLE_LABEL_OUTLIERS = r"""
WITH q AS (
  SELECT vec_id, label::INT AS label,
    list_transform(embedding::DOUBLE[],
                   x -> CAST(floor((x + 1.0) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
dims AS (
  SELECT label, unnest(generate_series(1, 64)) AS dim, qv FROM q
),
sums AS (
  SELECT label, dim, SUM(qv[dim]) AS s, COUNT(*) AS n
  FROM dims GROUP BY label, dim
),
cent AS (
  SELECT label AS clbl, dim, (1000 * s) // n AS c FROM sums
),
pairs AS (
  SELECT q.vec_id, q.label, c.clbl,
    CAST(SUM((1000 * q.qv[c.dim] - c.c) * (1000 * q.qv[c.dim] - c.c))
         AS BIGINT) AS d
  FROM q CROSS JOIN cent c
  GROUP BY q.vec_id, q.label, c.clbl
),
best AS (
  SELECT vec_id, label, clbl, d,
    row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, clbl ASC) AS rn
  FROM pairs
),
own AS (SELECT vec_id, d AS d_own FROM pairs WHERE label = clbl)
SELECT b.vec_id, b.label, b.clbl AS nearest_label, o.d_own,
       b.d AS d_nearest, b.clbl <> b.label AS is_outlier
FROM best b JOIN own o ON o.vec_id = b.vec_id
WHERE b.rn = 1 ORDER BY b.vec_id
"""


def q_token_fertility(spark, sf_dir):
    """Per-language tokenizer-fertility report (T.token_fertility — the
    XLM-R-style per-language token-cost table, arXiv:1911.02116): exact
    BIGINT char/word/subword sums per lang, divided once and rounded.
    One narrow projection + one partial-aggregable groupBy on the bounded
    lang key — the exchange carries |langs| rows at any corpus size."""
    return T.token_fertility(_docs(spark, sf_dir))


ORACLE_TOKEN_FERTILITY = r"""
WITH t AS (
  SELECT lang,
    len(regexp_split_to_array(trim(text), '\s+')) AS nt,
    CAST(floor(length(trim(text)) / 4.0) AS BIGINT) AS ns,
    length(trim(text)) AS nc
  FROM documents
)
SELECT lang, count(*) AS n_docs,
  CAST(SUM(nt) AS BIGINT) AS total_tokens,
  round(SUM(nc) * 1.0 / SUM(nt), 4) AS chars_per_token,
  round(SUM(ns) * 1.0 / SUM(nt), 4) AS subwords_per_token
FROM t GROUP BY lang ORDER BY lang
"""


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training (S.hard_negatives,
    Robinson et al. arXiv:2010.04592): per anchor, the 5 most-similar
    vectors with a DIFFERENT label — cosine_topk_multi's broadcast-batch /
    WindowGroupLimit plan with the label-inequality predicate fused into
    the scoring stage; the shuffle carries |anchors|·k rows at any scale."""
    return S.hard_negatives(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3], k=5)


def q_knn_probe(spark, sf_dir):
    """Leave-one-out 1-NN label agreement (similarity.knn_label_probe) on
    the deterministic md5 anchor sample — the embedding-space sanity probe
    run before trusting the space for semantic dedup or similarity
    filtering. sample_mod scales with the corpus (max(8, n // 256), the
    semantic_dedup k-scaling pattern); the sf0.01 gate sits at the floor
    of 8, matching the oracle's % 8. Broadcast anchors, one narrow corpus
    scoring pass with the double view + norm hoisted out of the pair
    block, WindowGroupLimit argmax, |labels|-row output."""
    return S.knn_label_probe(_emb(spark, sf_dir))


# shared prediction CTEs for the knn probe family (knn_probe / knn_kappa /
# knn_class_report) — the SQL twin of similarity.knn_predictions: `p` is
# the (anchor_id, gold, pred) table over the md5 % 8 anchor sample
_KNN_PRED_CTES = """
e AS (
  SELECT vec_id, label::INT AS label, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, v AS qv
  FROM e WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 4))::BIGINT % 8 = 0
),
s AS (
  SELECT q.anchor_id, q.anchor_label, e.vec_id, e.label,
    round(list_dot_product(v, qv)
          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4)
      AS cos
  FROM e CROSS JOIN q WHERE e.vec_id <> q.anchor_id
),
r AS (
  SELECT anchor_id, anchor_label, label, row_number() OVER (
    PARTITION BY anchor_id ORDER BY cos DESC, vec_id ASC
  ) AS rk FROM s
),
p AS (
  SELECT anchor_id, anchor_label AS gold, label AS pred FROM r WHERE rk = 1
)
"""

ORACLE_KNN_PROBE = f"""
WITH {_KNN_PRED_CTES}
SELECT gold AS label, CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       round(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS agree_rate
FROM p
GROUP BY gold
ORDER BY label
"""


def q_knn_kappa(spark, sf_dir):
    """Cohen's kappa of the 1-NN label predictions against the gold labels
    (similarity.knn_kappa) — the chance-corrected companion to knn_probe:
    with |labels| classes a random predictor already agrees ~1/|labels| of
    the time, so the datasheet reports κ = (po − pe)/(1 − pe) next to the
    raw agreement. Exact BIGINT scaffolding — κ's numerator and
    denominator are (A·n − Σ g_c·p_c) and (n² − Σ g_c·p_c) over exact
    marginal counts; one IEEE division at the end. The corpus-scale work
    is the shared broadcast-anchor prediction pass; everything above it
    touches ≤ |labels| rows, and the output is ONE row."""
    return S.knn_kappa(_emb(spark, sf_dir))


ORACLE_KNN_KAPPA = f"""
WITH {_KNN_PRED_CTES},
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_anchors,
         CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM p
),
g AS (SELECT gold AS cls, CAST(count(*) AS BIGINT) AS ng FROM p GROUP BY gold),
r2 AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS np FROM p GROUP BY pred),
pe AS (
  SELECT CAST(COALESCE(SUM(ng * np), 0) AS BIGINT) AS pe_num
  FROM g JOIN r2 USING (cls)
)
SELECT n_anchors, n_agree,
       round(n_agree * 1.0 / n_anchors, 4) AS po,
       round(pe_num * 1.0 / (n_anchors * n_anchors), 4) AS pe,
       CASE WHEN n_anchors * n_anchors - pe_num <> 0 THEN
         round((n_agree * n_anchors - pe_num) * 1.0
               / (n_anchors * n_anchors - pe_num), 4) END AS kappa
FROM tot CROSS JOIN pe
"""


def q_knn_class_report(spark, sf_dir):
    """Per-class precision/recall/F1 of the 1-NN predictions
    (similarity.knn_class_report) — the classification_report surface for
    the embedding-space probe: knn_probe's per-gold recall plus the
    prediction-side precision, so a class the space over-predicts is
    visible. Exact counts, zero-filled full-outer marginals, F1 computed
    directly as 2·tp/(n_gold + n_pred) (one division, no compounded
    rounding); zero denominators yield NULL. Bounded like knn_kappa —
    the corpus-scale work is the shared prediction pass."""
    return S.knn_class_report(_emb(spark, sf_dir))


ORACLE_KNN_CLASS_REPORT = f"""
WITH {_KNN_PRED_CTES},
g AS (
  SELECT gold AS label, CAST(count(*) AS BIGINT) AS n_gold,
         CAST(SUM(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM p GROUP BY gold
),
r2 AS (SELECT pred AS label, CAST(count(*) AS BIGINT) AS n_pred FROM p GROUP BY pred),
fo AS (
  SELECT label,
         CAST(COALESCE(n_gold, 0) AS BIGINT) AS n_gold,
         CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
         CAST(COALESCE(n_correct, 0) AS BIGINT) AS n_correct
  FROM g FULL OUTER JOIN r2 USING (label)
)
SELECT label, n_gold, n_pred, n_correct,
       CASE WHEN n_pred > 0 THEN round(n_correct * 1.0 / n_pred, 4) END AS "precision",
       CASE WHEN n_gold > 0 THEN round(n_correct * 1.0 / n_gold, 4) END AS recall,
       CASE WHEN n_gold + n_pred > 0
            THEN round(2 * n_correct * 1.0 / (n_gold + n_pred), 4) END AS f1
FROM fo ORDER BY label
"""


ORACLE_HARD_NEGATIVES = """
WITH e AS (
  SELECT vec_id, label::INT AS label, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, v AS qv
  FROM e WHERE vec_id IN (0, 1, 2, 3)
),
s AS (
  SELECT q.anchor_id, q.anchor_label, e.vec_id, e.label,
    round(list_dot_product(v, qv)
          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4)
      AS cos
  FROM e CROSS JOIN q WHERE e.label <> q.anchor_label
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY anchor_id ORDER BY cos DESC, vec_id ASC
  ) AS neg_rank FROM s
)
SELECT anchor_id, anchor_label, vec_id, label, neg_rank, cos
FROM r WHERE neg_rank <= 5
ORDER BY anchor_id, neg_rank
"""


def q_rule_ablation(spark, sf_dir):
    """Filter-ablation accounting (T.rule_ablation): per Gopher rule, how
    many docs fail it and how many fail ONLY it (recoverable by relaxing
    that one threshold), plus the any-rule row. One narrow map + ONE 1-row
    aggregate + a 5-row stack unpivot — no exchange carries more than one
    row of BIGINTs at any corpus size."""
    return T.rule_ablation(_docs(spark, sf_dir))


ORACLE_RULE_ABLATION = rf"""
WITH t AS (
  SELECT doc_id, trim(text) AS tt,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, len(toks) AS n, length(tt) AS tlen,
         len(list_filter(toks, x -> list_contains({_SQL_STOPS['en']}, x))) AS n_stop,
         len(list_distinct(toks)) AS n_uniq
  FROM t
), r AS (
  SELECT doc_id, n AS n_tokens, n_stop,
         round((tlen - (n - 1)) * 1.0 / n, 4) AS mean_word_len,
         round(n_uniq * 1.0 / n, 4) AS uniq_ratio
  FROM m
), f AS (
  SELECT doc_id,
    NOT (n_tokens >= 32 AND n_tokens <= 4096) AS f_len,
    NOT (mean_word_len >= 4.0 AND mean_word_len <= 10.0) AS f_mwl,
    NOT (n_stop >= 2) AS f_stop,
    NOT (uniq_ratio >= 0.35) AS f_uniq
  FROM r
), g AS (
  SELECT *,
    (f_len::INT + f_mwl::INT + f_stop::INT + f_uniq::INT) AS n_fails
  FROM f
), agg AS (
  SELECT count(*) AS n_docs,
    SUM(f_len::INT) AS fail_len,  SUM((f_len  AND n_fails = 1)::INT) AS only_len,
    SUM(f_mwl::INT) AS fail_mwl,  SUM((f_mwl  AND n_fails = 1)::INT) AS only_mwl,
    SUM(f_stop::INT) AS fail_stop, SUM((f_stop AND n_fails = 1)::INT) AS only_stop,
    SUM(f_uniq::INT) AS fail_uniq, SUM((f_uniq AND n_fails = 1)::INT) AS only_uniq,
    SUM((n_fails > 0)::INT) AS fail_any, SUM((n_fails = 1)::INT) AS fail_one
  FROM g
), rows_out AS (
  SELECT 'r_len' AS rule, fail_len AS nf, only_len AS nfo, n_docs FROM agg
  UNION ALL SELECT 'r_mean_wlen', fail_mwl, only_mwl, n_docs FROM agg
  UNION ALL SELECT 'r_stop', fail_stop, only_stop, n_docs FROM agg
  UNION ALL SELECT 'r_uniq', fail_uniq, only_uniq, n_docs FROM agg
  UNION ALL SELECT 'any', fail_any, fail_one, n_docs FROM agg
)
SELECT rule, CAST(nf AS BIGINT) AS n_fail, CAST(nfo AS BIGINT) AS n_fail_only,
       round(nf * 1.0 / n_docs, 4) AS fail_rate
FROM rows_out ORDER BY rule
"""


def q_c4_rules(spark, sf_dir):
    """C4 heuristic filters (T.with_c4_rules, Raffel et al. arXiv:1910.10683
    §2.2) — the other canonical rule family beside gopher_rules, with
    per-rule audit flags. The synthetic corpus is uniform prose, so the
    gate PLANTS deterministic violations: doc_id%4 picks the tail
    (terminal '.', '!', an un-terminated '{x}' brace block, or nothing),
    doc_id%13 injects 'lorem ipsum', doc_id%17 injects 'javascript' —
    every rule fires on a known residue class. Pure narrow map."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 13 == 0, F.lit(" lorem ipsum")).otherwise(F.lit("")),
            F.when(did % 17 == 0, F.lit(" javascript")).otherwise(F.lit("")),
            F.when(did % 4 == 0, F.lit("."))
            .when(did % 4 == 1, F.lit("!"))
            .when(did % 4 == 2, F.lit(" {x}"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        T.with_c4_rules(planted)
        .select(
            "doc_id", "n_tokens", "c_terminal", "c_min_words",
            "c_no_braces", "c_no_lorem", "c_no_badword", "keep",
        )
        .orderBy("doc_id")
    )


ORACLE_C4_RULES = r"""
WITH planted AS (
  SELECT doc_id,
    text
    || (CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum' ELSE '' END)
    || (CASE WHEN doc_id % 17 = 0 THEN ' javascript' ELSE '' END)
    || (CASE doc_id % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
                        WHEN 2 THEN ' {x}' ELSE '' END) AS text
  FROM documents
), r AS (
  SELECT doc_id, trim(text) AS tt, lower(trim(text)) AS low,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM planted
)
SELECT doc_id, n_tokens,
  regexp_matches(tt, '[.!?]["”’]?$') AS c_terminal,
  (n_tokens >= 5) AS c_min_words,
  NOT contains(tt, '{') AS c_no_braces,
  NOT contains(low, 'lorem ipsum') AS c_no_lorem,
  NOT contains(low, 'javascript') AS c_no_badword,
  (regexp_matches(tt, '[.!?]["”’]?$') AND n_tokens >= 5
   AND NOT contains(tt, '{') AND NOT contains(low, 'lorem ipsum')
   AND NOT contains(low, 'javascript')) AS keep
FROM r ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# graph rank / release engineering (round-5 final batch)
# ---------------------------------------------------------------------------

def q_pagerank(spark, sf_dir):
    """PageRank over the host link graph — the crawl-ordering classic (Page
    et al. 1999; Cho/Garcia-Molina use it to prioritize frontiers, and a
    training-data pipeline uses it as a document-level quality prior à la
    Common Crawl's harmonic-centrality ranks). Hosts and links are
    synthesized deterministically from the corpus (host = doc_id % 97, one
    out-link per doc to an md5-derived host), then 3 unrolled power
    iterations with damping 0.85.

    EXACT integer arithmetic end-to-end: ranks live on a micro-unit BIGINT
    grid (r0 = 1e6 per node), each iteration is
    ``150000 + (850 * Σ_src rank DIV out_deg) DIV 1000`` — BIGINT sums are
    order-independent, so the result is bit-identical across partitionings
    and engines (no float accumulation drift).

    Scale shape: the corpus crosses exactly ONE exchange (the distinct over
    (src, dst) host pairs — |V|² bounded output); out-degrees, node set and
    every iteration run on that bounded graph, with the rank side broadcast
    into each join. At 100 TB the iterations cost the same as at 1 GB —
    only the edge-dedup scan scales with the data."""
    n_hosts = 97
    docs = _docs(spark, sf_dir).select("doc_id")
    dst = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % n_hosts
    )
    edges = (
        docs.select((F.col("doc_id") % n_hosts).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    rank = nodes.select("host", F.lit(1000000).cast("bigint").alias("rank"))
    for _ in range(3):
        contrib = (
            edges.join(F.broadcast(rank), edges.src == rank.host)
            .join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("rank DIV deg")).alias("c"))
        )
        rank = (
            nodes.join(F.broadcast(contrib), nodes.host == contrib.dst, "left")
            .select(
                "host",
                (F.lit(150000) + F.expr("850 * coalesce(c, 0L) DIV 1000"))
                .cast("bigint")
                .alias("rank"),
            )
        )
    return (
        rank.join(F.broadcast(deg), rank.host == deg.src, "left")
        .select(
            "host",
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.col("rank").alias("rank_micro"),
        )
        .orderBy(F.desc("rank_micro"), "host")
    )


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    return f"""
c{cur} AS (SELECT e.dst AS host, SUM(r.rank // d.deg) AS c FROM e
       JOIN r{prev} r ON r.host = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
r{cur} AS (SELECT n.host, 150000 + (850 * COALESCE(c{cur}.c, 0)) // 1000 AS rank
       FROM nodes n LEFT JOIN c{cur} ON c{cur}.host = n.host)"""


ORACLE_PAGERANK = (
    """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 97 AS src,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 97 AS dst
    FROM documents
  ) WHERE src <> dst
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM nodes),"""
    + ",".join(_pagerank_iter_sql(i, i + 1) for i in range(3))
    + """
SELECT r3.host, COALESCE(deg.deg, 0) AS out_deg, CAST(r3.rank AS BIGINT) AS rank_micro
FROM r3 LEFT JOIN deg ON deg.src = r3.host
ORDER BY rank_micro DESC, host
"""
)


def q_length_percentiles(spark, sf_dir):
    """Exact per-source length quantiles (p25/p50/p75/p95 of n_chars) —
    the datasheet row a release audit wants EXACT, not sketched. Quantile
    definition is percentile_disc: the value at row ceil(p·n) in (n_chars,
    doc_id) order, computed with pure integer rank math ((p·n + 99) DIV
    100) so both engines agree bit-for-bit — no interpolation, no floats.

    Scale shape: one exchange on source (the per-group sort the exact
    definition requires), then a combinable per-source fold; output is
    |sources| rows. At 100 TB the exact variant is the audit tool — the
    in-pipeline path would switch to percentile_approx (KLL sketch,
    documented error bound) and avoid the per-group sort entirely."""
    d = _docs(spark, sf_dir).select("source", "doc_id", "n_chars")
    picks = {"p25": 25, "p50": 50, "p75": 75, "p95": 95}
    return exact_percentiles(
        d, ["source"], ["n_chars", "doc_id"], "n_chars", picks, "n_docs"
    ).orderBy("source")


ORACLE_LENGTH_PERCENTILES = """
WITH d AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       max(CASE WHEN rn = (25 * n + 99) // 100 THEN n_chars END) AS p25,
       max(CASE WHEN rn = (50 * n + 99) // 100 THEN n_chars END) AS p50,
       max(CASE WHEN rn = (75 * n + 99) // 100 THEN n_chars END) AS p75,
       max(CASE WHEN rn = (95 * n + 99) // 100 THEN n_chars END) AS p95
FROM d GROUP BY source ORDER BY source
"""


def q_temperature_mix(spark, sf_dir):
    """Temperature-based language sampling (the multilingual alpha-sampling
    of mBERT/XLM-R, alpha = 0.5): upsample tail languages, downsample the
    head — weight_l ∝ p_l^0.5, renormalized. The data-DERIVED complement of
    mixture_resample's prescribed targets.

    Float discipline: p = n_l/N and sqrt(p) are correctly-rounded IEEE ops
    (identical on both engines), then the weight is quantized to a BIGINT
    grid (floor(√p · 1e9)) BEFORE the normalizing sum — integer sums are
    order-independent, so the normalization constant can't drift with
    partitioning. Ratios are rounded before output per the parity rules.

    Scale shape: one combinable groupBy on the ≤|langs| key, two 1-row
    broadcasts (N, Σw) — the corpus crosses one partial-agg exchange."""
    c = (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = c.agg(F.sum("n").alias("nn"))
    w = (
        c.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("n") / F.col("nn"))
        .withColumn("wq", F.floor(F.sqrt(F.col("p")) * F.lit(1e9)).cast("bigint"))
    )
    ws = w.agg(F.sum("wq").alias("wsum"))
    return (
        w.crossJoin(F.broadcast(ws))
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.round("p", 6).alias("p_natural"),
            F.round(F.col("wq") / F.col("wsum"), 6).alias("weight"),
            F.round(
                F.round(F.col("wq") / F.col("wsum"), 6) / F.round(F.col("p"), 6), 4
            ).alias("boost"),
        )
        .orderBy("lang")
    )


ORACLE_TEMPERATURE_MIX = """
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
tot AS (SELECT SUM(n) AS nn FROM c),
w AS (SELECT lang, n, CAST(floor(sqrt(n * 1.0 / tot.nn) * 1e9) AS BIGINT) AS wq,
             n * 1.0 / tot.nn AS p
      FROM c, tot),
ws AS (SELECT SUM(wq) AS wsum FROM w)
SELECT w.lang, w.n AS n_docs, round(w.p, 6) AS p_natural,
       round(w.wq * 1.0 / ws.wsum, 6) AS weight,
       round(round(w.wq * 1.0 / ws.wsum, 6) / round(w.p, 6), 4) AS boost
FROM w, ws ORDER BY w.lang
"""


def q_train_test_split(spark, sf_dir):
    """Deterministic train/valid/test split with a leakage audit — the
    release-engineering gate before any corpus ships: split by an md5(id)
    hash (80/10/10, reproducible regardless of row order or partition
    count), then count documents whose opening FINGERPRINT (md5 of the
    first 40 chars — the boilerplate-prefix channel, since the synthetic
    corpus has no full-text dups) also appears in a DIFFERENT split:
    train→eval leakage that would inflate benchmark numbers.

    Scale shape: the split is a narrow map; the audit crosses one exchange
    on the prefix hash (same key as exact dedup, so the same AQE skew
    handling applies to boilerplate mega-keys), then a bounded
    (source × split) rollup."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % 100
    )
    d = _docs(spark, sf_dir).select(
        "source",
        "n_chars",
        F.md5(F.substring("text", 1, 40)).alias("h"),
        F.when(bucket < 10, "test").when(bucket < 20, "valid").otherwise("train")
        .alias("split"),
    )
    hs = d.groupBy("h").agg(F.countDistinct("split").alias("ns"))
    return (
        d.join(hs, "h")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked"),
        )
        .orderBy("source", "split")
    )


ORACLE_TRAIN_TEST_SPLIT = """
WITH d AS (
  SELECT source, n_chars, md5(substr(text, 1, 40)) AS h,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 100 < 10
                THEN 'test'
              WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 100 < 20
                THEN 'valid'
              ELSE 'train' END AS split
  FROM documents
),
hs AS (SELECT h, count(DISTINCT split) AS ns FROM d GROUP BY h)
SELECT d.source, d.split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS n_chars_total,
       CAST(SUM(CASE WHEN hs.ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
FROM d JOIN hs ON hs.h = d.h
GROUP BY d.source, d.split ORDER BY d.source, d.split
"""


def q_bpe_pair_stats(spark, sf_dir):
    """First iteration of BPE merge learning (Sennrich et al. 2016): the
    corpus-wide adjacent character-pair frequency scan that picks merge
    candidates — top-10 [a-z] pairs per language. A tokenizer-training
    pipeline runs exactly this count over the full corpus before each
    merge round.

    Scale shape: the explode is a NARROW map (one row per character
    position) feeding a partial agg that collapses into the ≤ 26²·|langs|
    key space map-side — the exchange moves at most 676 rows per language
    per task regardless of corpus size. The top-10 window runs on that
    bounded table. Deterministic tie-break: count desc, pair asc."""
    # single-file table ⇒ single scan partition; spread the explode work
    # (the knn_probe/fingerprint precedent — at 100 TB the scan has
    # thousands of splits and this respread disappears)
    t = (
        _docs(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .filter(F.length("text") >= 2)
        .select("lang", F.lower(F.col("text")).alias("s"))
    )
    pairs = t.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))")
        ).alias("pair"),
    ).filter(F.col("pair").rlike("^[a-z]{2}$"))
    c = pairs.groupBy("lang", "pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "pair")
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("lang", F.col("rnk").cast("int").alias("rnk"), "pair", "cnt")
        .orderBy("lang", "rnk")
    )


ORACLE_BPE_PAIR_STATS = """
WITH t AS (SELECT lang, lower(text) AS s FROM documents WHERE length(text) >= 2),
p AS (SELECT lang, substr(s, CAST(i AS INT), 2) AS pair
      FROM t, UNNEST(generate_series(1, length(s) - 1)) AS u(i)),
c AS (SELECT lang, pair, CAST(count(*) AS BIGINT) AS cnt FROM p
      WHERE regexp_matches(pair, '^[a-z]{2}$') GROUP BY lang, pair),
r AS (SELECT lang, pair, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS rnk
      FROM c)
SELECT lang, CAST(rnk AS INT) AS rnk, pair, cnt FROM r WHERE rnk <= 10
ORDER BY lang, rnk
"""


def q_ann_recall(spark, sf_dir):
    """Recall@k curve of the IVF index against the brute-force ground truth
    — 'measure, don't guess' applied to the engine's own ANN path (the
    Faiss-style recall sweep every index deployment publishes before
    trusting approximate search for semantic dedup). For k = 1..10:
    |top-k(brute) ∩ top-k(ivf)| / k, both sides ranked by the shared
    (cos desc, vec_id) tie-break. Measured at nprobe = 1 — the TIGHTEST
    operating point, where the approximation actually loses candidates
    (nprobe = 4's curve is flat 1.0 at this corpus size and would gate
    nothing).

    Scale shape: both inputs are k-row results of already-bounded queries;
    every window/join here touches ≤ k rows. The corpus-scale work lives
    in the two underlying operators, each independently oracle-gated —
    this operator is their composition, so the gate checks the compose
    plumbing, not re-derives the search."""
    brute = S.cosine_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)
    ivf = S.ivf_topk(_emb(spark, sf_dir), query_vec_id=0, k=10, n_cells=16, nprobe=1)
    w = Window.orderBy(F.desc("cos"), "vec_id")
    rb = brute.select("vec_id", F.row_number().over(w).alias("rb"))
    ri = ivf.select("vec_id", F.row_number().over(w).alias("ri"))
    m = rb.join(ri, "vec_id").select(F.greatest("rb", "ri").alias("rmax"))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    return (
        ks.join(F.broadcast(m), m.rmax <= ks.k, "left")
        .groupBy("k")
        .agg(F.count("rmax").cast("bigint").alias("n_hits"))
        .withColumn("recall", F.round(F.col("n_hits") / F.col("k"), 4))
        .orderBy("k")
    )


ORACLE_ANN_RECALL = f"""
WITH brute AS ({ORACLE_COSINE_TOPK}),
ivf AS ({_ivf_topk_sql(1)}),
rb AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS r FROM brute),
ri AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS r FROM ivf),
m AS (SELECT greatest(rb.r, ri.r) AS rmax FROM rb JOIN ri USING (vec_id)),
ks AS (SELECT unnest(generate_series(1, 10)) AS k)
SELECT CAST(ks.k AS INT) AS k,
       CAST(count(m.rmax) AS BIGINT) AS n_hits,
       round(count(m.rmax) * 1.0 / ks.k, 4) AS recall
FROM ks LEFT JOIN m ON m.rmax <= ks.k
GROUP BY ks.k ORDER BY k
"""

QUANT_LEVELS = 7  # int4 — coarse enough to actually lose candidates at sf0.01


def q_quantization_recall(spark, sf_dir):
    """Recall@k of scalar-quantized retrieval against the float32 brute
    force — ann_recall's index-compression twin (the Faiss SQ sweep every
    deployment runs before shipping a compressed vector index): for
    k = 1..10, |top-k(float) ∩ top-k(quantized)| / k, both sides ranked by
    the shared (cos desc, vec_id) tie-break. Measured at int4
    (levels = 7) — the operating point where quantization actually loses
    candidates; int8's curve is flat 1.0 at this corpus size and would
    gate nothing. Both inputs are k-row bounded query results; the
    corpus-scale work lives in the two underlying scans."""
    brute = S.cosine_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)
    quant = S.quantized_topk(
        _emb(spark, sf_dir), query_vec_id=0, k=10, levels=QUANT_LEVELS
    )
    w = Window.orderBy(F.desc("cos"), "vec_id")
    rb = brute.select("vec_id", F.row_number().over(w).alias("rb"))
    rq = quant.select("vec_id", F.row_number().over(w).alias("rq"))
    m = rb.join(rq, "vec_id").select(F.greatest("rb", "rq").alias("rmax"))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    return (
        ks.join(F.broadcast(m), m.rmax <= ks.k, "left")
        .groupBy("k")
        .agg(F.count("rmax").cast("bigint").alias("n_hits"))
        .withColumn("recall", F.round(F.col("n_hits") / F.col("k"), 4))
        .orderBy("k")
    )


ORACLE_QUANTIZATION_RECALL = f"""
WITH brute AS ({ORACLE_COSINE_TOPK}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM e),
q8 AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(round(x * {QUANT_LEVELS}.0 / s, 0) AS BIGINT)) AS q
  FROM sc WHERE s > 0
),
qn AS (
  SELECT vec_id, q, sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[])) AS n
  FROM q8 WHERE sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[])) > 0
),
qq AS (SELECT q AS qv, n AS qvn FROM qn WHERE vec_id = 0),
i8 AS (
  SELECT vec_id,
         round(list_dot_product(q::DOUBLE[], qv::DOUBLE[]) / (n * qvn), 4) AS cos
  FROM qn, qq WHERE vec_id <> 0
  ORDER BY cos DESC, vec_id ASC LIMIT 10
),
rb AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS r FROM brute),
rq AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS r FROM i8),
m AS (SELECT greatest(rb.r, rq.r) AS rmax FROM rb JOIN rq USING (vec_id)),
ks AS (SELECT unnest(generate_series(1, 10)) AS k)
SELECT CAST(ks.k AS INT) AS k,
       CAST(count(m.rmax) AS BIGINT) AS n_hits,
       round(count(m.rmax) * 1.0 / ks.k, 4) AS recall
FROM ks LEFT JOIN m ON m.rmax <= ks.k
GROUP BY ks.k ORDER BY k
"""


def q_column_profile(spark, sf_dir):
    """Deequ-style column profiling over the corpus table (Schelter et al.,
    VLDB 2018): per column — non-null count, exact distinct count,
    completeness and uniqueness ratios. The data-quality snapshot a
    pipeline records before and after every transformation.

    Scale shape: ONE aggregate computes every per-column metric in a
    single corpus pass (count + countDistinct per column share the scan);
    the stack unpivot runs on the 1-row result. Exact distinct counts are
    the audit variant — the in-pipeline profile at 100 TB swaps in
    approx_count_distinct (HLL) and keeps the same output contract."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    one = _docs(spark, sf_dir).agg(*aggs)
    stack = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return (
        one.select(
            "n",
            F.expr(
                f"stack({len(cols)}, {stack}) AS (column_name, n_nonnull, n_distinct)"
            ),
        )
        .select(
            "column_name",
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("n_nonnull").cast("bigint").alias("n_nonnull"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.round(F.col("n_nonnull") / F.col("n"), 6).alias("completeness"),
            F.round(F.col("n_distinct") / F.col("n"), 6).alias("uniqueness"),
        )
        .orderBy("column_name")
    )


ORACLE_COLUMN_PROFILE = """
WITH a AS (
  SELECT count(*) AS n,
         count(doc_id) AS nn_doc_id, count(DISTINCT doc_id) AS nd_doc_id,
         count(text) AS nn_text, count(DISTINCT text) AS nd_text,
         count(lang) AS nn_lang, count(DISTINCT lang) AS nd_lang,
         count(source) AS nn_source, count(DISTINCT source) AS nd_source,
         count(n_chars) AS nn_n_chars, count(DISTINCT n_chars) AS nd_n_chars
  FROM documents
),
u AS (
  SELECT 'doc_id' AS column_name, nn_doc_id AS nn, nd_doc_id AS nd, n FROM a
  UNION ALL SELECT 'text', nn_text, nd_text, n FROM a
  UNION ALL SELECT 'lang', nn_lang, nd_lang, n FROM a
  UNION ALL SELECT 'source', nn_source, nd_source, n FROM a
  UNION ALL SELECT 'n_chars', nn_n_chars, nd_n_chars, n FROM a
)
SELECT column_name, CAST(n AS BIGINT) AS n_rows, CAST(nn AS BIGINT) AS n_nonnull,
       CAST(nd AS BIGINT) AS n_distinct,
       round(nn * 1.0 / n, 6) AS completeness,
       round(nd * 1.0 / n, 6) AS uniqueness
FROM u ORDER BY column_name
"""


def q_quality_checks(spark, sf_dir):
    """Deequ-style constraint verification (the VerificationSuite analog):
    a fixed check table the release pipeline asserts before shipping —
    doc_id uniqueness, text/lang completeness, a length floor, the
    language allowlist, and the n_chars = length(text) cross-field
    consistency contract. Output: (check, metric, threshold, passed).

    Scale shape: ONE 1-row corpus aggregate feeds a 6-row stack unpivot —
    the same single-pass shape as rule_ablation; nothing but the scan
    grows with the data."""
    d = _docs(spark, sf_dir)
    langs = ["de", "en", "es", "fr", "zh"]
    one = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("nd_id"),
        F.count("text").alias("n_text"),
        F.count("lang").alias("n_lang"),
        F.min("n_chars").alias("min_chars"),
        F.sum(F.when(F.col("lang").isin(langs), 1).otherwise(0)).alias("n_lang_ok"),
        F.sum(
            F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0)
        ).alias("n_consist"),
    )
    stack = """stack(6,
        'chars_consistency', round(n_consist / cast(n as double), 6),
        'completeness_lang', round(n_lang / cast(n as double), 6),
        'completeness_text', round(n_text / cast(n as double), 6),
        'lang_allowlist', round(n_lang_ok / cast(n as double), 6),
        'min_length', round(cast(least(min_chars, 1) as double), 6),
        'uniqueness_doc_id', round(nd_id / cast(n as double), 6)
    ) AS (check_name, metric)"""
    return (
        one.select(F.expr(stack))
        .withColumn("threshold", F.lit(1.0))
        .withColumn("passed", F.col("metric") >= F.col("threshold"))
        .orderBy("check_name")
    )


ORACLE_QUALITY_CHECKS = """
WITH a AS (
  SELECT count(*) AS n, count(DISTINCT doc_id) AS nd_id,
         count(text) AS n_text, count(lang) AS n_lang,
         min(n_chars) AS min_chars,
         SUM(CASE WHEN lang IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END)
           AS n_lang_ok,
         SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS n_consist
  FROM documents
),
u AS (
  SELECT 'chars_consistency' AS check_name, round(n_consist * 1.0 / n, 6) AS metric FROM a
  UNION ALL SELECT 'completeness_lang', round(n_lang * 1.0 / n, 6) FROM a
  UNION ALL SELECT 'completeness_text', round(n_text * 1.0 / n, 6) FROM a
  UNION ALL SELECT 'lang_allowlist', round(n_lang_ok * 1.0 / n, 6) FROM a
  UNION ALL SELECT 'min_length', round(CAST(least(min_chars, 1) AS DOUBLE), 6) FROM a
  UNION ALL SELECT 'uniqueness_doc_id', round(nd_id * 1.0 / n, 6) FROM a
)
SELECT check_name, metric, 1.0 AS threshold, metric >= 1.0 AS passed
FROM u ORDER BY check_name
"""


def q_corpus_diff(spark, sf_dir):
    """Release-to-release corpus diff — the datasheet table answering
    'what changed between v1 and v2 of the dataset': per source, documents
    unchanged / modified (same id, different content hash) / removed /
    added. v2 is derived deterministically from v1 (drop doc_id % 31,
    revise text of doc_id % 17, add a % 13 clone set at id + 1e6) so both
    engines diff the identical pair — the batch analog of the crawler's
    CDC change tables, lifted to whole-corpus release auditing.

    Scale shape: the diff is ONE id-keyed full outer join moving (id,
    source, md5) triples — payloads never shuffle (hashes compare for
    them); the rollup is |sources|-bounded. At 100 TB both sides are
    id-bucketed parquet, so the join co-locates without an exchange."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    v2_kept = docs.filter(F.col("doc_id") % 31 != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    v2_added = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit(" [new]")).alias("text"),
    )
    v1 = docs.select("doc_id", F.col("source").alias("src1"), F.md5("text").alias("h1"))
    v2 = (
        v2_kept.unionByName(v2_added)
        .select("doc_id", F.col("source").alias("src2"), F.md5("text").alias("h2"))
    )
    j = v1.join(v2, "doc_id", "full_outer").select(
        F.coalesce("src1", "src2").alias("source"),
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") == F.col("h2"), "unchanged")
        .otherwise("modified")
        .alias("st"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.sum(F.when(F.col("st") == "unchanged", 1).otherwise(0))
            .cast("bigint").alias("n_unchanged"),
            F.sum(F.when(F.col("st") == "modified", 1).otherwise(0))
            .cast("bigint").alias("n_modified"),
            F.sum(F.when(F.col("st") == "removed", 1).otherwise(0))
            .cast("bigint").alias("n_removed"),
            F.sum(F.when(F.col("st") == "added", 1).otherwise(0))
            .cast("bigint").alias("n_added"),
        )
        .orderBy("source")
    )


ORACLE_CORPUS_DIFF = """
WITH v1 AS (SELECT doc_id, source AS src1, md5(text) AS h1 FROM documents),
v2 AS (
  SELECT doc_id, source AS src2,
         md5(CASE WHEN doc_id % 17 = 0 THEN text || ' [rev2]' ELSE text END) AS h2
  FROM documents WHERE doc_id % 31 <> 0
  UNION ALL
  SELECT doc_id + 1000000, source, md5(text || ' [new]')
  FROM documents WHERE doc_id % 13 = 0
),
j AS (
  SELECT COALESCE(src1, src2) AS source,
         CASE WHEN h1 IS NULL THEN 'added'
              WHEN h2 IS NULL THEN 'removed'
              WHEN h1 = h2 THEN 'unchanged'
              ELSE 'modified' END AS st
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT source,
       CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
       CAST(SUM(CASE WHEN st = 'modified' THEN 1 ELSE 0 END) AS BIGINT) AS n_modified,
       CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added
FROM j GROUP BY source ORDER BY source
"""


def q_daily_anomaly(spark, sf_dir):
    """Day-over-day volume anomaly detection on the event stream — the
    monitoring rollup a pipeline runs to catch ingest regressions (a
    crawler stall, a source going dark, a bot flood): per event type, days
    whose count deviates from the type's mean by more than 2σ.

    The 2σ test is EXACT INTEGER arithmetic: |c − S/n| > 2σ with
    σ² = (nQ − S²)/n² rearranges to (c·n − S)² > 4(nQ − S²) — counts,
    sums and squared sums are all BIGINTs, so the verdict is bit-identical
    across engines and partitionings (no float variance drift). At
    petabyte-scale counts the squares would outgrow BIGINT — the guard
    would move to DECIMAL(38) or an approximate float z with a documented
    tolerance; at any realistic per-day event count it's exact.

    The (type × day) grid is DENSIFIED before the stats pass (shared
    :func:`pegasus_spark.analytics.reports.volume_anomaly_flags` core,
    also serving the crawl-side fetch_volume_anomaly): a type that
    produced NOTHING on a day gets a zero row — a complete outage must
    flag, and a missing row can neither hide it nor bias n/mean/σ.

    Scale shape: one combinable (type, day) groupBy, a bounded
    types × days grid join, one |types|-row stats rollup broadcast
    back — bounded exchanges only."""
    from pegasus_spark.analytics.reports import volume_anomaly_flags

    ev = _events(spark, sf_dir).select(
        "event_type", F.to_date("ts").alias("day")
    )
    return volume_anomaly_flags(ev, "event_type", "day")


ORACLE_DAILY_ANOMALY = """
WITH c AS (SELECT event_type, ts::DATE AS day, CAST(count(*) AS BIGINT) AS n_events
           FROM events GROUP BY event_type, ts::DATE),
d AS (SELECT t.event_type, p.day,
             CAST(COALESCE(c.n_events, 0) AS BIGINT) AS n_events
      FROM (SELECT DISTINCT event_type FROM c) t
      CROSS JOIN (SELECT DISTINCT day FROM c) p
      LEFT JOIN c USING (event_type, day)),
s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, SUM(n_events) AS sc,
             SUM(n_events * n_events) AS q
      FROM d GROUP BY event_type)
SELECT d.event_type, d.day, d.n_events,
       round(s.sc * 1.0 / s.n, 4) AS mean_events,
       (d.n_events * s.n - s.sc) * (d.n_events * s.n - s.sc)
         > 4 * (s.n * s.q - s.sc * s.sc) AS is_anomaly
FROM d JOIN s USING (event_type)
ORDER BY d.event_type, d.day
"""


def q_stickiness(spark, sf_dir):
    """DAU / WAU₇ engagement ratio per day — the product-analytics KPI
    (stickiness: what share of the week's active users showed up today)
    over the event stream, reported for every observed day with exact
    distinct-user counts. Head days carry partial trailing windows (the
    standard convention — day 3's WAU₇ sees only days 1-3).

    Scale shape: one distinct to (user, day) pairs, then the trailing
    window is an EXPLODE, not a theta join — each user-day contributes
    itself to the 7 days it keeps active, so the fan-out is a fixed 7×
    on the deduped pairs and the count is a combinable groupBy; no
    per-day range scan of the whole activity table. Observed-day inner
    join drops phantom days past the stream's end. dau/wau is one IEEE
    division of exact BIGINTs rounded once."""
    ud = (
        _events(spark, sf_dir)
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("day"),
    ).distinct()
    wau = contrib.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("wau7")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau7",
            F.round(F.col("dau") / F.col("wau7"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


ORACLE_STICKINESS = """
WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
contrib AS (
  SELECT DISTINCT user_id, CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                       INTERVAL 1 DAY)) AS DATE) AS day
  FROM ud
),
wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau7 FROM contrib GROUP BY day)
SELECT dau.day, dau.dau, wau.wau7,
       round(dau.dau * 1.0 / wau.wau7, 4) AS stickiness
FROM dau JOIN wau USING (day)
ORDER BY day
"""


def q_text_normalize(spark, sf_dir):
    """Whitespace normalization — the first preprocessing ACTION of every
    text pipeline (C4/Gopher normalize before filtering): collapse
    space/tab runs to single spaces and trim. The gate PLANTS deterministic
    mess (doubled spaces on doc_id % 7, a tab-wrapped variant on % 11 —
    the synthetic corpus is already clean, so unplanted input would make
    the normalizer a no-op and gate nothing). Output: per doc, whether
    normalization changed it, how many chars it saved, and the md5 of the
    normalized text (the content identity downstream dedup keys on).

    Scale shape: a pure NARROW map — regex replace + trim + md5, zero
    exchanges; the pattern ([ \\t]+) behaves identically under Java regex
    and RE2 (the pii_scrub discipline)."""
    planted = F.when(
        F.col("doc_id") % 7 == 0, F.replace(F.col("text"), F.lit(" "), F.lit("  "))
    ).otherwise(F.col("text"))
    planted = F.when(
        F.col("doc_id") % 11 == 0, F.concat(F.lit("\t"), planted, F.lit(" "))
    ).otherwise(planted)
    d = _docs(spark, sf_dir).select("doc_id", planted.alias("raw"))
    norm = F.trim(F.regexp_replace("raw", "[ \\t]+", " "))
    return (
        d.select(
            "doc_id",
            (F.col("raw") != norm).alias("changed"),
            (F.length("raw") - F.length(norm)).cast("bigint").alias("chars_saved"),
            F.md5(norm).alias("norm_md5"),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_NORMALIZE = r"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN chr(9) ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN replace(text, ' ', '  ') ELSE text END
         || CASE WHEN doc_id % 11 = 0 THEN ' ' ELSE '' END AS raw
  FROM documents
),
n AS (SELECT doc_id, raw, trim(regexp_replace(raw, '[ \t]+', ' ', 'g')) AS norm
      FROM planted)
SELECT doc_id, raw <> norm AS changed,
       CAST(length(raw) - length(norm) AS BIGINT) AS chars_saved,
       md5(norm) AS norm_md5
FROM n ORDER BY doc_id
"""


def q_stratified_sample(spark, sf_dir):
    """Exact-k stratified sampling: 5 documents per source, chosen by
    md5(doc_id || ':sample') order — the eval-set construction primitive
    (a fixed-size, reproducible, order/partitioning/engine-invariant
    uniform draw per stratum; the exact-k complement of source_mix's
    rate-based md5-threshold sampling).

    Scale shape: the rn ≤ k filter over the per-source hash window
    compiles to WindowGroupLimit — Spark pushes the limit into the sort,
    so each task keeps a k-row heap per source instead of sorting its
    partition; one exchange on source, k·|sources| rows out."""
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select(
            "source",
            "doc_id",
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample"))).alias("h"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", F.col("rnk").cast("int").alias("rnk"), "doc_id")
        .orderBy("source", "rnk")
    )


ORACLE_STRATIFIED_SAMPLE = """
WITH d AS (
  SELECT source, doc_id, md5(doc_id::VARCHAR || ':sample') AS h FROM documents
),
r AS (SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
      FROM d)
SELECT source, CAST(rnk AS INT) AS rnk, doc_id FROM r WHERE rnk <= 5
ORDER BY source, rnk
"""


def q_props_stats(spark, sf_dir):
    """Semi-structured extraction over the event stream's JSON `props`
    column — the schema-on-read rollup every event warehouse runs
    (get_json_object path extraction → typed aggregate), and the one
    column of the test corpus nothing else touches. Per event type: count,
    exact integer sum/min/max of the extracted `k`, its mean, and the
    share of high-k (≥ 90) events.

    Scale shape: the JSON parse is a NARROW map (Jackson inside codegen —
    no UDF); the aggregate is one combinable groupBy on the ≤|types| key.
    At 100 TB the parse cost is the scan itself; a hot path would
    materialize the extracted column once (or land props as a typed
    struct) rather than re-parse per query."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        _events(spark, sf_dir)
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("k") / F.count(F.lit(1)), 4).alias("mean_k"),
            F.round(
                F.sum(F.when(F.col("k") >= 90, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("high_k_share"),
        )
        .orderBy("event_type")
    )


ORACLE_PROPS_STATS = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       round(SUM(k) * 1.0 / count(*), 4) AS mean_k,
       round(SUM(CASE WHEN k >= 90 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS high_k_share
FROM e GROUP BY event_type ORDER BY event_type
"""


def q_triangle_count(spark, sf_dir):
    """Per-host triangle participation over the synthesized host link
    graph — the distributed graph-analytics classic (Suri & Vassilvitskii,
    WWW 2011: triangle counts drive clustering-coefficient / spam-farm
    detection on web graphs). Same deterministic edge synthesis as
    `pagerank`; triangles are enumerated once each via the a<b<c
    orientation (two equality self-joins on the oriented edge list), then
    each triangle credits its three corners.

    Scale shape: the corpus crosses ONE exchange (the shared (src,dst)
    distinct); orientation, both self-joins and the corner explode run on
    the |E|-bounded (≤ |V|²) edge table with broadcast joins. On a real
    web graph the joins shuffle on vertex id and the oriented a<b<c form
    is exactly the shuffle-minimizing strategy (each triangle computed
    once, not six times)."""
    n_hosts = 97
    docs = _docs(spark, sf_dir).select("doc_id")
    dst = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % n_hosts
    )
    und = (
        docs.select((F.col("doc_id") % n_hosts).alias("s"), dst.alias("t"))
        .filter(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
        .distinct()
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(F.broadcast(e2), "y").join(F.broadcast(e3), ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .orderBy("host")
    )


ORACLE_TRIANGLE_COUNT = """
WITH d AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 97 AS src,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 97 AS dst
    FROM documents
  ) WHERE src <> dst
),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM d),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1 JOIN und e2 ON e2.a = e1.b
       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS host FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
)
SELECT host, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY host ORDER BY host
"""


def q_conversion_latency(spark, sf_dir):
    """Time-to-conversion distribution — the product-analytics rollup that
    rides on `funnel`'s strictly-ordered chain: for every user who
    completed view → click → purchase in order, the microseconds from
    first view to first (chain-valid) purchase, summarized as exact
    percentile_disc p25/p50/p75/p95 (length_percentiles' integer rank
    math) plus the exact-integer mean.

    Scale shape: the funnel chain is three user-keyed min-aggregates on
    one partitioning; the percentile window then orders only CONVERTED
    users — a small fraction of the corpus (here 10⁻¹ of users; on a real
    funnel 10⁻²-10⁻³), so the single-group sort is over the funnel's
    bottleneck set, not the event stream."""
    micros = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.expr(micros).alias("t")
    )
    a = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("t").alias("ta")
    )
    b = (
        ev.filter(F.col("event_type") == "click")
        .join(a, "user_id")
        .filter(F.col("t") > F.col("ta"))
        .groupBy("user_id")
        .agg(F.min("t").alias("tb"), F.first("ta").alias("ta"))
    )
    c = (
        ev.filter(F.col("event_type") == "purchase")
        .join(b, "user_id")
        .filter(F.col("t") > F.col("tb"))
        .groupBy("user_id")
        .agg(F.min("t").alias("tc"), F.first("ta").alias("ta"))
    )
    lat = c.select("user_id", (F.col("tc") - F.col("ta")).alias("lat"))
    picks = {"p25_us": 25, "p50_us": 50, "p75_us": 75, "p95_us": 95}
    return exact_percentiles(
        lat, [], ["lat", "user_id"], "lat", picks, "n_converted",
        F.round(F.sum("lat") / F.count(F.lit(1)), 4).alias("mean_us"),
    )


ORACLE_CONVERSION_LATENCY = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
a AS (SELECT user_id, MIN(t) AS ta FROM ev WHERE event_type = 'view' GROUP BY user_id),
b AS (
  SELECT e.user_id, MIN(e.t) AS tb, MIN(a.ta) AS ta
  FROM ev e JOIN a ON a.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.t > a.ta GROUP BY e.user_id
),
c AS (
  SELECT e.user_id, MIN(e.t) AS tc, MIN(b.ta) AS ta
  FROM ev e JOIN b ON b.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.t > b.tb GROUP BY e.user_id
),
lat AS (SELECT user_id, tc - ta AS lat FROM c),
r AS (SELECT lat, row_number() OVER (ORDER BY lat, user_id) AS rn,
             count(*) OVER () AS n
      FROM lat)
SELECT CAST(max(n) AS BIGINT) AS n_converted,
       max(CASE WHEN rn = (25 * n + 99) // 100 THEN lat END) AS p25_us,
       max(CASE WHEN rn = (50 * n + 99) // 100 THEN lat END) AS p50_us,
       max(CASE WHEN rn = (75 * n + 99) // 100 THEN lat END) AS p75_us,
       max(CASE WHEN rn = (95 * n + 99) // 100 THEN lat END) AS p95_us,
       round(SUM(lat) * 1.0 / count(*), 4) AS mean_us
FROM r
"""


def q_source_lang_cube(spark, sf_dir):
    """CUBE grouping sets over (source, lang) — the all-marginals
    datasheet table (per-cell, per-source, per-lang, and grand totals) in
    ONE pass: the warehouse classic multires_rollup's ROLLUP ladder
    doesn't cover (CUBE emits the lang marginals a rollup drops).
    GROUPING() flags disambiguate real NULL keys from subtotal rows; the
    label columns coalesce to '(all)'.

    Scale shape: Spark compiles CUBE to one Expand (4 replicas per input
    row) feeding a single partial-aggregable exchange on the ≤
    (|sources|+1)·(|langs|+1) key space — one shuffle buys every
    marginal; computing the four groupings separately would scan the
    corpus four times."""
    d = _docs(spark, sf_dir)
    return (
        d.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
            F.grouping("source").cast("int").alias("g_source"),
            F.grouping("lang").cast("int").alias("g_lang"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "g_source",
            "g_lang",
            "n_docs",
            "n_chars_total",
        )
        .orderBy("g_source", "g_lang", "source", "lang")
    )


ORACLE_SOURCE_LANG_CUBE = """
SELECT COALESCE(source, '(all)') AS source, COALESCE(lang, '(all)') AS lang,
       CAST(GROUPING(source) AS INT) AS g_source,
       CAST(GROUPING(lang) AS INT) AS g_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
FROM documents GROUP BY CUBE (source, lang)
ORDER BY g_source, g_lang, source, lang
"""


def q_lang_pivot(spark, sf_dir):
    """Language-mix pivot: one row per source, one column per language —
    the wide-format datasheet every release README embeds. Spark's
    pivot() with an EXPLICIT value list (the implicit form adds a
    distinct-values collect job and makes the schema data-dependent —
    never acceptable in a pipeline contract); the oracle is the
    equivalent conditional-sum spread.

    Scale shape: pivot-with-values compiles to the same single
    combinable groupBy as the conditional sums — one exchange on source,
    |sources| rows out, no second pass for the column set."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .pivot("lang", ["de", "en", "es", "fr", "zh"])
        .agg(F.count(F.lit(1)))
        .select(
            "source",
            *[
                F.coalesce(F.col(l), F.lit(0)).cast("bigint").alias(l)
                for l in ["de", "en", "es", "fr", "zh"]
            ],
        )
        .withColumn(
            "total",
            sum(F.col(l) for l in ["de", "en", "es", "fr", "zh"]).cast("bigint"),
        )
        .orderBy("source")
    )


ORACLE_LANG_PIVOT = """
SELECT source,
  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh,
  CAST(count(*) AS BIGINT) AS total
FROM documents GROUP BY source ORDER BY source
"""


def q_key_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnosis — 'know your hot keys before you
    shuffle on them': the top-10 heaviest paragraph keys with their share
    and cumulative share of total key mass. This is the report that
    justifies every AQE-skew-split / salted-window decision in this repo
    (paragraph_dedup's groupBy-not-window choice, the salted planners):
    run it first, and the banner-boilerplate mega-key shows up as ~1/4 of
    the corpus mass concentrated in ONE key. Uses paragraph_dedup's
    planted layout (banner corpus-wide, promo per doc_id%5 class, unique
    text + tail) so the skew is real and known.

    Scale shape: the paragraph explode is narrow; the count groupBy
    partial-aggs (the mega-key collapses map-side — the same property
    that makes the dedup safe); the top-10 is TakeOrdered over aggregated
    rows and the share/cum windows see 10 rows."""
    docs = _docs(spark, sf_dir)
    nl = F.lit("\n")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("banner: one corpus-wide boilerplate paragraph"), nl,
            F.col("text"), nl,
            F.lit("promo-"), (F.col("doc_id") % 5).cast("string"), nl,
            F.lit("tail-"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    counts = (
        planted.select(
            F.explode(F.split("text", "\n")).alias("para")
        )
        .select(F.md5("para").alias("key_md5"))
        .groupBy("key_md5")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )
    total = counts.agg(F.sum("n_occurrences").alias("nn"))
    w = Window.orderBy(F.desc("n_occurrences"), "key_md5")
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            "key_md5",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("nn"), 6).alias("share"),
            F.round(
                F.sum("n_occurrences").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                / F.col("nn"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("rnk")
    )


ORACLE_KEY_SKEW_REPORT = """
WITH planted AS (
  SELECT 'banner: one corpus-wide boilerplate paragraph'
         || chr(10) || text
         || chr(10) || 'promo-' || (doc_id % 5)::VARCHAR
         || chr(10) || 'tail-' || doc_id::VARCHAR AS text
  FROM documents
),
p AS (SELECT md5(unnest(string_split(text, chr(10)))) AS key_md5 FROM planted),
c AS (SELECT key_md5, CAST(count(*) AS BIGINT) AS n_occurrences FROM p GROUP BY key_md5),
t AS (SELECT SUM(n_occurrences) AS nn FROM c),
r AS (
  SELECT key_md5, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, key_md5) AS rnk,
         SUM(n_occurrences) OVER (ORDER BY n_occurrences DESC, key_md5
                                  ROWS UNBOUNDED PRECEDING) AS cum
  FROM c
)
SELECT CAST(r.rnk AS INT) AS rnk, r.key_md5, r.n_occurrences,
       round(r.n_occurrences * 1.0 / t.nn, 6) AS share,
       round(r.cum * 1.0 / t.nn, 6) AS cum_share
FROM r, t WHERE r.rnk <= 10 ORDER BY rnk
"""


PIPELINE_QUERIES = {
    "token_stats": q_token_stats,
    "doc_quality": q_doc_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_fingerprint,
    "exact_dedup": q_exact_dedup,
    "minhash_near_dup": q_minhash_near_dup,
    "minhash_accuracy": q_minhash_accuracy,
    "minhash_threshold_sweep": q_minhash_threshold_sweep,
    "near_dup_clusters": q_near_dup_clusters,
    "cluster_density": q_cluster_density,
    "shingle_df_histogram": q_shingle_df_histogram,
    "dup_quality_gap": q_dup_quality_gap,
    "hits_scores": q_hits_scores,
    "k_anonymity": q_k_anonymity,
    "bigram_logprob": q_bigram_logprob,
    "cross_modal_clusters": q_cross_modal_clusters,
    "dedup_keepers": q_dedup_keepers,
    "curated_corpus": q_curated_corpus,
    "dropped_docs": q_dropped_docs,
    "simhash": q_simhash,
    "simhash_near_dup": q_simhash_near_dup,
    "ngram_jaccard": q_ngram_jaccard,
    "cosine_topk": q_cosine_topk,
    "cosine_topk_multi": q_cosine_topk_multi,
    "embedding_near_dup": q_embedding_near_dup,
    "curation_pipeline": q_curation_pipeline,
    "ann_topk": q_ann_topk,
    "ivf_topk": q_ivf_topk,
    "decontaminate": q_decontaminate,
    "fuzzy_decontaminate": q_fuzzy_decontaminate,
    "contamination_report": q_contamination_report,
    "index_dedup": q_index_dedup,
    "source_overlap": q_source_overlap,
    "length_histogram": q_length_histogram,
    "vocab_stats": q_vocab_stats,
    "ngram_topk": q_ngram_topk,
    "pmi_bigrams": q_pmi_bigrams,
    "vocab_coverage": q_vocab_coverage,
    "pareto_docs": q_pareto_docs,
    "resolution_histogram": q_resolution_histogram,
    "dup_audit_sample": q_dup_audit_sample,
    "doc_repetition": q_doc_repetition,
    "source_mix": q_source_mix,
    "kmeans_clusters": q_kmeans_clusters,
    "cluster_silhouette": q_cluster_silhouette,
    "gopher_rules": q_gopher_rules,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bm25_topk": q_bm25_topk,
    "dup_rate_by_source": q_dup_rate_by_source,
    "pack_shards": q_pack_shards,
    "pack_shards_salted": q_pack_shards_salted,
    "pack_manifest": q_pack_manifest,
    "mixture_resample": q_mixture_resample,
    "epoch_schedule": q_epoch_schedule,
    "threshold_sweep": q_threshold_sweep,
    "cluster_split": q_cluster_split,
    "semantic_dedup": q_semantic_dedup,
    "unigram_logprob": q_unigram_logprob,
    "dup_span_stats": q_dup_span_stats,
    "ppl_buckets": q_ppl_buckets,
    "dsir_weights": q_dsir_weights,
    "span_scrub": q_span_scrub,
    "pii_scrub": q_pii_scrub,
    "line_dedup": q_line_dedup,
    "image_rules": q_image_rules,
    "clip_filter": q_clip_filter,
    "image_decontaminate": q_image_decontaminate,
    "ratio_bucket_plan": q_ratio_bucket_plan,
    "ratio_bucket_plan_salted": q_ratio_bucket_plan_salted,
    "ratio_bucket_stats": q_ratio_bucket_stats,
    "augmentation_plan": q_augmentation_plan,
    "frame_sample_plan": q_frame_sample_plan,
    "audio_chunk_plan": q_audio_chunk_plan,
    "image_shard_plan": q_image_shard_plan,
    "phash_near_dup": q_phash_near_dup,
    "phash_clusters": q_phash_clusters,
    "phash_keepers": q_phash_keepers,
    "image_dedup_savings": q_image_dedup_savings,
    "cluster_size_histogram": q_cluster_size_histogram,
    "embedding_dispersion": q_embedding_dispersion,
    "corpus_datacard": q_corpus_datacard,
    "aesthetic_score": q_aesthetic_score,
    "clip_aesthetic_grid": q_clip_aesthetic_grid,
    "sequence_pack": q_sequence_pack,
    "sequence_pack_ranged": q_sequence_pack_ranged,
    "paragraph_dedup": q_paragraph_dedup,
    "label_outliers": q_label_outliers,
    "token_fertility": q_token_fertility,
    "hard_negatives": q_hard_negatives,
    "knn_probe": q_knn_probe,
    "knn_kappa": q_knn_kappa,
    "knn_class_report": q_knn_class_report,
    "rule_ablation": q_rule_ablation,
    "c4_rules": q_c4_rules,
    "pagerank": q_pagerank,
    "length_percentiles": q_length_percentiles,
    "temperature_mix": q_temperature_mix,
    "train_test_split": q_train_test_split,
    "bpe_pair_stats": q_bpe_pair_stats,
    "ann_recall": q_ann_recall,
    "quantization_recall": q_quantization_recall,
    "column_profile": q_column_profile,
    "quality_checks": q_quality_checks,
    "corpus_diff": q_corpus_diff,
    "daily_anomaly": q_daily_anomaly,
    "stickiness": q_stickiness,
    "text_normalize": q_text_normalize,
    "stratified_sample": q_stratified_sample,
    "props_stats": q_props_stats,
    "triangle_count": q_triangle_count,
    "conversion_latency": q_conversion_latency,
    "source_lang_cube": q_source_lang_cube,
    "lang_pivot": q_lang_pivot,
    "key_skew_report": q_key_skew_report,
}

PIPELINE_ORACLES = {
    "token_stats": ORACLE_TOKEN_STATS,
    "doc_quality": ORACLE_DOC_QUALITY,
    "lang_id": ORACLE_LANG_ID,
    "doc_fingerprint": ORACLE_FINGERPRINT,
    "exact_dedup": ORACLE_EXACT_DEDUP,
    "minhash_near_dup": ORACLE_MINHASH_NEAR_DUP,
    "minhash_accuracy": ORACLE_MINHASH_ACCURACY,
    "minhash_threshold_sweep": ORACLE_MINHASH_THRESHOLD_SWEEP,
    "near_dup_clusters": ORACLE_NEAR_DUP_CLUSTERS,
    "cluster_density": ORACLE_CLUSTER_DENSITY,
    "shingle_df_histogram": ORACLE_SHINGLE_DF_HISTOGRAM,
    "dup_quality_gap": ORACLE_DUP_QUALITY_GAP,
    "hits_scores": ORACLE_HITS_SCORES,
    "k_anonymity": ORACLE_K_ANONYMITY,
    "bigram_logprob": ORACLE_BIGRAM_LOGPROB,
    "cross_modal_clusters": ORACLE_CROSS_MODAL_CLUSTERS,
    "dedup_keepers": ORACLE_DEDUP_KEEPERS,
    "curated_corpus": ORACLE_CURATED_CORPUS,
    "dropped_docs": ORACLE_DROPPED_DOCS,
    "simhash": ORACLE_SIMHASH,
    "simhash_near_dup": ORACLE_SIMHASH_NEAR_DUP,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "cosine_topk": ORACLE_COSINE_TOPK,
    "cosine_topk_multi": ORACLE_COSINE_TOPK_MULTI,
    "embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
    "curation_pipeline": ORACLE_CURATION_PIPELINE,
    "ann_topk": ORACLE_ANN_TOPK,
    "ivf_topk": ORACLE_IVF_TOPK,
    "decontaminate": ORACLE_DECONTAMINATE,
    "fuzzy_decontaminate": ORACLE_FUZZY_DECONTAMINATE,
    "contamination_report": ORACLE_CONTAMINATION_REPORT,
    "index_dedup": ORACLE_INDEX_DEDUP,
    "source_overlap": ORACLE_SOURCE_OVERLAP,
    "length_histogram": ORACLE_LENGTH_HISTOGRAM,
    "vocab_stats": ORACLE_VOCAB_STATS,
    "ngram_topk": ORACLE_NGRAM_TOPK,
    "pmi_bigrams": ORACLE_PMI_BIGRAMS,
    "vocab_coverage": ORACLE_VOCAB_COVERAGE,
    "pareto_docs": ORACLE_PARETO_DOCS,
    "resolution_histogram": ORACLE_RESOLUTION_HISTOGRAM,
    "dup_audit_sample": ORACLE_DUP_AUDIT_SAMPLE,
    "doc_repetition": ORACLE_DOC_REPETITION,
    "source_mix": ORACLE_SOURCE_MIX,
    "kmeans_clusters": ORACLE_KMEANS_CLUSTERS,
    "cluster_silhouette": ORACLE_CLUSTER_SILHOUETTE,
    "gopher_rules": ORACLE_GOPHER_RULES,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "bm25_topk": ORACLE_BM25_TOPK,
    "dup_rate_by_source": ORACLE_DUP_RATE_BY_SOURCE,
    "pack_shards": ORACLE_PACK_SHARDS,
    "pack_shards_salted": ORACLE_PACK_SHARDS_SALTED,
    "pack_manifest": ORACLE_PACK_MANIFEST,
    "mixture_resample": ORACLE_MIXTURE_RESAMPLE,
    "epoch_schedule": ORACLE_EPOCH_SCHEDULE,
    "threshold_sweep": ORACLE_THRESHOLD_SWEEP,
    "cluster_split": ORACLE_CLUSTER_SPLIT,
    "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "unigram_logprob": ORACLE_UNIGRAM_LOGPROB,
    "dup_span_stats": ORACLE_DUP_SPAN_STATS,
    "ppl_buckets": ORACLE_PPL_BUCKETS,
    "dsir_weights": ORACLE_DSIR_WEIGHTS,
    "span_scrub": ORACLE_SPAN_SCRUB,
    "pii_scrub": ORACLE_PII_SCRUB,
    "line_dedup": ORACLE_LINE_DEDUP,
    "image_rules": ORACLE_IMAGE_RULES,
    "clip_filter": ORACLE_CLIP_FILTER,
    "image_decontaminate": ORACLE_IMAGE_DECONTAMINATE,
    "ratio_bucket_plan": ORACLE_RATIO_BUCKET_PLAN,
    "ratio_bucket_plan_salted": ORACLE_RATIO_BUCKET_PLAN_SALTED,
    "ratio_bucket_stats": ORACLE_RATIO_BUCKET_STATS,
    "augmentation_plan": ORACLE_AUGMENTATION_PLAN,
    "frame_sample_plan": ORACLE_FRAME_SAMPLE_PLAN,
    "audio_chunk_plan": ORACLE_AUDIO_CHUNK_PLAN,
    "image_shard_plan": ORACLE_IMAGE_SHARD_PLAN,
    "phash_near_dup": ORACLE_PHASH_NEAR_DUP,
    "phash_clusters": ORACLE_PHASH_CLUSTERS,
    "phash_keepers": ORACLE_PHASH_KEEPERS,
    "image_dedup_savings": ORACLE_IMAGE_DEDUP_SAVINGS,
    "cluster_size_histogram": ORACLE_CLUSTER_SIZE_HISTOGRAM,
    "embedding_dispersion": ORACLE_EMBEDDING_DISPERSION,
    "corpus_datacard": ORACLE_CORPUS_DATACARD,
    "aesthetic_score": ORACLE_AESTHETIC_SCORE,
    "clip_aesthetic_grid": ORACLE_CLIP_AESTHETIC_GRID,
    "sequence_pack": ORACLE_SEQUENCE_PACK,
    "sequence_pack_ranged": ORACLE_SEQUENCE_PACK,
    "paragraph_dedup": ORACLE_PARAGRAPH_DEDUP,
    "label_outliers": ORACLE_LABEL_OUTLIERS,
    "token_fertility": ORACLE_TOKEN_FERTILITY,
    "hard_negatives": ORACLE_HARD_NEGATIVES,
    "knn_probe": ORACLE_KNN_PROBE,
    "knn_kappa": ORACLE_KNN_KAPPA,
    "knn_class_report": ORACLE_KNN_CLASS_REPORT,
    "rule_ablation": ORACLE_RULE_ABLATION,
    "c4_rules": ORACLE_C4_RULES,
    "pagerank": ORACLE_PAGERANK,
    "length_percentiles": ORACLE_LENGTH_PERCENTILES,
    "temperature_mix": ORACLE_TEMPERATURE_MIX,
    "train_test_split": ORACLE_TRAIN_TEST_SPLIT,
    "bpe_pair_stats": ORACLE_BPE_PAIR_STATS,
    "ann_recall": ORACLE_ANN_RECALL,
    "quantization_recall": ORACLE_QUANTIZATION_RECALL,
    "column_profile": ORACLE_COLUMN_PROFILE,
    "quality_checks": ORACLE_QUALITY_CHECKS,
    "corpus_diff": ORACLE_CORPUS_DIFF,
    "daily_anomaly": ORACLE_DAILY_ANOMALY,
    "stickiness": ORACLE_STICKINESS,
    "text_normalize": ORACLE_TEXT_NORMALIZE,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "props_stats": ORACLE_PROPS_STATS,
    "triangle_count": ORACLE_TRIANGLE_COUNT,
    "conversion_latency": ORACLE_CONVERSION_LATENCY,
    "source_lang_cube": ORACLE_SOURCE_LANG_CUBE,
    "lang_pivot": ORACLE_LANG_PIVOT,
    "key_skew_report": ORACLE_KEY_SKEW_REPORT,
}
