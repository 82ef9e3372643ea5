"""Text analysis operators: token counting, quality scoring, language-ID,
document fingerprinting (SURVEY-adjacent training-data ops).

Everything here is a Catalyst expression chain — no Python in the plan — and
every formula is chosen to be *bit-reproducible in ANSI SQL* so the DuckDB
oracle can recompute it exactly (the driver's correctness gate hashes
values). That constrains the design: md5 (identical hex in Spark/DuckDB)
instead of murmur, closed-form mean-word-length instead of float reductions,
explicit CASE chains with fixed tie-break order for language-ID.

Scale notes: all operators are narrow (per-row projections) — zero shuffle,
full whole-stage codegen; they run at 100 TB as a mapper fused into the scan.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from pegasus_spark.operators import ordered_prefix

# language marker stopwords — tiny fixed sets; the SQL oracles build their
# list literals from these. Order of the argmax CASE chain is part of the
# contract.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is", "to"],
    "de": ["der", "die", "das", "und", "ist", "zu"],
    "es": ["el", "los", "las", "es", "y", "que"],
    "fr": ["le", "la", "les", "et", "est", "que"],
}


# with_quality's score weights: length, non-stopword share, mean word
# length. The SQL oracles that mirror the scorer are built from these too.
QUALITY_W_LENGTH = 0.5
QUALITY_W_NONSTOP = 0.3
QUALITY_W_WORDLEN = 0.2


def tokens_col(text_col: str = "text") -> Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


def word_grams(text_col: str = "text", n: int = 3, clamp: bool = True) -> Column:
    """Word n-grams as an array<string> column — the single source for every
    gram-based operator (ngram Jaccard, decontamination, repetition), so a
    tokenization change lands in one place (each SQL oracle mirrors this
    construction; keep them in lockstep).

    ``clamp=True`` (the dedup convention): a doc shorter than n tokens still
    yields one (short) gram — sequence(1, greatest(size-n+1, 1)).
    ``clamp=False``: an EMPTY array for docs shorter than n tokens. (The
    guard is load-bearing: sequence(1, hi) with hi < 1 DESCENDS, producing
    index 0, and slice() raises at runtime — the expression must be total
    because Catalyst may evaluate it before a caller's length filter.)"""
    toks = tokens_col(text_col)
    hi = F.size(toks) - F.lit(n - 1)
    if clamp:
        hi = F.greatest(hi, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(hi, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    if clamp:
        return grams
    return F.when(hi >= 1, grams).otherwise(F.array().cast("array<string>"))


def with_token_count(df: DataFrame) -> DataFrame:
    """Whitespace tokenization + a BPE-ish subword estimate (≈ chars/4,
    the common rule-of-thumb; kept as an exact integer formula so the SQL
    twin matches)."""
    # floor, not a double→int cast: Spark ANSI truncates that cast while
    # DuckDB rounds it — floor is unambiguous on both engines
    return df.withColumn("n_tokens", F.size(tokens_col())).withColumn(
        "n_subwords_est", F.floor(F.length(F.trim(F.col("text"))) / F.lit(4)).cast("int")
    )


def with_quality(df: DataFrame) -> DataFrame:
    """Quality scoring: length, mean word length (closed form — single-space
    join ⇒ (chars - (n-1)) / n), stopword ratio, punctuation ratio; combined
    score rounded to 4 dp."""
    toks = tokens_col()
    n = F.size(toks)
    stop_lit = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_lit, x)))
    tlen = F.length(F.trim(F.col("text")))
    mean_wlen = (tlen - (n - F.lit(1))) / n
    punct = (
        tlen - F.length(F.regexp_replace(F.trim(F.col("text")), r"[.,!?;:]", ""))
    ) / tlen
    score = (
        F.least(n / F.lit(64.0), F.lit(1.0)) * F.lit(QUALITY_W_LENGTH)
        + (F.lit(1.0) - F.least(n_stop / n, F.lit(1.0))) * F.lit(QUALITY_W_NONSTOP)
        + F.least(mean_wlen / F.lit(8.0), F.lit(1.0)) * F.lit(QUALITY_W_WORDLEN)
    )
    return (
        df.withColumn("n_tokens", n)
        .withColumn("stop_ratio", F.round(n_stop / n, 4))
        .withColumn("mean_word_len", F.round(mean_wlen, 4))
        .withColumn("punct_ratio", F.round(punct, 4))
        .withColumn("quality", F.round(score, 4))
    )


def vocab_stats(df: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-source vocabulary datasheet — the Heaps/Zipf summary a corpus
    release publishes beside length_histogram: token occurrences, distinct
    vocabulary size, hapax legomena (frequency-1 words — the figure that
    says whether a source is genuinely diverse or template spam), the
    type-token ratio, hapax share, and the dominant word. Words are the
    repo's whitespace tokens, lowercased; ties on the dominant word break
    lexicographically.

    Scale shape: the token explode is narrow; the (group, word) count is
    partial-aggregable — the Zipf head collapses map-side precisely
    because it's hot — and every later stage reads one row per DISTINCT
    (group, word), not per occurrence. The rollup and the dominant-word
    WindowGroupLimit both key on group, and the output is |groups| rows.
    At 100 TB the (group, word) exchange is the vocabulary size
    (10⁶-10⁷ rows/group), not the corpus."""
    words = df.select(
        group_col, F.explode(tokens_col()).alias("_w0")
    ).filter(F.col("_w0") != "").select(
        group_col, F.lower(F.col("_w0")).alias("w")
    )
    c = words.groupBy(group_col, "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    per = c.groupBy(group_col).agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.sum((F.col("cnt") == 1).cast("int")).cast("bigint").alias("n_hapax"),
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.asc("w"))
    top = (
        c.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            group_col,
            F.col("w").alias("top_word"),
            F.col("cnt").alias("top_word_cnt"),
        )
    )
    return (
        per.join(F.broadcast(top), group_col)
        .select(
            group_col,
            "n_tokens",
            "n_vocab",
            "n_hapax",
            F.round(F.col("n_vocab") / F.col("n_tokens"), 4).alias("ttr"),
            F.round(F.col("n_hapax") / F.col("n_vocab"), 4).alias("hapax_share"),
            "top_word",
            "top_word_cnt",
        )
        .orderBy(group_col)
    )


def pmi_bigrams(
    df: DataFrame, min_count: int = 3, topk: int = 20, text_col: str = "text",
) -> DataFrame:
    """Top-``topk`` bigram collocations by pointwise mutual information —
    the classic Church & Hanks (1990) association table a corpus release
    publishes to surface multi-word expressions ("new york") vs chance
    co-occurrence. Words are the repo's lowercased whitespace tokens;
    bigrams come from the shared ``word_grams`` construction (n=2,
    clamp=False).

    PMI is reported as an exact BIGINT lift on the 10⁶ grid:
    ``lift_micro = c_xy·N·10⁶ DIV (c_x·c_y)`` where N is the total token
    count — the monotone exp of PMI, so the ranking is the PMI ranking
    without a cross-engine log(). At sf gates the triple product stays
    far under 2⁶³; a 100 TB corpus (N≈10¹³) would overflow it, so the
    production variant computes the same grid as DECIMAL(38,0) — the
    formula is division-free until the final DIV either way.

    Scale shape: the unigram and bigram counts are both map-side partial
    aggregates whose exchanges are vocabulary-sized (the Zipf head
    collapses in the partial stage). Bigrams below ``min_count`` are
    dropped BEFORE the two word-keyed joins against the unigram table, so
    the join input is the frequent-bigram set, not the full cross
    vocabulary; stopword hot keys are AQE skew-split. The top-k is a
    TakeOrderedAndProject with a full lexical tie-break."""
    words = df.select(F.explode(tokens_col(text_col)).alias("_w0")).filter(
        F.col("_w0") != ""
    ).select(F.lower(F.col("_w0")).alias("w"))
    uni = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    total = uni.agg(F.sum("c_w").cast("bigint").alias("_n"))
    bi = (
        df.select(F.explode(word_grams(text_col, n=2, clamp=False)).alias("_g0"))
        .select(F.lower(F.col("_g0")).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
        .select(
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
            "c_xy",
        )
    )
    return (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            F.expr("(c_xy * _n * 1000000) DIV (c_x * c_y)").alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), F.asc("w1"), F.asc("w2"))
        .limit(topk)
    )


def vocab_coverage(
    df: DataFrame, vocab_size: int = 1000, group_col: str = "source",
) -> DataFrame:
    """Tokenizer-coverage audit: per source, the share of token
    occurrences that fall OUTSIDE the corpus-wide top-``vocab_size``
    vocabulary — the out-of-vocabulary rate a fixed-vocab tokenizer
    would pay on each source, plus the distinct OOV type count. High
    OOV on one source flags script/domain mismatch before training.

    Scale shape: ONE (group, word) partial aggregate feeds both paths —
    the global vocabulary (a second, group-collapsing agg over distinct
    words, then a TakeOrdered of ``vocab_size`` rows with a lexical
    tie-break) and the per-source rollup. The vocab is broadcast back as
    a left join (null flag = OOV), so the corpus-sized token stream is
    touched exactly once and every post-explode exchange is
    vocabulary-sized. Output is |groups| rows."""
    words = df.select(
        group_col, F.explode(tokens_col()).alias("_w0")
    ).filter(F.col("_w0") != "").select(
        group_col, F.lower(F.col("_w0")).alias("w")
    )
    gw = words.groupBy(group_col, "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    vocab = (
        gw.groupBy("w")
        .agg(F.sum("cnt").cast("bigint").alias("_c"))
        .orderBy(F.desc("_c"), F.asc("w"))
        .limit(vocab_size)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    flagged = gw.join(F.broadcast(vocab), "w", "left")
    return (
        flagged.groupBy(group_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_oov"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov_types"),
        )
        .select(
            group_col,
            "n_tokens",
            "n_oov",
            "n_oov_types",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy(group_col)
    )


def pareto_frontier(
    df: DataFrame, x_col: str, y_col: str, id_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline) over (x, y) — the rows no other row
    weakly dominates (x' ≥ x ∧ y' ≥ y with one strict). The curation
    question "which docs are best for their length" is this skyline over
    (quality, n_tokens); the naive formulation is an O(n²) dominance
    self-join, and Spark would execute its inequality condition as a
    BroadcastNestedLoopJoin — never acceptable.

    Plan: (1) collapse to DISTINCT (x, y) points — frontier membership is
    a property of the point, and the distinct bounds every later stage by
    the value grid, not the row count; (2) the classic sweep: in
    (x DESC, y DESC) order a point is on the frontier iff the running max
    of y over STRICTLY earlier points is < y (an equal-x predecessor has
    larger y and dominates; an earlier-x predecessor dominates iff its
    y ≥ y); (3) join winners back to the rows by (x, y).

    The sweep's running max is ``operators.ordered_prefix``'s exclusive
    max, floored at -1 for the first point: y must be a non-negative
    integer. With no size given it takes the ranged form, so no
    single-partition window at any corpus size."""
    pts = df.select(x_col, y_col).distinct()
    frontier = (
        ordered_prefix(
            pts, [F.desc(x_col), F.desc(y_col)], "_mx", value=y_col, agg="max",
            exclusive=True, n_partitions=n_partitions,
        )
        .filter(F.coalesce("_mx", F.lit(-1)) < F.col(y_col))
        .select(x_col, y_col)
    )
    return (
        df.join(frontier, [x_col, y_col], "left_semi")
        .select(id_col, x_col, y_col)
        .orderBy(F.desc(x_col), F.desc(y_col), F.asc(id_col))
    )


def bm25_topk(
    df: DataFrame, query_terms: list[str], k: int = 10,
    k1: float = 1.2, b: float = 0.75,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """BM25 lexical retrieval — top-k documents for a fixed query term set
    (Robertson & Zaragoza 2009; the Lucene/Elasticsearch scoring the QA
    tooling around a corpus release runs: find the docs a benchmark
    question's keywords hit before embedding search existed). idf uses the
    non-negative Lucene variant ln(1 + (N − df + 0.5)/(df + 0.5)).

    Parity discipline: the only transcendental is one ln per QUERY TERM,
    quantized once to floor(idf·10⁶) BIGINT in the 1-row stats frame (the
    unigram_logprob discipline — a cross-engine ulp flips the floor with
    probability ~1e-10); each (doc, term) contribution then floors the
    idf·tf-saturation product onto the same micro grid, so the per-doc
    score is an exact BIGINT sum and the top-k order (score desc, id asc)
    cannot drift. tf, dl, df, N are exact integers; avgdl is one IEEE
    division both engines perform identically.

    Scale shape: the corpus NEVER shuffles — tf per term and dl are
    narrow array expressions fused into the scan (no token explode for a
    |query|-term probe), the (N, Σdl, df_t) stats are ONE map-side-
    combinable 1-row aggregate broadcast back, and the top-k is a
    TakeOrderedAndProject. At 100 TB this is one streaming pass."""
    toks = F.transform(tokens_col(text_col), F.lower)

    def _tf(term: str):
        # single-arg lambda is LOAD-BEARING: a second parameter (even a
        # defaulted one) makes F.filter pass the element INDEX into it
        lit = F.lit(term)
        return F.size(F.filter(toks, lambda x: x == lit)).cast("bigint")

    base = df.select(
        id_col,
        F.size(toks).cast("bigint").alias("_dl"),
        *[_tf(t).alias(f"_tf{i}") for i, t in enumerate(query_terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_dl").cast("bigint").alias("_sdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("int")).cast("bigint").alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    ).select(
        "_n",
        (F.col("_sdl") / F.col("_n")).alias("_avgdl"),
        *[
            F.floor(
                F.log(
                    F.lit(1.0)
                    + (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5))
                    / (F.col(f"_df{i}") + F.lit(0.5))
                )
                * 1_000_000
            ).cast("bigint").alias(f"_idf{i}")
            for i in range(len(query_terms))
        ],
    )
    contrib = [
        F.floor(
            F.col(f"_idf{i}")
            * (F.col(f"_tf{i}") * F.lit(k1 + 1.0))
            / (
                F.col(f"_tf{i}")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
            )
        ).cast("bigint")
        for i in range(len(query_terms))
    ]
    hits = sum(
        (F.col(f"_tf{i}") > 0).cast("int") for i in range(len(query_terms))
    )
    score_micro = sum(contrib[1:], contrib[0])
    return (
        base.crossJoin(F.broadcast(stats))
        .select(
            id_col,
            score_micro.alias("_sm"),
            hits.cast("int").alias("n_hit_terms"),
        )
        .filter(F.col("n_hit_terms") > 0)
        .orderBy(F.desc("_sm"), F.asc(id_col))
        .limit(k)
        .select(
            id_col,
            F.round(F.col("_sm") / F.lit(1_000_000.0), 4).alias("score"),
            "n_hit_terms",
        )
        .orderBy(F.desc("score"), F.asc(id_col))
    )


def ngram_topk(
    df: DataFrame, n: int = 3, topk: int = 20,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Corpus-wide most-common word n-grams — the WIMBD headline table
    (Elazar et al. 2024, "What's In My Big Data?"): for the top-``topk``
    n-grams by occurrence count, the count, the document frequency, and
    the share of all n-gram occurrences. The table that surfaces template
    boilerplate ("click here to subscribe") before it dominates training.
    Grams come from the shared ``word_grams`` construction (clamp=False —
    a doc shorter than n tokens contributes nothing), lowercased.

    Scale shape: the gram explode is narrow; the first aggregate keys on
    (gram, doc) — a doc's repeated grams collapse MAP-side because the
    explode keeps them in one partition — and the second on gram alone,
    so the big exchange is vocabulary-sized (distinct (gram, doc) pairs),
    never occurrence-sized. The top-k is a TakeOrderedAndProject (per-
    partition heap + driver merge of topk·|parts| rows), NOT a global
    sort; the total for the share column is a 1-row broadcast. Ties break
    lexicographically on the gram."""
    grams = df.select(
        id_col, F.explode(word_grams(text_col, n=n, clamp=False)).alias("_g0")
    ).select(id_col, F.lower(F.col("_g0")).alias("gram"))
    per_doc = grams.groupBy("gram", id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    counts = per_doc.groupBy("gram").agg(
        F.sum("_c").cast("bigint").alias("cnt"),
        F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("_tot"))
    return (
        counts.orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(topk)
        .crossJoin(F.broadcast(total))
        .select(
            "gram",
            "cnt",
            "doc_freq",
            F.round(F.col("cnt") / F.col("_tot"), 6).alias("share"),
        )
        .orderBy(F.desc("cnt"), F.asc("gram"))
    )


def compression_ratio(
    df: DataFrame, level: int = 6, tau_repetitive: float = 0.3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Compressibility quality signal — the zlib-ratio heuristic of the
    Gopher / CCNet / RedPajama pipelines: DEFLATE the utf-8 bytes at a
    fixed level and report compressed/raw. Text that compresses far below
    the prose band (~0.4-0.6) is repetitive boilerplate (keyword stuffing,
    template spam, degenerate generation loops) that token-level rules
    miss; ratio < ``tau_repetitive`` flags it.

    Engine shape: raw size is JVM-side octet_length and the ratio/flag are
    Catalyst — the ONLY Python is one Arrow-batched pandas_udf computing
    len(zlib.compress(...)) per row (the UDFs-are-the-slow-path rule:
    DEFLATE is genuinely inexpressible in built-in functions, so exactly
    that scalar crosses the Arrow boundary and nothing else does). Zero
    exchanges — a pure narrow map at any corpus size.

    Verification: pytest replays the exact compressed sizes with the same
    zlib (tests/test_textops.py) — NOT oracle-gated, because the size is a
    zlib-build constant (deterministic on a given cluster image) rather
    than an engine-portable algebraic value DuckDB could recompute; the
    streaming_sessions / image_near_dups precedent."""
    import zlib

    @F.pandas_udf("long")
    def _zlen(s: pd.Series) -> pd.Series:
        return s.map(lambda t: len(zlib.compress(t.encode("utf-8"), level)))

    raw = F.octet_length(F.col(text_col))
    ratio = F.col("n_zip_bytes") / F.col("n_raw_bytes")
    return (
        df.select(
            id_col,
            raw.cast("bigint").alias("n_raw_bytes"),
            _zlen(F.col(text_col)).alias("n_zip_bytes"),
        )
        .select(
            id_col,
            "n_raw_bytes",
            "n_zip_bytes",
            F.when(F.col("n_raw_bytes") > 0, F.round(ratio, 4)).alias("zip_ratio"),
            F.when(
                F.col("n_raw_bytes") > 0, F.round(ratio, 4) < F.lit(tau_repetitive)
            ).otherwise(F.lit(False)).alias("is_repetitive"),
        )
    )


def with_lang_guess(df: DataFrame) -> DataFrame:
    """n-gram/stopword heuristic language-ID. Deterministic argmax with a
    fixed precedence (en > de > es > fr) mirrored in the oracle CASE chain."""
    toks = tokens_col()

    def contains(lit):
        # single-arg lambda builder: a default-arg lambda would have arity 2
        # and PySpark would bind the second param to the array INDEX
        return lambda x: F.array_contains(lit, x)

    scores = {}
    for lang, words in LANG_MARKERS.items():
        lit = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, contains(lit)))
    s = scores
    guess = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en"
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    out = df
    for lang in LANG_MARKERS:
        out = out.withColumn(f"hits_{lang}", scores[lang])
    return out.withColumn("lang_guess", guess)


def with_gopher_rules(df: DataFrame) -> DataFrame:
    """Gopher-style document-quality rule filter (Rae et al. 2021, table A1
    adapted to this corpus's whitespace-token text): each rule is a separate
    boolean column so a pipeline can audit WHICH rule dropped a doc, and
    ``keep`` is their conjunction.

    - ``r_len``: 32 ≤ n_tokens ≤ 4096 (Gopher uses 50..100k words; bounds
      scaled to the synthetic corpus so the rule is non-vacuous at test SF)
    - ``r_mean_wlen``: 4.0 ≤ mean word length ≤ 10.0 (closed form, 4 dp)
    - ``r_stop``: ≥ 2 hits from the English stop list (LANG_MARKERS)
    - ``r_uniq``: distinct-token fraction ≥ 0.35 (repetition guard — the
      cheap narrow cousin of doc_repetition's gram-level duplication)

    Scale: pure per-row projections — zero shuffle, fused into the scan."""
    toks = tokens_col()
    n = F.size(toks)
    stop_lit = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_lit, x)))
    mwl = F.round((F.length(F.trim(F.col("text"))) - (n - F.lit(1))) / n, 4)
    uniq = F.round(F.size(F.array_distinct(toks)) / n, 4)
    r_len = (n >= 32) & (n <= 4096)
    r_mwl = (mwl >= 4.0) & (mwl <= 10.0)
    r_stop = n_stop >= 2
    r_uniq = uniq >= 0.35
    return (
        df.withColumn("n_tokens", n)
        .withColumn("mean_word_len", mwl)
        .withColumn("uniq_ratio", uniq)
        .withColumn("r_len", r_len)
        .withColumn("r_mean_wlen", r_mwl)
        .withColumn("r_stop", r_stop)
        .withColumn("r_uniq", r_uniq)
        .withColumn("keep", r_len & r_mwl & r_stop & r_uniq)
    )


def with_fingerprint(df: DataFrame, k: int = 8) -> DataFrame:
    """Document fingerprint: minimum md5 over all k-char rolling windows
    (winnowing-style rolling-hash fingerprint; min over the full window set).
    md5-hex string min matches SQL's varchar MIN ordering."""
    # dynamic-start substring needs the expr form (F.substring takes only
    # literal positions)
    return df.withColumn(
        "fingerprint",
        F.expr(
            f"array_min(transform(sequence(1, greatest(length(trim(text)) - {k - 1}, 1)), "
            f"i -> md5(substring(trim(text), i, {k}))))"
        ),
    )


# PII patterns — standard pretraining-pipeline scrub classes (emails, IPv4
# addresses, NANP-style phone numbers), written to parse and behave
# IDENTICALLY under Java regex (Spark's codegen'd regexp_replace /
# regexp_count) and RE2 (the DuckDB oracle): ASCII classes only, no
# backreferences, no lookaround, no alternation whose match length differs
# between leftmost-first engines. Scrub ORDER is part of the contract —
# emails first, so an address's digit runs can't later half-match the
# IP/phone patterns; each count is taken on the text as it stands at that
# stage. The oracle mirrors the exact patterns and staging.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """PII redaction over a text/caption column: replaces emails, IPv4
    addresses, and phone numbers with typed placeholder tokens and reports a
    per-class redaction count per document — the standard pre-release scrub
    a pretraining corpus (or a crawl's caption table) gets before packing.

    Scale shape: a pure narrow projection — three chained regexp_replace /
    regexp_count expressions, all JVM-side whole-stage codegen, ZERO
    exchanges; at 100 TB this fuses into the scan like the other text
    mappers. Non-overlapping match counting (regexp_count) matches the
    oracle's len(regexp_extract_all(...)) semantics."""
    txt = F.col(text_col)
    n_email = F.regexp_count(txt, F.lit(PII_EMAIL))
    s1 = F.regexp_replace(txt, PII_EMAIL, "<EMAIL>")
    n_ipv4 = F.regexp_count(s1, F.lit(PII_IPV4))
    s2 = F.regexp_replace(s1, PII_IPV4, "<IP>")
    n_phone = F.regexp_count(s2, F.lit(PII_PHONE))
    scrubbed = F.regexp_replace(s2, PII_PHONE, "<PHONE>")
    return df.select(
        id_col,
        scrubbed.alias("scrubbed"),
        n_email.cast("int").alias("n_email"),
        n_ipv4.cast("int").alias("n_ipv4"),
        n_phone.cast("int").alias("n_phone"),
    )


def pack_shards(
    df: DataFrame, budget: int = 512, group_col: str = "source",
    id_col: str = "doc_id", salt_groups: int | None = None,
) -> DataFrame:
    """Token-budget shard packing — the training-data shard planner: within
    each group, documents in id order fill shards of ~``budget`` tokens; a
    document's shard is ``floor(exclusive-prefix-sum(n_tokens) / budget)``
    (deterministic streaming first-fit: a doc starts the next shard once
    the running total before it crosses the boundary; an oversized doc
    simply owns its span). Output: (id, group, n_tokens, shard_id), plus a
    ``grp`` salt column when ``salt_groups`` is set.

    Scale shape: ONE partition-local window per group and no global
    exchange — the group (source / dump / date bucket) is the packing unit
    so the prefix sum never crosses the corpus. A real pretraining corpus
    is Zipf-shaped by source (one CommonCrawl-like source holds most rows),
    so at 100 TB the raw per-source window is ONE task sorting ~10^10 rows:
    ``salt_groups`` splits every source into md5(id)-derived sub-groups
    (the pack_image_shards pattern — images have no source key at all, so
    there the salt is unconditional) and packs each independently; a
    shard's global key becomes (group, grp, shard_id). Shards lose nothing:
    packing needs fixed token budgets and determinism, not a corpus-wide
    contiguous numbering. The unsalted form stays the oracle-gated one —
    the salt only re-partitions the window, it never changes the
    first-fit rule inside a packing unit."""
    from pyspark.sql import Window

    sized = with_token_count(df)
    if salt_groups is None:
        part_cols = [group_col]
        out_cols = [id_col, group_col, "n_tokens"]
    else:
        sized = sized.withColumn(
            "grp",
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
            .cast("bigint") % salt_groups,
        )
        part_cols = [group_col, "grp"]
        out_cols = [id_col, group_col, "grp", "n_tokens"]
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        sized
        .withColumn("_prior", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            *out_cols,
            F.floor(F.col("_prior") / F.lit(float(budget))).cast("bigint").alias("shard_id"),
        )
    )


def pack_manifest(
    assignment: DataFrame, group_col: str = "source", id_col: str = "doc_id",
) -> DataFrame:
    """Shard MANIFEST — the release artifact a corpus export publishes next
    to its packed shards (the text twin of multimodal.shard_manifest, plus
    the reproducibility digest the image writer carries in its summary):
    per (group, shard) — doc count, exact token total, the id span, and an
    ORDER-FREE content digest (md5 over the sorted per-doc md5(id) hexes)
    so two exports — or two clusters — can assert they packed IDENTICAL
    shards without comparing payloads.

    Scale shape: ONE groupBy on the shard key over the already-narrow
    assignment rows; the sorted-list digest state is bounded per group by
    the packing budget (a shard holds ~budget tokens by construction), so
    per-task memory is capped by the planner, not the corpus."""
    h = F.md5(F.col(id_col).cast("string"))
    return (
        assignment.groupBy(group_col, "shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min(id_col).alias("first_id"),
            F.max(id_col).alias("last_id"),
            F.md5(F.concat_ws("|", F.array_sort(F.collect_list(h))))
            .alias("digest"),
        )
        .orderBy(group_col, "shard_id")
    )


def line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Within-document repeated-line removal — the Gopher/MassiveText
    "repetition removal" cleaning step (Rae et al. 2021, arXiv:2112.11446
    App. A): boilerplate lines (nav text, terms-of-service, cookie banners)
    repeat VERBATIM inside a page, so every line keeps only its first
    occurrence and later exact duplicates drop; the doc is rebuilt in
    original line order. The diagnostic sibling is ``doc_repetition``
    (gram-level ratio, no action); this is the action, like span_scrub is
    to dup_span_stats — but within-doc, so it needs no corpus-wide state.

    Output: (id, clean_text, n_lines, n_dup_lines).

    Scale shape: a PURE NARROW map — split, first-occurrence index filter,
    rebuild, all Catalyst array expressions with single-argument lambdas
    (the parity rule: DuckDB's list_filter/list_transform mirror them
    exactly; the first-occurrence test is array_position == own index over
    a sequence(1, n) index array, not an index-lambda). Zero exchanges at
    any corpus size. The per-doc cost is O(lines²) compute inside one row
    — CPU, never a shuffle; a pathological million-line doc would already
    have been dropped by the gopher_rules length gates upstream. NULL text
    yields NULL counts (ANSI size(NULL) = NULL; pinned by tests) — null
    hygiene belongs to the upstream malformed-row drop, as everywhere in
    textops."""
    lines = F.split(F.col(text_col), "\n")
    idx = F.sequence(F.lit(1), F.size(lines))
    keep = F.filter(
        idx, lambda i: F.array_position(lines, F.element_at(lines, i)) == i
    )
    return df.select(
        id_col,
        F.concat_ws(
            "\n", F.transform(keep, lambda i: F.element_at(lines, i))
        ).alias("clean_text"),
        F.size(lines).cast("int").alias("n_lines"),
        (F.size(lines) - F.size(keep)).cast("int").alias("n_dup_lines"),
    )


def sequence_pack(
    df: DataFrame, seq_len: int = 2048, id_col: str = "doc_id",
    n_rows: int | None = None, n_partitions: int | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing — the training-loader
    layout (Brown et al. 2020 §2.1; every mainstream LLM data loader): the
    whole corpus is concatenated in document-id order and cut into fixed
    ``seq_len``-token windows, so a document starts at the exclusive prefix
    sum of every earlier doc's token count and may SPAN training sequences.
    This is the complement of ``pack_shards`` (which bins whole docs into
    budgeted shards): here the chunk grid is global and docs cross
    boundaries. Output per doc: (id, n_tokens, start_off, first_seq,
    last_seq, n_seqs) — everything a loader needs to slice doc text into
    its sequences, all exact BIGINT integer division (DIV, mirrored as //
    in the SQL twin — no float enters the chunk math at any corpus size).

    The start offset is ``operators.ordered_prefix``'s exclusive running
    sum in id order (a global prefix sum is the same problem as the
    crawl's golden sequence, SUM instead of row_number): one global window
    when ``n_rows`` is known and small, otherwise the ranged form with no
    single-partition exchange.

    NULL-text contract (shared with every text op here; ANSI size(NULL) is
    NULL): a null doc contributes NOTHING to the concatenation stream —
    SUM skips NULLs, so other docs' offsets are unaffected on both
    forms — and its own n_tokens/last_seq/n_seqs are NULL
    (pinned by tests). Null hygiene belongs upstream (the F5
    malformed-row drop / gopher_rules), not silently coerced here.
    """
    sized = ordered_prefix(
        with_token_count(df).select(id_col, "n_tokens"), [id_col], "start_off",
        value="n_tokens", agg="sum", exclusive=True, n_rows=n_rows,
        n_partitions=n_partitions,
    )
    first = F.expr(f"start_off DIV {seq_len}")
    last = F.expr(f"(start_off + n_tokens - 1) DIV {seq_len}")
    return sized.select(
        id_col,
        "n_tokens",
        "start_off",
        first.cast("bigint").alias("first_seq"),
        last.cast("bigint").alias("last_seq"),
        (last - first + F.lit(1)).cast("int").alias("n_seqs"),
    )


def mixture_resample(
    df: DataFrame, targets: dict[str, float], id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Deterministic mixture matching — the data-mixing step that turns a
    raw pool into a corpus with PRESCRIBED source proportions (the
    SlimPajama / DoReMi recipe: fix target weights, downsample every
    source to the largest corpus the pool supports at those weights; the
    reference has no analog — this is pipeline-side coverage like
    pack_shards).

    Rule: with normalized weights w_s and per-source token totals T_s, the
    largest feasible corpus is C = min_s(T_s / w_s) tokens; each source
    keeps rate_s = w_s * C / T_s of its tokens (the binding source keeps
    everything; sources absent from ``targets`` drop entirely). Keeping is
    per-DOCUMENT and deterministic: md5(id)/2^32 < rate_s — no RNG in the
    plan (rand() is neither oracle-checkable nor reproducible across task
    retries at scale), so reruns, any partitioning, and both engines keep
    exactly the same rows.

    Scale shape: one combinable (source, sum n_tokens) aggregate over
    O(#sources) groups, a 1-row global min broadcast back, and a narrow
    hash filter over the pool — the text column never shuffles. Rates
    round to 9 dp before the compare (the round-before-float-compare
    parity rule); the hash fraction k/2^32 is exact in a double, so the
    strict < decides identically on any engine."""
    z = float(sum(targets.values()))
    tok = with_token_count(df).select(id_col, group_col, "n_tokens")
    w = F.lit(0.0)
    for src, tw in targets.items():
        w = F.when(F.col(group_col) == src, F.lit(tw / z)).otherwise(w)
    totals = (
        tok.groupBy(group_col)
        .agg(F.sum("n_tokens").alias("_T"))
        .withColumn("_w", w)
        .filter(F.col("_w") > 0)
    )
    feas = totals.agg(F.min(F.round(F.col("_T") / F.col("_w"), 9)).alias("_C"))
    rates = totals.crossJoin(F.broadcast(feas)).select(
        group_col,
        F.round(F.col("_w") * F.col("_C") / F.col("_T"), 9).alias("keep_rate"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint") / F.lit(4294967296.0)
    )
    return (
        tok.join(F.broadcast(rates), group_col)
        .filter(u < F.col("keep_rate"))
        .select(id_col, group_col, "n_tokens", "keep_rate")
    )


def quality_threshold_sweep(df: DataFrame) -> DataFrame:
    """Filter operating-point sweep — the table a curation team reads to
    PICK the quality threshold (the FineWeb/RefinedWeb ablation style:
    "at cut t we keep X% of docs and Y% of tokens"): for each decile
    threshold t/10, how many docs and tokens survive ``quality ≥ t/10``,
    plus their share of the pool. Row t aggregates docs whose
    floor(quality·10) ≥ t; quality is the with_quality score, already
    rounded to 4 dp on both engines, so the decile floor is computed on
    bit-identical doubles and decides identically in Spark and DuckDB.

    Scale shape: ONE combinable groupBy over ≤ 10 decile buckets; the
    cumulative-from-above and share windows then run over those ≤ 10
    HISTOGRAM rows (the group_size_histogram precedent — a single-partition
    window is fine when its input is bounded by the bucket count, not the
    corpus). Text never shuffles; the exchange carries ≤ 10 rows at any
    corpus size."""
    q = with_quality(df).select("quality", "n_tokens")
    bucket = F.least(F.floor(F.col("quality") * 10).cast("int"), F.lit(9))
    hist = q.groupBy(bucket.alias("threshold_x10")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_docs"),
        F.sum("n_tokens").cast("bigint").alias("_tokens"),
    )
    wdesc = (
        Window.orderBy(F.col("threshold_x10").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.orderBy(F.col("threshold_x10")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        hist.withColumn("n_docs_kept", F.sum("_docs").over(wdesc).cast("bigint"))
        .withColumn("n_tokens_kept", F.sum("_tokens").over(wdesc).cast("bigint"))
        .withColumn(
            "doc_share",
            F.round(F.col("n_docs_kept") / F.sum("_docs").over(wall), 4),
        )
        .withColumn(
            "token_share",
            F.round(F.col("n_tokens_kept") / F.sum("_tokens").over(wall), 4),
        )
        .select(
            "threshold_x10", "n_docs_kept", "n_tokens_kept",
            "doc_share", "token_share",
        )
        .orderBy("threshold_x10")
    )


def epoch_schedule(
    df: DataFrame, targets: dict[str, int], budget_mult_pct: int = 300,
    max_epochs_milli: int = 4000, group_col: str = "source",
) -> DataFrame:
    """Data-constrained epoch scheduling (Muennighoff et al. 2023,
    arXiv:2305.16264): given a token budget and prescribed source weights,
    how many EPOCHS of each source does the run consume — capped at 4, the
    paper's diminishing-returns point for repeated data — and how many
    budgeted tokens go unfilled once a source saturates? The planning twin
    of `mixture_resample`: that operator SHRINKS a pool to match weights;
    this one answers whether a budget LARGER than the pool is feasible at
    those weights, per source.

    All math is exact BIGINT (no float enters the plan):
      budget       = total_tokens * budget_mult_pct DIV 100
      need_s       = budget * w_s DIV Σw
      epochs_milli = min(need_s · 1000 DIV avail_s, max_epochs_milli)
      served_s     = min(need_s, avail_s · max_epochs_milli DIV 1000)
      unfilled     = need - served
    (so served honors the SAME milli-precision cap epochs_milli reports —
    a 4500-milli cap serves 4.5 epochs of tokens, not a truncated 4)

    Scale shape: ONE combinable per-source token aggregate (|sources| rows
    on the exchange at any corpus size), a 1-row total broadcast back, and
    a narrow projection — the text column never shuffles. Sources absent
    from ``targets`` drop (weight 0), matching mixture_resample."""
    z = int(sum(targets.values()))
    tok = with_token_count(df).select(group_col, "n_tokens")
    avail = tok.groupBy(group_col).agg(
        F.sum("n_tokens").cast("bigint").alias("avail_tokens")
    )
    total = avail.agg(F.sum("avail_tokens").cast("bigint").alias("_tot"))
    w = F.lit(0)
    for src, tw in targets.items():
        w = F.when(F.col(group_col) == src, F.lit(int(tw))).otherwise(w)
    return (
        avail.withColumn("_w", w)
        .filter(F.col("_w") > 0)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "need_tokens",
            F.expr(f"_tot * {int(budget_mult_pct)} DIV 100 * _w DIV {z}").cast("bigint"),
        )
        .withColumn(
            "epochs_milli",
            F.least(
                F.expr("need_tokens * 1000 DIV avail_tokens"),
                F.lit(int(max_epochs_milli)),
            ).cast("bigint"),
        )
        .withColumn(
            "served_tokens",
            F.least(
                F.col("need_tokens"),
                F.expr(f"avail_tokens * {int(max_epochs_milli)} DIV 1000"),
            ).cast("bigint"),
        )
        .withColumn(
            "unfilled_tokens",
            (F.col("need_tokens") - F.col("served_tokens")).cast("bigint"),
        )
        .select(
            group_col, "avail_tokens", "need_tokens", "epochs_milli",
            "served_tokens", "unfilled_tokens",
        )
    )


def bigram_logprob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Bigram-LM quality score — `unigram_logprob`'s conditional step
    toward CCNet's real 5-gram KenLM: score every document (with ≥ 2
    tokens) by the mean log-probability of its bigrams under the
    corpus's OWN add-one-smoothed bigram model,
    P(b|a) = (c(a,b)+1) / (c(a·)+V). A unigram model can't see word
    ORDER — shuffled boilerplate scores identically; the bigram model
    is the cheapest one that can.

    Parity discipline is unigram_logprob's, one level up: each distinct
    (a, b) log-prob quantizes ONCE to floor(ln(·)·1e6), the per-doc
    reduction is an exact BIGINT sum, and the final mean divides exact
    integers before one 4-dp round. The prefix count c(a·) derives from
    the bigram table (Σ_b c(a,b)) — not raw unigram counts — so the
    conditional distribution sums to 1 over the smoothed vocabulary.

    Scale shape: one explode → (a, b) partial-agg shuffle (vocab²-
    bounded, Zipf head combines map-side) → prefix rollup on a → join
    back (broadcastable at real vocab sizes) → one (id) partial agg.
    V rides a 1-row broadcast. Docs with a single token have no bigram
    and drop — they have no conditional probability to score."""
    tk = tokens_col()
    bg = df.select(id_col, tk.alias("_tk")).filter(F.size("_tk") >= 2).select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(_tk) - 1),"
                " i -> struct(_tk[i - 1] AS a, _tk[i] AS b))"
            )
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.a").alias("a"), F.col("_bg.b").alias("b"))
    cab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ca = cab.groupBy("a").agg(F.sum("c").cast("bigint").alias("ca"))
    v = df.select(F.explode(tk).alias("tok")).agg(
        F.countDistinct("tok").cast("double").alias("v")
    )
    lp = (
        cab.join(ca, "a")
        .crossJoin(F.broadcast(v))
        .select(
            "a",
            "b",
            F.floor(F.log((F.col("c") + 1) / (F.col("ca") + F.col("v"))) * 1_000_000)
            .cast("bigint")
            .alias("lpq"),
        )
    )
    return (
        bg.join(lp, ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("lpq").alias("_s"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(F.col("_s") / (F.col("n_bigrams") * F.lit(1_000_000.0)), 4).alias(
                "avg_logprob"
            ),
        )
    )


def unigram_logprob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Unigram-LM quality score — the perplexity-proxy filter of a CCNet-style
    curation pipeline (Wenzek et al. 2019): score every document by the mean
    log-probability of its tokens under the corpus's OWN unigram distribution;
    boilerplate-heavy and in-distribution docs score high, rare-token noise
    scores low. (The real CCNet uses a 5-gram KenLM — a unigram model is the
    degenerate case that needs no external model artifact, which is also what
    keeps it oracle-expressible.)

    Parity discipline: each distinct token's log-prob quantizes ONCE to the
    integer domain — floor(ln(tf/T)·1e6) — so the per-doc reduction is an
    exact BIGINT sum (order-free on both engines); the only float op is one
    ln per vocab entry, where a cross-engine ulp flips the floor with
    probability ~1e-10 (the tfidf round-before-rank discipline, one notch
    stricter). The final mean divides two exact integers, then rounds to 4dp.

    Scale shape: explode → (token) partial-agg shuffle for corpus term
    frequencies (vocab-sized result) → join back token→lp (broadcastable at
    real vocab sizes ~1e6-1e7; Spark picks the strategy from stats) → one
    (id) partial-agg shuffle for the per-doc sum. Total-token count rides a
    1-row broadcast cross join, never a driver collect. Text never shuffles:
    tokens leave the scan already exploded to (id, token)."""
    toks = df.select(id_col, F.explode(tokens_col()).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").cast("double").alias("t"))
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(F.log(F.col("c") / F.col("t")) * 1_000_000).cast("bigint").alias("lpq"),
    )
    return (
        toks.join(lp, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("lpq").alias("_s"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(F.col("_s") / (F.col("n_tokens") * F.lit(1_000_000.0)), 4).alias(
                "avg_logprob"
            ),
        )
    )


def ppl_buckets(df: DataFrame, id_col: str = "doc_id",
                group_col: str = "source", exact: bool = True) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2019 §4.3):
    within each group (source/dump), rank documents by their unigram-LM score
    and cut into terciles — ``head`` = most in-distribution third, ``tail`` =
    noisiest. CCNet keeps head+middle for LM pretraining and drops tail; the
    bucket column is emitted (not filtered) so downstream mixes can weight
    buckets instead.

    Parity discipline: the rank orders by the ROUNDED avg_logprob (desc) with
    id ascending as the tie-break — ordering by the raw float quotient would
    let a cross-engine ulp flip adjacent ranks; the 4dp round collapses that
    (the tfidf round-before-rank rule). ntile remainder semantics (first
    ``n mod 3`` tiles take the extra row) are pinned by the SQL standard on
    both engines.

    Scale shape: unigram_logprob's two partial-agg shuffles, then — on the
    ``exact`` path — ONE partition-local window per group over (id, group,
    avg_logprob) triples. That window serializes a source once it outgrows
    a task (~10⁸+ docs/source on a Zipf-shaped corpus), so the PRODUCTION
    path is ``exact=False``: per-group percentile_approx P33/P66 cutoffs
    (a partial-aggregable sketch, groups-sized result) broadcast-join back
    and a narrow CASE assigns the bucket — no ordered window anywhere, at
    the cost of approximate tercile boundaries. Both paths order head ≥
    middle ≥ tail by construction; the exact ntile form stays the
    oracle-gated one (percentile_approx's sketch is engine-specific, not
    SQL-portable)."""
    from pyspark.sql import Window

    scored = unigram_logprob(df, id_col).join(
        df.select(id_col, group_col), id_col
    )
    if not exact:
        # ascending P(2/3) = boundary ABOVE which ~a third of rows lie
        # (head = most in-distribution third = highest avg_logprob)
        cuts = scored.groupBy(group_col).agg(
            F.percentile_approx("avg_logprob", F.array(F.lit(2.0 / 3), F.lit(1.0 / 3)))
            .alias("_cuts")
        ).select(
            group_col,
            F.col("_cuts")[0].alias("_hi"),
            F.col("_cuts")[1].alias("_lo"),
        )
        return scored.join(F.broadcast(cuts), group_col).select(
            id_col,
            group_col,
            "avg_logprob",
            F.when(F.col("avg_logprob") >= F.col("_hi"), "head")
            .when(F.col("avg_logprob") >= F.col("_lo"), "middle")
            .otherwise("tail").alias("bucket"),
        )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("avg_logprob"), F.asc(id_col)
    )
    tile = F.ntile(3).over(w)
    return scored.select(
        id_col,
        group_col,
        "avg_logprob",
        F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail").alias("bucket"),
    )


def dsir_weights(
    df: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 256,
    target_mod: int = 101,
) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much more likely its
    tokens are under a TARGET distribution than under the raw pool, using
    hashed-unigram bag-of-words models (the paper hashes n-grams into 10k
    buckets; 256 here keeps the synthetic vocab from spreading one token per
    bucket). The target slice is ``id % target_mod == 0`` — the same held-out
    eval slice the decontaminate operator uses, so "select data that looks
    like the eval domain" composes with "prove it didn't leak".

    Per bucket b: λ(b) = ln( ((c_T(b)+1)/(T_T+B)) / ((c_R(b)+1)/(T_R+B)) )
    (Laplace-smoothed), quantized ONCE to floor(λ·1e6) BIGINT; a doc's weight
    is the exact integer sum of its tokens' λq divided by n_tokens (the
    unigram_logprob parity discipline — one float op per bucket, order-free
    integer reduction per doc). Buckets come from md5 (the md5-only parity
    rule): first 4 hex digits mod B.

    Scale shape: one (bucket) partial-agg shuffle whose result is B rows →
    broadcast λ table joined back to the exploded tokens → one (id)
    partial-agg shuffle. Totals ride a 1-row broadcast. Text never shuffles;
    the λ model is O(B) regardless of corpus size."""
    toks = df.select(id_col, F.explode(tokens_col()).alias("tok"))
    tb = toks.select(
        id_col,
        (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("bigint")
         % n_buckets).alias("b"),
    )
    is_t = (F.col(id_col) % target_mod) == 0
    cnt = tb.groupBy("b").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_t, 0).otherwise(1)).alias("cr"),
    )
    tot = cnt.agg(
        F.sum("ct").cast("double").alias("tt"),
        F.sum("cr").cast("double").alias("tr"),
    )
    bn = F.lit(float(n_buckets))
    lam = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            F.log(
                ((F.col("ct") + 1) / (F.col("tt") + bn))
                / ((F.col("cr") + 1) / (F.col("tr") + bn))
            )
            * 1_000_000
        ).cast("bigint").alias("lq"),
    )
    return (
        tb.filter(~is_t)
        .join(F.broadcast(lam), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("lq").alias("_s"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(F.col("_s") / (F.col("n_tokens") * F.lit(1_000_000.0)), 4).alias(
                "dsir_weight"
            ),
        )
    )


def token_fertility(df: DataFrame, group_col: str = "lang") -> DataFrame:
    """Per-language tokenizer-fertility report (the multilingual budgeting
    metric: how many characters/subwords one whitespace word costs per
    language — high-fertility languages consume a larger share of a fixed
    token budget; cf. the fertility tables in XLM-R, arXiv:1911.02116, and
    the per-language token accounting every multilingual data mix
    publishes).  chars_per_token = total trimmed chars / total words;
    subwords_per_token = total ⌊chars/4⌋ subword estimates / total words —
    both exact BIGINT sums divided once at the end (order-free), rounded
    to 4 dp for cross-engine parity.

    Scale shape: one narrow projection + ONE partial-aggregable groupBy on
    the bounded language key — the exchange carries |langs| rows of BIGINT
    triples at any corpus size."""
    t = with_token_count(df).select(
        F.col(group_col),
        F.col("n_tokens").cast("long").alias("nt"),
        F.col("n_subwords_est").cast("long").alias("ns"),
        F.length(F.trim(F.col("text"))).cast("long").alias("nc"),
    )
    return (
        t.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.round(F.sum("nc") / F.sum("nt"), 4).alias("chars_per_token"),
            F.round(F.sum("ns") / F.sum("nt"), 4).alias("subwords_per_token"),
        )
        .orderBy(group_col)
    )


def rule_ablation(df: DataFrame) -> DataFrame:
    """Filter-ablation accounting over the Gopher rule set (the per-rule
    drop table every curation paper publishes — e.g. Gopher A1, RefinedWeb
    §G): for each rule, how many docs fail it (``n_fail``) and how many
    fail ONLY it (``n_fail_only`` — the docs recoverable by relaxing that
    single threshold), plus an ``any`` row (docs failing ≥1 rule; its
    n_fail_only = docs failing exactly one — total single-rule casualties).
    Rates are n/corpus rounded to 4 dp.

    Scale shape: with_gopher_rules is a pure narrow map, and everything
    here reduces through ONE all-column 1-row aggregate (partial-agg
    combinable); the 5-row output is built from that single row with a
    stack() unpivot — no exchange carries more than one row of BIGINTs at
    any corpus size."""
    return flag_ablation(
        with_gopher_rules(df), ["r_len", "r_mean_wlen", "r_stop", "r_uniq"]
    )


def flag_ablation(flagged: DataFrame, rules: list[str]) -> DataFrame:
    """The generic ablation core behind ``rule_ablation`` (and the crawl
    CLI's caption twin): given any DataFrame carrying one boolean column
    per rule, emit the per-rule (n_fail, n_fail_only, fail_rate) table plus
    the 'any' row. Shape: ONE 1-row partial-aggregable aggregate + a
    |rules|+1-row stack unpivot — see rule_ablation's docstring."""
    flags = flagged.select(
        *[F.col(r) for r in rules],
        sum(F.when(~F.col(r), 1).otherwise(0) for r in rules).alias("n_fails"),
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for r in rules:
        aggs.append(F.sum(F.when(~F.col(r), 1).otherwise(0)).alias(f"fail_{r}"))
        aggs.append(
            F.sum(
                F.when(~F.col(r) & (F.col("n_fails") == 1), 1).otherwise(0)
            ).alias(f"only_{r}")
        )
    aggs.append(F.sum(F.when(F.col("n_fails") > 0, 1).otherwise(0)).alias("fail_any"))
    aggs.append(F.sum(F.when(F.col("n_fails") == 1, 1).otherwise(0)).alias("fail_one"))
    one = flags.agg(*aggs)
    stack_args = ", ".join(
        [f"'{r}', fail_{r}, only_{r}" for r in rules] + ["'any', fail_any, fail_one"]
    )
    return (
        one.select(
            "n_docs",
            F.expr(
                f"stack({len(rules) + 1}, {stack_args}) AS (rule, n_fail, n_fail_only)"
            ),
        )
        .select(
            "rule",
            F.col("n_fail").cast("bigint").alias("n_fail"),
            F.col("n_fail_only").cast("bigint").alias("n_fail_only"),
            F.round(F.col("n_fail") / F.col("n_docs"), 4).alias("fail_rate"),
        )
        .orderBy("rule")
    )


def with_c4_rules(df: DataFrame) -> DataFrame:
    """C4-style heuristic document filters (Raffel et al., arXiv:1910.10683
    §2.2 — the other canonical rule family beside Gopher's): each rule is a
    separate boolean audit column, ``keep`` their conjunction, so a
    curation run can see WHICH rule dropped a doc.  Adapted to this
    corpus's scale the way gopher_rules' thresholds are:

    - ``c_terminal``: the doc ends in a terminal punctuation mark
      (. ! ? or a closing quote after one) — C4 applies this per line;
      the corpus here is single-line so it is a doc rule.
    - ``c_min_words``: ≥ 5 whitespace words (C4 drops pages with < 5
      sentences / lines with < 3 words; collapsed to one word floor).
    - ``c_no_braces``: no '{' (C4 removes anything with code braces).
    - ``c_no_lorem``: 'lorem ipsum' absent (case-insensitive).
    - ``c_no_badword``: placeholder blocklist hit — 'javascript'
      (C4 uses the "List of Dirty, Naughty …" blocklist; one stand-in
      token keeps the rule non-vacuous and the oracle tiny).

    Every rule is a narrow regex/arithmetic projection — zero exchanges,
    fused into the scan at any corpus size; patterns are chosen to behave
    identically under Java regex and RE2 (the pii_scrub discipline)."""
    tt = F.trim(F.col("text"))
    low = F.lower(tt)
    n = F.size(tokens_col())
    c_terminal = tt.rlike(r'[.!?]["”’]?$')
    c_min_words = n >= 5
    c_no_braces = ~tt.contains("{")
    c_no_lorem = ~low.contains("lorem ipsum")
    c_no_badword = ~low.contains("javascript")
    return (
        df.withColumn("n_tokens", n)
        .withColumn("c_terminal", c_terminal)
        .withColumn("c_min_words", c_min_words)
        .withColumn("c_no_braces", c_no_braces)
        .withColumn("c_no_lorem", c_no_lorem)
        .withColumn("c_no_badword", c_no_badword)
        .withColumn(
            "keep",
            c_terminal & c_min_words & c_no_braces & c_no_lorem & c_no_badword,
        )
    )
