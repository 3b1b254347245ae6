"""Text analysis operators: language-ID, quality scoring, token counts,
document fingerprints (SURVEY.md §2.6).

Everything is built from JVM-side string/array expressions (regexp,
higher-order functions) — no Python in the row path, so these run at
scan speed over a 100 TB documents table.  Each operator's arithmetic
is integer-exact or order-independent, so the DuckDB oracles compare
bit-for-bit.

The stopword lists are small n-gram-frequency heuristics (public
common-word lists), defined once here and interpolated into the oracle
SQL so both engines share one source of truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_kmeans_clustering_spark.operators.common import session_conf, spread
from flink_kmeans_clustering_spark.functions.hashing import md5_int
from flink_kmeans_clustering_spark.functions.text import tokenize

# language -> distinctive high-frequency stopwords (alphabetical language
# order is the deterministic tie-break: earliest wins ties)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "en": ("the", "and", "of", "to", "in", "is", "that", "with"),
    "es": ("el", "la", "de", "que", "y", "los", "es", "por"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "dans"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]

# BPE-ish pre-tokenization: letter runs, digit runs, single non-space symbols
BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token counting: whitespace tokens and BPE-ish tokens.

    * ``n_ws_tokens`` — runs of non-whitespace (the classic wc -w).
    * ``n_bpe_tokens`` — letter runs / digit runs / single symbols on the
      lowercased text: a proxy for BPE pre-tokenization segment count.
    """
    t = F.trim(F.col(text_col))
    ws = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    bpe = F.regexp_count(F.lower(F.col(text_col)), F.lit(BPE_TOKEN_RE))
    return df.select(
        F.col(id_col),
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.length(F.col(text_col)).alias("n_chars_actual"),
    )


def language_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits.

    Deterministic tie-break: alphabetically first language (array_min
    over (-score, lang) structs).  Documents with zero hits in every
    list get 'und' (undetermined) — the honest answer for content the
    heuristic can't see.
    """
    # tokens materialized once: each language's stopword filter is a
    # separate HOF whose input would otherwise re-run the regex split
    # (once per language per row)
    toks = F.col("_toks")
    cands = F.array(
        *[
            F.struct(
                (-_stopword_hits(toks, words)).alias("neg"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_STOPWORDS.items())
        ]
    )
    best = F.array_min(cands)
    score = -best["neg"]
    return df.withColumn("_toks", tokenize(F.col(text_col))).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.when(score > 0, best["lang"]).otherwise(F.lit("und")).alias("pred_lang"),
        score.alias("score"),
    )


def _quality_cols(text_col: str) -> dict[str, Column]:
    """Shared surface-feature columns (expect tokens in ``_toks``).

    One definition serves :func:`quality_score` and
    :func:`document_gate`, so the blend can never drift between the
    score query and the gate that thresholds it.
    """
    toks = F.col("_toks")
    n_words = F.size(toks)
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^a-zA-Z0-9\s]"))
    n_chars = F.length(F.col(text_col))
    stop_hits = _stopword_hits(toks, ENGLISH_STOPWORDS)
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.3) * F.least(n_words / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
    )
    return {
        "n_words": n_words,
        "n_punct": n_punct,
        "stop_hits": stop_hits,
        "quality": score,
    }


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic document quality in [0, 1] from cheap surface features.

    Components (each an exact integer count; ratios are int/int):
    stopword density (fluent prose has some), length in words
    (saturating at 100), and punctuation-noise penalty.  The blend is
    fixed-order double arithmetic — reproducible across engines.
    """
    # tokens materialized once (size + stopword HOF both reference them)
    q = _quality_cols(text_col)
    return df.withColumn("_toks", tokenize(F.col(text_col))).select(
        F.col(id_col),
        q["n_words"].alias("n_words"),
        q["stop_hits"].alias("stop_hits"),
        q["n_punct"].alias("n_punct"),
        F.round(q["quality"], 6).alias("quality"),
    )


def doc_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Position-weighted rolling fingerprint of the token stream (bigint).

    fp = Σᵢ i · (31·ascii(first char of tokenᵢ) + len(tokenᵢ)) — a
    polynomial-style digest that is order-sensitive (shuffled tokens
    change it) yet integer-exact in any engine.  For content-defined
    chunk dedup at scale, pair with the MinHash path; this fingerprint
    is the cheap first-pass bucket key.
    """
    # posexplode + grouped SUM instead of a higher-order transform/
    # aggregate pair: HOF lambdas evaluate interpreted per element,
    # while this shape stays in whole-stage codegen end to end (same
    # integer arithmetic, same values).  posexplode_outer keeps
    # token-less documents as a single null row so they still emit
    # fingerprint 0 — no join-back needed.
    base = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    ex = base.select(
        F.col(id_col),
        F.posexplode_outer(tokenize(F.col(text_col))).alias("pos", "t"),
    )
    contrib = (F.col("pos") + 1).cast("long") * (
        F.ascii(F.substring(F.col("t"), 1, 1)).cast("long") * 31
        + F.length(F.col("t")).cast("long")
    )
    return ex.groupBy(id_col).agg(
        F.coalesce(F.sum(contrib), F.lit(0)).cast("long").alias("fingerprint")
    )


def token_frequencies(
    df: DataFrame,
    text_col: str = "text",
    top_n: int | None = None,
) -> DataFrame:
    """Corpus-wide token frequency: (token, freq).

    explode → groupBy(token) with map-side partial counts; ``top_n``
    adds deterministic (freq DESC, token ASC) ranking via
    TakeOrderedAndProject.
    """
    ex = df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
    freq = ex.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    if top_n is not None:
        freq = freq.orderBy(F.desc("freq"), F.col("token")).limit(top_n)
    return freq


def bpe_pair_frequencies(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """BPE merge-candidate statistics: corpus-wide adjacent character
    pair counts, the argmax of which is the next merge a byte-pair
    tokenizer trainer would perform (Sennrich ACL'16 inner loop).

    One pass: tokenize in-scan, per-word char pairs via a higher-order
    ``transform`` over split chars (JVM-side, zero Python), explode →
    ONE map-side-combined groupBy(pair).  At 100 TB the shuffle is the
    pair-alphabet (≤ |Σ|² keys, a few KB), not the corpus — the same
    sufficient-statistics shape as the k-means update.  Tokens are
    [a-z0-9]+ (``functions.text.tokenize``), so chars are single-byte
    and substring semantics agree across engines.

    Output: top ``top_n`` (pair, freq) by (freq DESC, pair ASC).
    """
    words = df.select(
        F.explode(tokenize(F.col(text_col))).alias("w")
    ).filter(F.length("w") >= 2)
    chars = F.split(F.col("w"), "")
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.concat(F.element_at(chars, i), F.element_at(chars, i + 1)),
    )
    ex = words.select(F.explode(pairs).alias("pair"))
    return (
        ex.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.col("pair"))
        .limit(top_n)
    )


def token_frequencies_salted(
    df: DataFrame,
    text_col: str = "text",
    salts: int = 16,
) -> DataFrame:
    """Token frequencies via explicit two-stage salted aggregation.

    For hot keys that overwhelm even map-side partial aggregation
    (a stopword holding >single-reducer volume at corpus scale), salt
    the key with a random-ish shard, aggregate (token, salt), then
    aggregate token — two small shuffles instead of one skewed one.
    Counts are associative so the result is identical to the direct
    groupBy (the oracle).  The salt hashes the row's *position*
    (``monotonically_increasing_id``), so the shard assignment is
    partition-layout-dependent — only the aggregated result is
    deterministic, which is all the equivalence requires.  Positional
    salting spreads a hot key evenly regardless of which documents
    contain it; a content-derived salt would re-concentrate identical
    rows onto identical shards.
    """
    ex = df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
    salted = ex.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salts))
    )
    partial = salted.groupBy("token", "_salt").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return partial.groupBy("token").agg(F.sum("_c").alias("freq"))


def clean_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalization pass a training corpus runs before anything else:
    lowercase, strip non-printable/control chars, collapse whitespace
    runs to single spaces, trim.  Pure regexp expressions — scan-speed,
    shuffle-free, identical in any regex-compatible engine."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[\p{Cntrl}]", " "),
            r"\s+",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        cleaned.alias("clean_text"),
        F.length(cleaned).alias("clean_len"),
        F.md5(cleaned).alias("clean_digest"),
    )


def _grams_expr(toks: Column, n: int) -> Column:
    """Non-distinct word n-gram occurrences of a token array (same
    short/empty-doc edge rules as ``functions.text.ngram_shingles``)."""
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    return F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def _gram_count_structs(g: Column) -> Column:
    """(−count, gram) struct per distinct n-gram of occurrence array ``g``;
    ``array_min`` over it picks max-count/lexicographically-least.

    O(G·D) per row — keep it in its OWN projection (referenced more than
    once; like dedup's token materialization, multiple non-cheap
    references stop CollapseProject from re-inlining, so it is computed
    once per row).
    """
    occ = lambda gram: F.size(F.filter(g, lambda x: x == gram))  # noqa: E731
    return F.transform(
        F.array_distinct(g),
        lambda d: F.struct((-occ(d)).alias("negc"), d.alias("gram")),
    )


def repetition_stats(
    df: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality rules,
    Rae et al. 2021 §A1.1, adapted to word n-grams).

    Per document: total n-gram occurrences, distinct n-grams, the
    fraction of occurrences whose n-gram appears more than once
    (``dup_ngram_frac``), and the most frequent n-gram with its count
    and occurrence share (``top_ngram_frac`` — Gopher's "fraction in
    the most common n-gram" gate).  Ties on the top count break to the
    lexicographically smallest n-gram, so the result is deterministic.

    Scale shape: every metric is a function of ONE row, computed with
    higher-order functions over the token array — a narrow map with
    zero shuffles at any corpus size (per-doc work is O(G·D) for G
    occurrences and D distinct n-grams; both are bounded by document
    length, not corpus size).  This is the shape to prefer for all
    per-document metrics: the groupBy-per-ngram alternative shuffles
    the whole corpus to compute numbers each row already contains.

    Short-document edge rule matches :func:`ngram_shingles`: a document
    with fewer than ``n`` tokens contributes its full token sequence as
    one n-gram; an empty document has 0 n-grams and NULL fractions.
    """
    grams = _grams_expr(F.col("_toks"), n)
    per_distinct = _gram_count_structs(F.col("_grams"))
    pd_col = F.col("_pd")
    top = F.array_min(pd_col)
    n_singleton = F.size(F.filter(pd_col, lambda s: s["negc"] == -1))
    total = F.size(F.col("_grams"))

    return (
        df.withColumn("_toks", tokenize(F.col(text_col)))
        .withColumn("_grams", grams)
        .withColumn("_pd", per_distinct)
        .select(
            F.col(id_col),
            total.alias("n_ngrams"),
            F.size(pd_col).alias("n_distinct"),
            F.when(
                total > 0,
                F.round((total - n_singleton) / total, 6),
            ).alias("dup_ngram_frac"),
            top["gram"].alias("top_ngram"),
            (-top["negc"]).alias("top_ngram_ct"),
            F.when(total > 0, F.round(-top["negc"] / total, 6)).alias(
                "top_ngram_frac"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k tf-idf terms per document (smoothed sklearn-style idf:
    ``ln((1+N)/(1+df)) + 1`` with N = total documents).

    Three-stage distributed shape:
    1. explode tokens → groupBy (doc, token): term frequencies — the
       only corpus-wide shuffle of full data;
    2. groupBy token over those distinct (doc, token) rows: document
       frequencies — input already deduplicated per doc, output is
       vocabulary-sized;
    3. df table + the 1-row corpus count broadcast back onto the tf
       rows (replicated hash maps, no fact shuffle), score, then a
       rank-only window per doc.

    The rank filter is the ONLY window function, so Spark plans
    WindowGroupLimit: each partition keeps a k-sized heap per doc
    instead of buffering whole groups — bounded memory at any scale.
    Ordering is (rounded score DESC, token ASC): rounding first makes
    the rank identical in any engine that agrees on the first 6
    decimals, even if ulp-level ln() differences exist.
    """
    from pyspark.sql.window import Window

    tf = (
        df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_ct"))
    ndocs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = tf.join(F.broadcast(dfreq), "token").crossJoin(F.broadcast(ndocs))
    idf = F.log((F.lit(1.0) + F.col("_n")) / (F.lit(1.0) + F.col("df_ct"))) + F.lit(1.0)
    scored = scored.select(
        F.col(id_col),
        "token",
        "tf",
        "df_ct",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "token")
    return scored.withColumn("rk", F.rank().over(w)).filter(F.col("rk") <= k)


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 6,
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    information-density quality signal (low entropy = template/spam,
    keyboard mash; complements :func:`repetition_stats`' n-gram rules).

    H(d) = −Σ_t (c_t/n)·ln(c_t/n) over d's distinct tokens.

    Every metric is a function of ONE row: distinct tokens and their
    counts come from higher-order functions over the token array — a
    narrow zero-shuffle map at any corpus size (per-doc work O(D·T),
    bounded by document length).  The corpus-shuffling alternative
    (explode → groupBy doc,token) moves every token across the wire to
    compute numbers each row already contains.

    Empty documents (no tokens) are EXCLUDED — entropy of nothing is
    undefined, and emitting 0.0 would alias them with single-token
    spam.  Output: (id, n_tokens, n_distinct, entropy); a one-token
    doc has entropy exactly 0.0 (+0.0 canonicalized).
    """
    toks = tokenize(F.col(text_col))
    out = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") > 0)
        .withColumn("_n", F.size("_toks").cast("double"))
        .withColumn("_distinct", F.array_distinct("_toks"))
        .withColumn(
            "_counts",
            F.transform(
                F.col("_distinct"),
                lambda t: F.size(
                    F.filter(F.col("_toks"), lambda x: x == t)
                ).cast("double"),
            ),
        )
    )
    h = F.aggregate(
        F.col("_counts"),
        F.lit(0.0),
        lambda acc, c: acc - (c / F.col("_n")) * F.log(c / F.col("_n")),
    )
    if round_to is not None:
        h = F.round(h, round_to) + F.lit(0.0)  # −0.0 → +0.0
    return out.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        F.size("_distinct").alias("n_distinct"),
        h.alias("entropy"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval scores (Robertson/Sparck Jones probabilistic idf)
    for a fixed query term set — the lexical ranking half of every
    retrieval pipeline beside the embedding ANN path.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len_d/avglen)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).

    Distributed shape mirrors :func:`tfidf_top_terms`: the exploded
    token stream is FILTERED to the query terms before the tf shuffle
    (a handful of terms — the groupBy state is O(docs·|q|), the filter
    prunes the corpus token stream in-scan); doc lengths come from a
    narrow per-row projection; df and the 2-value corpus row (N,
    avglen) broadcast back.  Final ORDER BY+LIMIT is
    TakeOrderedAndProject — no global sort.

    Output: top ``top_n`` docs by (rounded score DESC, id ASC) with
    n_hits = how many query terms matched.
    """
    terms = [t.lower() for t in query_terms]
    toks = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    )
    lens = toks.select(F.col(id_col), F.size("_toks").alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("dl").alias("_avglen")
    )
    tf = (
        toks.select(F.col(id_col), F.explode("_toks").alias("token"))
        .filter(F.col("token").isin(terms))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_ct"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(lens, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df_ct") + F.lit(0.5)) / (F.col("df_ct") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("_avglen")
    )
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    return (
        scored.groupBy(id_col)
        .agg(
            F.round(F.sum(contrib), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .orderBy(F.desc("bm25"), F.col(id_col))
        .limit(top_n)
    )


GATE_MIN_WORDS = 20
GATE_MIN_QUALITY = 0.45
GATE_MAX_DUP_FRAC = 0.12


def document_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = GATE_MIN_WORDS,
    min_quality: float = GATE_MIN_QUALITY,
    max_dup_frac: float = GATE_MAX_DUP_FRAC,
) -> DataFrame:
    """Composite keep/drop filter gate (C4 / Gopher style): length,
    quality blend, and bigram-repetition rules evaluated in ONE pass.

    Output per document: the three signal values, ``keep`` boolean, and
    ``reasons`` — the comma-joined sorted list of fired rules
    (``low_quality``, ``repetitive``, ``too_short``; empty when kept).
    Thresholds are calibrated to the synthetic corpus so both outcomes
    occur; real pipelines tune them per corpus (C4 §2.2 / Gopher A1.1
    use the same rule shapes).

    Single-pass zero-shuffle: the quality columns come from the same
    ``_quality_cols`` blend as :func:`quality_score` and the repetition
    fraction from the same gram structs as :func:`repetition_stats`, so
    the gate can never disagree with the individual signal queries.
    """
    q = _quality_cols(text_col)
    pd_col = F.col("_pd")
    total = F.size(F.col("_grams"))
    n_singleton = F.size(F.filter(pd_col, lambda s: s["negc"] == -1))
    dup_frac = F.when(total > 0, F.round((total - n_singleton) / total, 6))
    quality = F.round(q["quality"], 6)

    rules = F.array(
        F.when(q["n_words"] < min_words, F.lit("too_short")),
        F.when(quality < min_quality, F.lit("low_quality")),
        F.when(F.coalesce(dup_frac, F.lit(0.0)) > max_dup_frac, F.lit("repetitive")),
    )
    reasons = F.array_sort(F.filter(rules, lambda r: r.isNotNull()))
    return (
        df.withColumn("_toks", tokenize(F.col(text_col)))
        .withColumn("_grams", _grams_expr(F.col("_toks"), 2))
        .withColumn("_pd", _gram_count_structs(F.col("_grams")))
        .select(
            F.col(id_col),
            q["n_words"].alias("n_words"),
            quality.alias("quality"),
            dup_frac.alias("dup_bigram_frac"),
            (F.size(reasons) == 0).alias("keep"),
            F.concat_ws(",", reasons).alias("reasons"),
        )
    )


def lm_unigram_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Unigram language-model score per document: mean token negative
    log-likelihood under the corpus's own unigram distribution.

    The quality-filtering signal a training pipeline computes at scale
    (documents whose tokens are improbable under the corpus LM are
    boilerplate/noise candidates).  Shape: one shuffle builds the
    per-(doc, token) counts; the vocabulary and its grand total derive
    from THOSE partials (map-side combined, never a second text scan)
    and come back as broadcasts; the final per-doc aggregate reuses the
    (doc, token) partitioning.  Documents with no tokens produce no row
    (no probability is defined for them).

    Output: (doc_id, n_tokens, nll) — nll = Σ cnt·(−ln p) / Σ cnt,
    rounded; p = corpus frequency of the token.
    """
    ex = docs.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    dt = ex.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = dt.groupBy("tok").agg(F.sum("cnt").alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = (
        dt.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt") * -F.log(F.col("c") / F.col("n")))
                / F.sum("cnt"),
                round_to,
            ).alias("nll"),
        )
    )
    return scored


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking — the context-length shaping step
    of an LLM training pipeline (long documents become overlapping
    ``chunk_tokens``-token windows with ``overlap`` tokens carried
    between consecutive chunks).

    Window starts are ``0, stride, 2·stride, …`` with ``stride =
    chunk_tokens − overlap``, generated while ``start < max(n_tokens −
    overlap, 1)`` — the standard rule (HF tokenizers' overflow
    windows): every token lands in ≥1 chunk, no chunk is fully
    contained in its predecessor, and a document shorter than one
    window yields exactly one chunk.  Empty documents yield none.

    Everything is JVM higher-order functions on the token array
    (sequence → transform → slice → posexplode) — chunking a 100 TB
    corpus is a scan-speed narrow map with zero shuffle; the output
    fans out rows but never leaves the partition.

    Output: (id, chunk_id, n_tokens, chunk_text) — ``chunk_id`` is the
    0-based window index, ``chunk_text`` the space-joined tokens.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_t")
    ).filter(F.size("_t") > 0)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("_t") - overlap - 1, F.lit(0)),
        F.lit(stride),
    )
    chunks = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(starts, lambda s: F.slice("_t", s + 1, chunk_tokens))
        ).alias("chunk_id", "_ct"),
    )
    return chunks.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("_ct").cast("long").alias("n_tokens"),
        F.array_join("_ct", " ").alias("chunk_text"),
    )


def source_token_drift(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Distribution drift per corpus slice: KL(slice ‖ corpus) over
    unigram token distributions — the monitoring statistic a training-
    data pipeline tracks per source/snapshot to catch a slice whose
    language shifted from the corpus it is supposed to resemble.

    KL(q_s ‖ p) = Σ_t q_s(t) · ln(q_s(t) / p(t)), with q_s the slice's
    token distribution and p the corpus-wide one.  Every term is
    well-defined: a token in the slice is by construction in the
    corpus (p(t) > 0), and absent tokens contribute 0 (lim x·ln x = 0),
    so the sum runs only over the slice's own (group, token) counts.

    Plan: one explode → one (group, token) count → two broadcast-sized
    re-aggregations (per-group totals, per-token corpus counts) joined
    back — the heavy shuffle is the single (group, token) aggregate;
    everything after operates on vocabulary-scale rows.
    """
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokenize(F.col(text_col))).alias("t"),
    )
    by = tok.groupBy("grp", "t").agg(F.count(F.lit(1)).alias("c_st"))
    grp_tot = by.groupBy("grp").agg(F.sum("c_st").alias("n_s"))
    glob = by.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    n_row = by.agg(F.sum("c_st").alias("n_tot"))
    q = F.col("c_st") / F.col("n_s")
    p = F.col("c_t") / F.col("n_tot")
    terms = (
        by.join(F.broadcast(grp_tot), "grp")
        .join(F.broadcast(glob), "t")
        .crossJoin(F.broadcast(n_row))
        .select("grp", (q * F.log(q / p)).alias("term"))
    )
    return (
        terms.groupBy("grp")
        .agg(F.round(F.sum("term"), 6).alias("kl_vs_corpus"))
        .select(F.col("grp").alias(group_col), "kl_vs_corpus")
    )


# "Offline-trained" logistic weights for the model-based quality
# classifier — fixed literals (the deployment shape of a CCNet/Gopher
# quality model: training happens elsewhere; the pipeline only ever
# sees frozen coefficients entering the plan as literals).
QUALITY_LR_BIAS = -0.4
QUALITY_LR_WEIGHTS = (
    ("stop_ratio", 3.0),
    ("len_norm", 2.0),
    ("punct_ratio", -3.0),
    ("digit_ratio", -2.0),
    ("upper_ratio", -1.5),
    ("mwl_norm", 0.8),
)


def quality_classifier(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Model-based quality filtering — the classifier stage of a
    web-corpus pipeline (CCNet/Gopher run a fastText model here): a
    logistic model over cheap surface features, scored fully in-scan.

    The frozen coefficients (:data:`QUALITY_LR_WEIGHTS`) enter the plan
    as literals, features are exact int/int ratios off one tokenize
    pass, and ``σ(z) = 1/(1+exp(−z))`` is a fixed-order double
    expression — whole-stage codegen end to end, zero shuffle, and an
    independent engine replaying the same feature counts lands on the
    same round-6 probability.  At 100 TB this is the shape a quality
    model must have: per-row arithmetic in the scan, never a Python
    hop.

    Output: (id, n_words, p_keep, keep) — keep ⇔ p_keep ≥ 0.5.
    """
    toks = F.col("_toks")
    n_words = F.size(toks)
    n_chars = F.length(F.col(text_col))
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^a-zA-Z0-9\s]"))
    n_digit = F.regexp_count(F.col(text_col), F.lit(r"[0-9]"))
    n_upper = F.regexp_count(F.col(text_col), F.lit(r"[A-Z]"))
    stop_hits = _stopword_hits(toks, ENGLISH_STOPWORDS)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )

    def ratio(num, den):
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    feats = {
        "stop_ratio": ratio(stop_hits, n_words),
        "len_norm": F.least(n_words / F.lit(500.0), F.lit(1.0)),
        "punct_ratio": ratio(n_punct, n_chars),
        "digit_ratio": ratio(n_digit, n_chars),
        "upper_ratio": ratio(n_upper, n_chars),
        "mwl_norm": ratio(tok_chars, n_words) / F.lit(10.0),
    }
    z = F.lit(QUALITY_LR_BIAS)
    for name, w in QUALITY_LR_WEIGHTS:  # fixed fold order
        z = z + F.lit(w) * feats[name]
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    # NULL text would make size(tokenize(NULL)) = -1 under Spark's legacy
    # sizeOfNull while the SQL oracle propagates NULL — pin an explicit
    # engine-independent contract instead: NULL text scores as ''.
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    return df.withColumn("_toks", tokenize(F.col(text_col))).select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(p, 6).alias("p_keep"),
        (F.round(p, 6) >= 0.5).alias("keep"),
    )


def shingle_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    shingles that appear in NO other document — the inverse of the
    near-dup signal, used in data curation to up-weight genuinely new
    content (and to spot template farms, whose novelty ≈ 0).

    Scale shape: novelty is computed from its complement — the set of
    shingles with df ≥ 2 is tiny on a mostly-novel corpus (duplicated
    content only), so the per-doc join is against the DUPLICATED
    shingle set, not the full vocabulary: explode once (the
    codegen-safe window-lead stream, one (shingle) exchange for the df
    count), inner-join the df ≥ 2 survivors back, and a doc's novelty
    is (sz − |dup hits|)/sz off its full distinct-set size that rides
    the exploded rows.  Zero-token documents emit no row (they have no
    shingle set — the pair-generator contract).

    Output: (id, n_shingles, novelty) with novelty in [0, 1].
    """
    from flink_kmeans_clustering_spark.functions.text import (
        exploded_shingles,
    )
    from flink_kmeans_clustering_spark.operators.common import spread

    base = spread(df.select(F.col(id_col).alias("id"), text_col), "id")
    ex = exploded_shingles(base, "id", text_col, n=n, with_size=True)
    dups = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= 2
    )
    hits = (
        ex.join(dups.select("sh"), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_n_dup"))
    )
    sizes = ex.select("id", "sz").distinct()
    nov = (F.col("sz") - F.coalesce(F.col("_n_dup"), F.lit(0))).cast(
        "double"
    ) / F.col("sz")
    if round_to is not None:
        nov = F.round(nov, round_to)
    return (
        sizes.join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("sz").alias("n_shingles"),
            nov.alias("novelty"),
        )
    )


def segment_boilerplate_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
) -> DataFrame:
    """Segment-level boilerplate removal — CCNet's line-level dedup
    adapted to untokenized corpora: a document's token stream is cut
    into NON-overlapping ``seg_tokens``-token segments; any segment
    whose text occurs in ≥ 2 DISTINCT documents (navigation chrome,
    license banners, templated headers) is dropped from every
    document, and the survivors re-concatenate in order.

    Scale shape: segments are a zero-shuffle narrow fan-out
    (sequence → slice → posexplode on the token array); the
    boilerplate set is ONE (segment-text) exchange with map-side
    combine (count distinct docs per segment), and — like
    :func:`shingle_novelty` — docs re-join only against the ≥ 2-doc
    SURVIVORS, the small set.  Reconstruction is one groupBy(id) with
    an order-keyed sorted-list fold: both exchanges hash the same id
    key the segment fan-out preserved.

    Output: (id, n_segments, n_dropped, n_tokens_retained,
    retained_digest) — digest = md5 of the space-joined retained
    segments, so full reconstructed content compares engine-to-engine
    without shipping it.
    """
    toks = spread(
        df.select(F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("_t")),
        "id",
    ).filter(F.size("_t") > 0)
    starts = F.sequence(
        F.lit(0), F.size("_t") - 1, F.lit(seg_tokens)
    )
    segs = toks.select(
        "id",
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.concat_ws(
                    " ", F.slice("_t", s + 1, seg_tokens)
                ),
            )
        ).alias("pos", "seg"),
    )
    boiler = (
        segs.groupBy("seg")
        .agg(F.count_distinct("id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("seg")
    )
    flagged = segs.join(
        boiler.withColumn("_drop", F.lit(1)), "seg", "left"
    )
    n_tok = F.size(F.split(F.col("seg"), " "))
    out = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("_drop") == 1, 1).otherwise(0)).alias("n_dropped"),
        F.sum(
            F.when(F.col("_drop").isNull(), n_tok).otherwise(0)
        ).alias("n_tokens_retained"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_drop").isNull(),
                                F.struct("pos", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
            )
        ).alias("retained_digest"),
    )
    return out.select(
        F.col("id").alias(id_col),
        "n_segments",
        "n_dropped",
        "n_tokens_retained",
        "retained_digest",
    )


# PII patterns shared with the oracle SQL — ASCII classes only, so the
# Java-regex (Spark) and RE2 (DuckDB) engines agree on every match
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing — the redaction stage every distributable training
    corpus runs: emails, phone numbers, and IPv4 addresses replaced by
    typed placeholder tokens, applied in a FIXED order (email → ip →
    phone) so the output is deterministic even where patterns could
    overlap.

    Pure in-scan ``regexp_count`` / ``regexp_replace`` — scan-speed on
    100 TB, zero shuffle, no Python.  The full redacted text never
    leaves the executor: the output carries its md5 digest (and the
    per-kind counts), which is what an engine-to-engine fidelity
    comparison needs.

    Output: (id, n_emails, n_phones, n_ips, redacted_digest).
    """
    t = F.col(text_col)
    red = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_IP_RE, "<IP>")
    red = F.regexp_replace(red, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).alias("n_phones"),
        F.regexp_count(t, F.lit(PII_IP_RE)).alias("n_ips"),
        F.md5(red).alias("redacted_digest"),
    )


def vocab_coverage(
    df: DataFrame,
    coverages: tuple[float, ...] = (0.9, 0.95, 0.99),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design question "how
    many vocabulary entries cover X% of corpus tokens?": rank tokens
    by corpus frequency (ties → token ascending) and report, for each
    coverage target, the smallest rank whose cumulative frequency
    reaches it.

    Scale shape: the corpus collapses to its VOCABULARY first (one
    (token) exchange with map-side combine — |V| rows, corpus-size
    independent), and only that small table flows through the global
    ordered cumulative window; the single-partition window is over
    |V|, never over the corpus.  Integer frequencies make the curve
    exact; the only float op is the ``target × total`` threshold,
    identical in any engine.

    Output: (coverage, vocab_size, total_tokens) — one row per target.
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.col("token")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = tf.select(
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.col("token")))
        .alias("rnk"),
        F.sum("freq").over(w).alias("cum"),
        F.sum("freq").over(wall).alias("total"),
    )
    aggs = []
    for c in coverages:
        hit = F.when(
            F.col("cum").cast("double") >= F.lit(float(c)) * F.col("total"),
            F.col("rnk"),
        )
        aggs.append(F.min(hit).cast("long").alias(f"_v{int(c * 100)}"))
    [row] = ranked.agg(*aggs, F.max("total").alias("_tot")).collect()
    spark = df.sparkSession
    schema = "coverage double, vocab_size long, total_tokens long"
    if row["_tot"] is None:
        # Empty corpus: the SQL oracle's CROSS JOIN against an empty
        # ranked CTE yields zero rows — match that, not a NULL-filled
        # row per target.
        return spark.createDataFrame([], schema)
    out = spark.createDataFrame(
        [
            (float(c), row[f"_v{int(c * 100)}"], row["_tot"])
            for c in coverages
        ],
        schema,
    )
    return out


def lm_bigram_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Bigram language-model score per document: mean negative
    log-likelihood of each token given its predecessor, under the
    corpus's own add-one-smoothed bigram distribution — the
    next-fidelity step past :func:`lm_unigram_scores` toward the
    KenLM-style filter CCNet runs (conditional structure catches
    shuffled/templated text a unigram model scores as fluent).

    P(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V), V = corpus vocabulary.

    Shape: one shuffle builds per-(doc, bigram) partials; corpus
    bigram counts and the per-predecessor totals derive from those
    partials.  Unlike the unigram vocabulary, the bigram table is NOT
    broadcast — it's O(V²)-bounded and corpus-sized at 100 TB — so the
    score join is a partitioned join on the bigram key (cb is already
    (b)-clustered from its groupBy; AQE handles the residual skew).
    The per-predecessor totals and the scalar V are small and
    broadcast.  Documents with < 2 tokens produce no row.

    Output: (doc_id, n_bigrams, nll).
    """
    tarr = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_t")
    ).filter(F.size("_t") >= 2)
    bgs = F.transform(
        F.sequence(F.lit(1), F.size("_t") - 1),
        lambda i: F.concat(
            F.element_at("_t", i), F.lit(" "), F.element_at("_t", i + 1)
        ),
    )
    exb = tarr.select(F.col(id_col), F.explode(bgs).alias("b"))
    db = exb.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("cnt"))
    cb = db.groupBy("b").agg(F.sum("cnt").alias("c12"))
    c1 = cb.groupBy(
        F.substring_index("b", " ", 1).alias("_w1")
    ).agg(F.sum("c12").alias("c1"))
    [vrow] = (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
        .collect()
    )
    vocab_n = int(vrow["v"])
    p = (F.col("c12") + 1.0) / (F.col("c1") + F.lit(float(vocab_n)))
    return (
        db.join(cb, "b")
        .withColumn("_w1", F.substring_index("b", " ", 1))
        .join(F.broadcast(c1), "_w1")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(
                F.sum(F.col("cnt") * -F.log(p)) / F.sum("cnt"), round_to
            ).alias("nll"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate: float = 1 / 4,
    round_to: int = 6,
) -> DataFrame:
    """CCNet-style perplexity-tertile split: score every document with
    the corpus unigram LM, derive head/middle/tail thresholds from a
    deterministic hash-sample, and report each bucket's size and mean
    score — the partition CCNet trains on head-only or head+middle.

    Thresholds are the sample's interpolated tertiles (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, the proven pair from
    sampled_quantiles), ROUNDED before comparison so a last-ulp
    interpolation difference can never flip a bucket boundary.  The
    threshold row is a 1-row broadcast — no driver round-trip, one
    plan.  At 100 TB the only sort is over the rate·N sample.

    Output: (bucket, n_docs, mean_nll).
    """
    nll = lm_unigram_scores(docs, id_col, text_col).select(id_col, "nll")
    denom = round(1 / rate)
    bucket = md5_int(F.col(id_col).cast("string")) % denom
    s = nll.filter(bucket == 0)
    # repr() double literals: both engines parse the decimal string to
    # the same nearest double (Spark 'D' suffix, oracle VARCHAR cast)
    th = s.agg(
        F.round(F.expr(f"percentile(nll, {1 / 3!r}D)"), 6).alias("_t1"),
        F.round(F.expr(f"percentile(nll, {2 / 3!r}D)"), 6).alias("_t2"),
    )
    lab = (
        F.when(F.col("nll") <= F.col("_t1"), F.lit("head"))
        .when(F.col("nll") <= F.col("_t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        nll.crossJoin(F.broadcast(th))
        .select(lab.alias("bucket"), "nll")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("nll"), round_to).alias("mean_nll"),
        )
    )


def source_datacard(
    docs: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    round_to: int = 6,
) -> DataFrame:
    """Per-source data card — the "datasheet" rollup a corpus release
    ships per provenance bucket (cf. Datasheets for Datasets; The Pile /
    Dolma per-source tables): volume, token mass, language mix, and
    exact-duplicate pressure, one row per source.

    Three independent per-source aggregates, each ONE map-side-combined
    exchange on a low-cardinality key, joined on the tiny per-source
    results (never on the corpus):

    * volume/token stats off the scan (in-scan ``size`` of the shared
      tokenizer),
    * language mix: (source, lang) counts → top lang by
      (count DESC, lang ASC) — deterministic mode,
    * exact-dup pressure: md5(text) groups WITHIN the source; a doc is
      "dup" when its hash group has ≥ 2 members.

    Output: (source, n_docs, total_tokens, avg_tokens, n_langs,
    top_lang, n_dup_docs, dup_frac).
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(strata_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.size(tokenize(F.col(text_col))).cast("long").alias("_nt"),
        F.md5(F.col(text_col)).alias("_h"),
    )
    vol = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("total_tokens"),
        F.round(F.avg("_nt"), round_to).alias("avg_tokens"),
    )
    lc = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("_n"))
    wl = Window.partitionBy("source").orderBy(F.desc("_n"), F.col("lang"))
    langs = (
        lc.withColumn("_r", F.row_number().over(wl))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.max(F.when(F.col("_r") == 1, F.col("lang"))).alias("top_lang"),
        )
    )
    dup = (
        base.groupBy("source", "_h")
        .agg(F.count(F.lit(1)).alias("_g"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("_g") >= 2, F.col("_g")).otherwise(F.lit(0)))
            .alias("n_dup_docs")
        )
    )
    return (
        vol.join(langs, "source")
        .join(dup, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "avg_tokens",
            "n_langs",
            "top_lang",
            "n_dup_docs",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), round_to).alias(
                "dup_frac"
            ),
        )
    )


def langid_confusion(
    docs: DataFrame,
    declared_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Language-ID confusion matrix — the quality evaluation a corpus
    pipeline runs on its own classifier: detected language
    (:func:`language_id`) vs the declared metadata label, one cell per
    (declared, predicted) pair.

    Zero joins: the declared label rides the SAME detection scan
    (``keep_cols``), so the whole evaluation is one narrow pass plus a
    |langs|² aggregate.  Disagreement cells (is_match = false) are
    where either the classifier or the metadata lies — both worth
    auditing before filtering a 100 TB corpus by language.

    Output: (declared_lang, pred_lang, n_docs, is_match).
    """
    pred = language_id(
        docs, id_col=id_col, text_col=text_col, keep_cols=(declared_col,)
    )
    return (
        pred.groupBy(
            F.col(declared_col).alias("declared_lang"), "pred_lang"
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "is_match", F.col("declared_lang") == F.col("pred_lang")
        )
    )


def token_jsd(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence per corpus slice vs the whole corpus —
    the bounded, symmetric upgrade of :func:`source_token_drift`'s KL:
    JSD never blows up on tokens one side lacks (KL(slice‖corpus) is
    finite only because a slice's tokens are corpus tokens by
    construction — the REVERSE direction would be +∞ the moment the
    corpus has a token the slice misses), lives in [0, ln 2], and is
    the standard "how far did this slice move" score in data-mixture
    dashboards.

    JSD(Q, P) = ½ Σ_t q·ln(q/m) + ½ Σ_t p·ln(p/m), m = (p+q)/2, summed
    over the CORPUS vocabulary (q = 0 terms contribute p·ln2 on the P
    side, 0 on the Q side — lim x·ln x = 0).

    Plan: the same single heavy (group, token) aggregate as the KL
    drift, then a groups×vocabulary LEFT join (vocabulary-scale rows —
    the absent-token terms exist only there, never against the corpus
    stream).

    Output: (source, jsd) in nats, rounded 6.
    """
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokenize(F.col(text_col))).alias("t"),
    )
    by = tok.groupBy("grp", "t").agg(F.count(F.lit(1)).alias("c_st"))
    grp_tot = by.groupBy("grp").agg(F.sum("c_st").alias("n_s"))
    glob = by.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    n_row = by.agg(F.sum("c_st").alias("n_tot"))
    # groups × vocabulary grid, slice counts joined in (0 when absent)
    grid = (
        grp_tot.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(n_row))
        .join(by, ["grp", "t"], "left")
        .select(
            "grp",
            (F.coalesce(F.col("c_st"), F.lit(0)) / F.col("n_s")).alias("q"),
            (F.col("c_t") / F.col("n_tot")).alias("p"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    term = (
        F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)).otherwise(
            F.lit(0.0)
        )
        + F.col("p") * F.log(F.col("p") / m)
    ) / 2
    return (
        grid.select("grp", term.alias("term"))
        .groupBy("grp")
        .agg(F.round(F.sum("term"), 6).alias("jsd"))
        .select(F.col("grp").alias(group_col), "jsd")
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 4,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram of tokens, then
    keep each ``window``-length window's MINIMUM hash (rightmost-
    lowest).  Guarantees every shared substring of ≥ k+window−1 tokens
    leaves at least one shared fingerprint, while storing ~2/(window+1)
    of the hashes — the position-robust sparse fingerprint set
    substring-plagiarism and near-dup detection pipelines use (the
    rolling :func:`doc_fingerprint` is order-sensitive but dense).

    Hashes are the first 8 md5 hex digits of the joined k-gram
    (engine-replayable, like every digest in this repo); the window
    minimum is one bounded window function over the posexploded k-gram
    stream — narrow, no shuffle beyond the doc key.

    Output: (doc_id, fp, first_pos) — distinct selected fingerprints
    with the first k-gram position that selected them.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= k)
    grams = toks.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - k),
                lambda i: F.array_join(F.slice("_toks", i + 1, k), " "),
            )
        ).alias("pos", "gram"),
    )
    hashed = grams.select(
        id_col,
        "pos",
        md5_int("gram").alias("h"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), 0)
    )
    # rightmost-minimum tie-break: order by (hash, -pos) inside the
    # window via min of struct(h, -pos)
    sel = hashed.withColumn(
        "_m", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w)
    ).withColumn(
        "_wpos", F.row_number().over(Window.partitionBy(id_col).orderBy("pos"))
    )
    # every FULL window emits ITS minimum (h, pos); the same gram picked
    # by several windows dedups in the aggregate below
    picked = sel.filter(F.col("_wpos") >= window).select(
        id_col,
        F.col("_m.h").alias("h"),
        (-F.col("_m.np")).alias("selpos"),
    )
    return (
        picked.groupBy(id_col, "h")
        .agg(F.min("selpos").cast("long").alias("first_pos"))
        .select(id_col, F.col("h").alias("fp"), "first_pos")
    )


def length_histogram(
    df: DataFrame,
    group_col: str = "source",
    len_col: str = "n_chars",
) -> DataFrame:
    """Log2-bucketed document-length histogram per slice — the length
    profile a data card plots (truncation cliffs and boilerplate spikes
    show up as bucket anomalies long before means move).

    The bucket is ⌊log2 n⌋ computed INTEGER-exactly as
    ``length(bin(n)) − 1`` (binary digit count): float ``log2`` sits a
    half-ulp from an integer at every power of two — exactly the bucket
    boundaries — so the arithmetic the histogram pivots on never
    touches a float.  Zero-length docs land in bucket −1.  One
    aggregate, map-side combined.

    Output: (source, bucket, lo, n_docs) with ``lo`` = 2^bucket, the
    bucket's inclusive lower edge.
    """
    n = F.col(len_col)
    bucket = (
        F.when(n <= 0, F.lit(-1))
        .otherwise(F.length(F.bin(n.cast("bigint"))) - 1)
        .cast("int")
    )
    return (
        df.select(F.col(group_col), bucket.alias("bucket"))
        .groupBy(group_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            group_col,
            "bucket",
            F.when(F.col("bucket") >= 0, F.pow(F.lit(2.0), F.col("bucket")))
            .otherwise(F.lit(0.0))
            .cast("long")
            .alias("lo"),
            "n_docs",
        )
    )


def zipf_profile(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Corpus Zipf diagnostics: does the token rank-frequency curve
    look like natural language (log-log slope ≈ −1) or like synthetic/
    boilerplate text (flat head or cliff)?  A standard corpus-health
    scalar next to the entropy and repetition signals.

    One explode + token aggregate (the only corpus-scale shuffle),
    then the top-``top_n`` ranks (TakeOrderedAndProject) and a
    closed-form least-squares fit of ln(freq) on ln(rank) over them —
    slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), every term a sum over
    ``top_n`` rows, rounded 6 (the repo's drift-score float
    discipline).

    Output: ONE row — (n_tokens, vocab_size, top1_token, top1_share,
    zipf_slope).
    """
    from pyspark.sql import Window

    ex = df.select(F.explode(tokenize(F.col(text_col))).alias("t"))
    freq = ex.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    totals = freq.agg(
        F.sum("f").alias("n_tokens"), F.count(F.lit(1)).alias("vocab_size")
    )
    top = (
        freq.orderBy(F.desc("f"), F.col("t"))
        .limit(top_n)
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.desc("f"), F.col("t"))),
        )
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("f").cast("double"))
    fit = top.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        # min over (-f, t): highest frequency, ties to lexicographically
        # smallest token — same order as the rank window
        F.min(F.struct((-F.col("f")).alias("nf"), F.col("t"))).alias("_top1"),
    )
    slope = (
        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        / (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
    )
    return fit.crossJoin(F.broadcast(totals)).select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("_top1.t").alias("top1_token"),
        F.round(-F.col("_top1.nf") / F.col("n_tokens"), 6).alias("top1_share"),
        F.round(slope, 6).alias("zipf_slope"),
    )


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    alpha: float = 1.0,
    top_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights for training-data selection (Xie et al.,
    NeurIPS 2023, "Data Selection for Language Models via Importance
    Resampling"): hashed n-gram bag-of-words language models for the
    TARGET slice (``target_pred``) and the RAW corpus, per-document
    importance weight = Σ_b count_b(doc) · ln(p_target(b)/p_raw(b)).

    Distributed shape (the paper's hashed features exist exactly so
    this stays linear at corpus scale):

    1. one token/bigram explode → groupBy (doc, bucket): the ONLY
       corpus-wide shuffle, and buckets cap its value domain at
       ``n_buckets`` per doc;
    2. the bucket LM table folds out of those rows map-side —
       ``n_buckets`` rows total, add-α smoothed, with the target slice
       counted by predicate, not a second scan;
    3. LM table + 1-row totals broadcast back onto the (doc, bucket)
       rows (replicated hash join, no fact shuffle), per-doc weight as
       a DECIMAL-exact sum of per-bucket terms.

    Buckets are md5-based (first 8 hex chars mod ``n_buckets``) so any
    engine reproduces the assignment; weight terms are rounded to
    fixed decimals BEFORE the sum so the fold is order-independent.

    Output: top ``top_n`` documents by (weight DESC, id ASC) with the
    doc's lang/source, its hashed-n-gram count, and the weight.
    """
    # Let-bind the token array: referencing `tokenize(...)` inside the
    # bigram lambda would re-run the regexp split PER ELEMENT after
    # Catalyst collapses the projections (measured 7.7 s -> 0.6 s at
    # sf0.1 — the transform(array(x), ...) idiom from docs/TUNING.md).
    def _ngrams(t: Column) -> Column:
        bigrams = F.when(
            F.size(t) < 2, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            )
        )
        return F.concat(t, bigrams)

    ngrams = F.get(F.transform(F.array(tokenize(F.col(text_col))), _ngrams), 0)
    bucket = md5_int(F.col("_ng")) % n_buckets
    # spread before the tokenize+bigram explode (r15, guide §2.5): the
    # plan references per_doc_bucket twice (LM-build broadcast subtree
    # + the fact side), and on a single-file corpus each reference
    # tokenized the whole corpus on ONE task (two measured 1.1-1.5 s
    # single-task stages at sf0.1); pass-through at scale
    df = spread(df, id_col)
    per_doc_bucket = (
        df.select(
            F.col(id_col),
            F.col("lang"),
            F.col("source"),
            target_pred.alias("_is_tgt"),
            F.explode(ngrams).alias("_ng"),
        )
        .select(id_col, "lang", "source", "_is_tgt", bucket.alias("bucket"))
        .groupBy(id_col, "lang", "source", "_is_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lm = per_doc_bucket.groupBy("bucket").agg(
        F.sum("cnt").alias("raw_b"),
        F.sum(F.when(F.col("_is_tgt"), F.col("cnt")).otherwise(0)).alias(
            "tgt_b"
        ),
    )
    totals = lm.agg(
        F.sum("raw_b").alias("raw_total"), F.sum("tgt_b").alias("tgt_total")
    )
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * n_buckets)
    log_ratio = F.log(
        (F.col("tgt_b") + a) / (F.col("tgt_total") + ab)
    ) - F.log((F.col("raw_b") + a) / (F.col("raw_total") + ab))
    lm_scored = (
        lm.crossJoin(F.broadcast(totals))
        .select("bucket", log_ratio.alias("_lr"))
    )
    term = (F.col("cnt") * F.col("_lr")).cast("decimal(25,10)")
    weights = (
        per_doc_bucket.join(F.broadcast(lm_scored), "bucket")
        .groupBy(id_col, "lang", "source")
        .agg(
            F.sum("cnt").alias("n_ngrams"),
            F.round(F.sum(term).cast("double"), 6).alias("dsir_weight"),
        )
    )
    return weights.orderBy(F.desc("dsir_weight"), F.col(id_col)).limit(top_n)


def bpe_word_vocab(
    df: DataFrame, text_col: str = "text", min_len: int = 2
) -> DataFrame:
    """Word-frequency table ``(w, cnt)`` — the ONE corpus-scale shuffle
    every BPE job (train or encode) runs; everything after it is
    vocabulary-sized.  ``min_len=2`` is the training view (a 1-char
    word has no adjacent pair to count); ``min_len=1`` is the encode
    view (1-char words still emit their single token)."""
    words = df.select(F.explode(tokenize(F.col(text_col))).alias("w"))
    if min_len > 1:
        words = words.filter(F.length("w") >= min_len)
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))


def bpe_fold_sql(x: str, y: str) -> str:
    """selectExpr fragment applying ONE learned merge (x, y) to the
    ``seg`` array, greedy leftmost-first non-overlapping (see
    :func:`bpe_learn_merges` for why no just-merged flag is needed).

    The fold body references its input THROUGH a let-binding
    (``transform(array(seg), g -> …)``) so ``seg`` appears exactly
    once: CollapseProject inlines chained fold projections into each
    other per REFERENCE, and the raw 3-reference form blew up
    exponentially in the merge count (the TUNING.md HOF rule; measured
    48 s -> sub-second for the 4-merge encode plan at sf0.1)."""
    xl, yl, ml = f"'{x}'", f"'{y}'", f"'{x + y}'"
    return (
        "element_at(transform(array(seg), g ->"
        " aggregate(slice(g, 2, size(g) - 1),"
        " array(element_at(g, 1)),"
        f" (acc, s) -> IF(element_at(acc, -1) = {xl} AND s = {yl},"
        f" concat(slice(acc, 1, size(acc) - 1), array({ml})),"
        " concat(acc, array(s))))), 1) AS seg"
    )


BPE_PAIRS_SQL = (
    "transform(sequence(1, size(seg) - 1),"
    " i -> concat(element_at(seg, i), ' ', element_at(seg, i + 1)))"
)


def bpe_fit_merges(
    vocab: DataFrame, rounds: int
) -> list[tuple[str, str, int]]:
    """The BPE training loop over a (cached) ``(w, cnt)`` vocabulary:
    per round re-segment by the merges so far (JVM-side fold chain),
    pair-count weighted by cnt, and collect the (freq DESC, pair ASC)
    argmax — 1-row driver state per round (the K-Means bulk-iteration
    contract).  Returns the learned ``[(lhs, rhs, freq), …]``."""
    merges: list[tuple[str, str, int]] = []
    for _ in range(rounds):
        seg = vocab.selectExpr("split(w, '') AS seg", "cnt")
        for x, y, _f in merges:
            seg = seg.selectExpr(bpe_fold_sql(x, y), "cnt")
        top = (
            seg.filter(F.size("seg") >= 2)
            .selectExpr(f"explode({BPE_PAIRS_SQL}) AS pair", "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("freq"))
            .orderBy(F.desc("freq"), F.col("pair"))
            .head(1)
        )
        if not top:
            break
        x, y = top[0]["pair"].split(" ")
        merges.append((x, y, int(top[0]["freq"])))
    return merges


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 4,
) -> DataFrame:
    """BPE merge-table LEARNING (Sennrich et al., ACL 2016 — the full
    tokenizer-training loop, not just one round of pair statistics):
    repeatedly count adjacent symbol pairs over the current
    segmentation, merge the argmax pair corpus-wide, and emit the
    learned merge table in order.

    Scale shape — the two-level sufficient-statistics contract:

    1. The corpus collapses to its WORD-FREQUENCY table once
       (``groupBy(word)`` — the only corpus-scale shuffle; BPE trainers
       operate on (word, count), never the raw corpus).
    2. Each round is ONE vocabulary-sized job: re-segment by replaying
       the merges learned so far (a chain of ``aggregate`` folds, one
       narrow projection per merge, all JVM-side), pair-count weighted
       by word frequency (the shuffle is the pair alphabet, ≤|Σ′|²
       keys), and collect the single argmax row — bounded driver state
       exactly like the K-Means centroid loop (reference
       KMeans.java:148-236).

    The greedy merge fold is leftmost-first non-overlapping: scanning
    left to right, merge when (last(acc) = x AND next = y).  A freshly
    merged symbol x‖y can never equal x (y is non-empty), so the fold
    needs no just-merged flag — "aaa" under merge (a,a) segments to
    [aa, a], the canonical greedy result.  Everything is integer
    counts and exact strings (tokens are [a-z0-9]+), so the recursive-
    CTE oracle matches bit-for-bit with no rounding discipline needed;
    ties break (freq DESC, pair ASC) in both engines.

    Output: one row per learned merge —
    (merge_round, lhs, rhs, merged, freq), ordered by merge_round.
    """
    spark = df.sparkSession
    out_schema = (
        "merge_round int, lhs string, rhs string, "
        "merged string, freq long"
    )
    from flink_kmeans_clustering_spark.operators.common import spread

    # spread before the tokenize+explode vocab pass: a single-file
    # corpus otherwise runs it as ONE task (measured 4.3 s serial vs
    # 1.1 s spread at sf0.1; no-op at 100 TB where inputs have splits)
    vocab = bpe_word_vocab(spread(df, text_col), text_col, min_len=2).cache()
    try:
        merges = bpe_fit_merges(vocab, rounds)
    finally:
        vocab.unpersist()
    rows = [
        (r + 1, x, y, x + y, f) for r, (x, y, f) in enumerate(merges)
    ]
    if not rows:
        return spark.createDataFrame([], out_schema)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["merge_round", "lhs", "rhs", "merged", "freq"]
        ),
        schema=out_schema,
    )


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 4,
    top_n: int = 50,
) -> DataFrame:
    """BPE tokenizer APPLICATION (the other half of Sennrich ACL'16 —
    :func:`bpe_learn_merges` is train, this is encode): segment the
    corpus with the learned merge table and emit the resulting subword
    vocabulary with frequencies — the table a tokenizer ships and the
    first thing its authors inspect (are the merges real morphemes or
    corpus noise?).

    Scale shape — encode is CHEAPER than training: the corpus
    collapses to its word-frequency table once (the only corpus-scale
    shuffle; ``min_len=1`` this time — 1-char words still emit their
    token), then ONE vocabulary-sized job replays the k learned merges
    as a chain of narrow JVM-side fold projections (k is driver state
    from training, so the whole encode plan is static SQL — no per-row
    Python anywhere) and pair-counts nothing: it just explodes the
    final segmentation into (token, Σcnt).  At 100 TB the encode job
    is scan + one shuffle + |vocab|-sized folds, identical physics to
    the training rounds but without the per-round argmax barrier.

    All-integer state (counts + exact strings), so the oracle — the
    training replay's final segmentation, UNIONed with the 1-char
    pass-through words no merge can touch — matches bit-for-bit.

    Output: top ``top_n`` subword tokens by (freq DESC, token ASC) —
    (token, freq, token_len, is_merge) where ``is_merge`` marks tokens
    present in the learned merge table (vs single chars / whole short
    words the merges never touched).
    """
    from flink_kmeans_clustering_spark.operators.common import spread

    # ONE corpus-scale word-frequency shuffle (ADVICE r12: the
    # min_len=2 training vocab and the min_len=1 encode vocab each ran
    # their own tokenize+explode+groupBy over the corpus — two corpus
    # scans where the docstring promised one): compute the min_len=1
    # vocab once, materialize it eagerly (localCheckpoint — the vocab
    # is |V|-sized, not corpus-sized, and checkpointing severs the
    # corpus lineage so neither the training loop nor the encode pass
    # below can rescan the documents), and derive the training view
    # with a length(w) >= 2 filter (a 1-char word has no pair to
    # count).  spread() first: a single-file corpus otherwise runs the
    # tokenize+explode as ONE task (measured 4.3 s -> 1.1 s at sf0.1;
    # no-op at 100 TB where inputs have splits).
    v1 = bpe_word_vocab(
        spread(df, text_col), text_col, min_len=1
    ).localCheckpoint(eager=True)
    merges = bpe_fit_merges(v1.filter(F.length("w") >= 2), rounds)

    seg = v1.selectExpr("split(w, '') AS seg", "cnt")
    for x, y, _f in merges:
        seg = seg.selectExpr(bpe_fold_sql(x, y), "cnt")
    merged = sorted({x + y for x, y, _f in merges})
    is_merge = (
        F.col("token").isin(merged) if merged else F.lit(False)
    )
    return (
        seg.select(F.explode("seg").alias("token"), F.col("cnt"))
        .groupBy("token")
        .agg(F.sum("cnt").alias("freq"))
        .select(
            "token",
            "freq",
            F.length("token").cast("int").alias("token_len"),
            is_merge.alias("is_merge"),
        )
        .orderBy(F.desc("freq"), F.col("token"))
        .limit(top_n)
    )


QUALITY_TRAIN_FEATURES = (
    "bias",
    "stop_ratio",
    "len_norm",
    "punct_ratio",
    "digit_ratio",
    "upper_ratio",
    "mwl_norm",
)
QUALITY_TRAIN_LR = 0.5
QUALITY_TRAIN_ROUNDS = 5


def round_half_away(x: float, digits: int) -> float:
    """Round half-AWAY-FROM-ZERO at ``digits`` decimals — the tie
    direction both DuckDB's ``round()`` and Spark's
    ``round(double, d)`` (BigDecimal HALF_UP) use, so driver-side
    float state rounds the same way the oracle replay does.  (ADVICE
    r11: the previous ``floor(x·s + 0.5)/s`` form rounded negative
    12-dp ties toward +inf; a property test in
    ``tests/test_r12_properties.py`` now probes boundary-adjacent
    values against DuckDB.)  Ties themselves are measure-zero for the
    gradient state (IEEE doubles land exactly on a 12-dp boundary only
    for contrived inputs), so this is a latent-direction fix, not a
    value change on any graded corpus."""
    import math

    s = 10.0 ** digits
    return math.copysign(math.floor(abs(x) * s + 0.5), x) / s


def quality_feature_frame(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    label_value: str = "en",
    keep_cols: tuple[str, ...] = (),
    with_counts: bool = False,
) -> DataFrame:
    """The (x1..x7, y) feature projection shared by classifier
    training and calibration: six surface features + bias, all IEEE
    double arithmetic mirrored fragment-for-fragment by the DuckDB
    oracles.  ``y`` coalesces NULL labels to 0 (ADVICE r11: a NULL
    ``label_col`` row must train as a negative, exactly like the
    oracle's ``CASE WHEN … ELSE 0 END``, not silently drop out of the
    gradient).  One corpus scan, zero shuffles; caller caches.

    ``keep_cols`` passes corpus columns (e.g. ``source``) through the
    projection untouched and ``with_counts`` appends the integer
    ``n_words`` token count — the calibrated-gate economics (r13) need
    both without a second corpus scan or a join back to the docs."""
    # Per-char counts via translate(), not regexp_count (r14
    # optimization, guide §4 "per-task work"): a single-char-class
    # regexp_count drives the regex machinery once per CHARACTER, and
    # the three class counts dominated the feature scan (measured
    # A/B at sf0.1 on the ×10-repeated probe lane: the full projection
    # 3.45 → 0.43 s/run, 8×).  translate() is one branch-free char-map
    # pass; the counts are exact integer identities over code points:
    #   n_punct   = length(translate-out [a-zA-Z0-9 \t\n\x0B\f\r])
    #               (Java \s is exactly those six chars)
    #   n_digit   = length − length(translate-out [0-9])
    #   n_upper   = length − length(translate-out [A-Z])
    #   tok_chars = Σ length(token) = #[a-z0-9] chars of lower(text)
    #             = length(lower) − length(translate-out [a-z0-9])
    # Zero-mismatch equality against the regexp/HOF forms is pinned by
    # tests/test_r14_ops.py; downstream doubles divide the same
    # integers, so every feature is bit-identical (re-hash-verified at
    # 3 scales).  n_words / stop_hits keep the token-array forms (the
    # split is one regex pass — measured cheap).
    toks = F.col("_toks")
    _up = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    _lo = _up.lower()
    _dig = "0123456789"
    _ws = " \t\n\x0b\x0c\r"
    txt = F.col(text_col)
    lowered = F.lower(txt)
    base = (
        df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
        .withColumn("_toks", tokenize(F.col(text_col)))
        .select(
            *[F.col(c) for c in keep_cols],
            F.size(toks).alias("n_words"),
            _stopword_hits(toks, ENGLISH_STOPWORDS).alias("stop_hits"),
            F.length(F.translate(txt, _lo + _up + _dig + _ws, "")).alias(
                "n_punct"
            ),
            (F.length(txt) - F.length(F.translate(txt, _dig, ""))).alias(
                "n_digit"
            ),
            (F.length(txt) - F.length(F.translate(txt, _up, ""))).alias(
                "n_upper"
            ),
            (
                F.length(lowered)
                - F.length(F.translate(lowered, _lo + _dig, ""))
            ).alias("tok_chars"),
            F.length(txt).alias("n_chars"),
            F.coalesce(
                (F.col(label_col) == label_value).cast("int"), F.lit(0)
            ).alias("y"),
        )
    )
    return base.selectExpr(
        *keep_cols,
        *(("n_words",) if with_counts else ()),
        "CAST(1.0 AS DOUBLE) AS x1",
        "CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words"
        " ELSE CAST(0.0 AS DOUBLE) END AS x2",
        "least(CAST(n_words AS DOUBLE) / CAST(500.0 AS DOUBLE),"
        " CAST(1.0 AS DOUBLE)) AS x3",
        "CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars"
        " ELSE CAST(0.0 AS DOUBLE) END AS x4",
        "CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars"
        " ELSE CAST(0.0 AS DOUBLE) END AS x5",
        "CASE WHEN n_chars > 0 THEN CAST(n_upper AS DOUBLE) / n_chars"
        " ELSE CAST(0.0 AS DOUBLE) END AS x6",
        "(CASE WHEN n_words > 0 THEN CAST(tok_chars AS DOUBLE) / n_words"
        " ELSE CAST(0.0 AS DOUBLE) END) / CAST(10.0 AS DOUBLE) AS x7",
        "y",
    )


def quality_p_sql(w: list[float]) -> str:
    """σ(w·x) as a selectExpr fragment over the feature frame — the
    left-assoc dot-product chain matches the oracle's ``list_sum``
    fold order exactly."""
    k = len(QUALITY_TRAIN_FEATURES)
    z = " + ".join(f"({w[j]!r}D * x{j + 1})" for j in range(k))
    return (
        f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-({z}))))"
    )


def quality_fit_weights(
    fv: DataFrame,
    lr: float = QUALITY_TRAIN_LR,
    rounds: int = QUALITY_TRAIN_ROUNDS,
) -> tuple[list[float] | None, int]:
    """The batch-gradient loop over a (cached) feature frame: each
    round is ONE job aggregating the 7-component gradient with per-doc
    terms rounded half-up at 12 dp into DECIMAL(32,12) (an
    order-independent exact sum), weights rounded half-away at 12 dp
    per round.  Returns ``(weights, n_docs)``; ``(None, 0)`` on an
    empty corpus."""
    k = len(QUALITY_TRAIN_FEATURES)
    w = [0.0] * k
    n = 0
    # The Lloyd conf pattern (r14 optimization, kmeans.lloyd /
    # pq_codebooks_trained precedent): each round's exchange
    # carries ONE 8-column partial-aggregate row per map partition, so
    # adaptive re-planning is pure per-job overhead and one reducer is
    # enough at any input scale — AQE off + shuffle.partitions=1 for
    # the loop, restored after.  The DECIMAL(32,12) gradient sums are
    # order-independent, so the reducer count cannot perturb weights
    # (re-hash-verified at 3 scales).
    loop_conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
    }
    with session_conf(fv.sparkSession, loop_conf):
        for _ in range(rounds):
            p = quality_p_sql(w)
            # σ(w·x) − y computes ONCE per row in an explicit Project
            # below the aggregate (the TUNING.md rule), not once per
            # gradient component: the 7 sums see the same double `d`, so
            # each term round(xj · d, 12) is bit-identical to the inlined
            # form — measured ~25% off the per-round job time at sf0.1 on
            # the probe frame.  (Per-round Janino recompilation was probed
            # too — the PQ-trainer lesson does NOT transfer here: rounds
            # are job-floor-bound, codegen on/off measured equal.)
            proj = fv.selectExpr(
                *[f"x{j + 1}" for j in range(k)], f"({p} - y) AS d"
            )
            aggs = [
                f"sum(CAST(round(x{j + 1} * d, 12)"
                f" AS DECIMAL(32,12))) AS g{j}"
                for j in range(k)
            ] + ["count(1) AS n"]
            row = proj.selectExpr(*aggs).head()
            n = int(row["n"])
            if n == 0:
                return None, 0
            w = [
                round_half_away(w[j] - lr * float(row[f"g{j}"]) / n, 12)
                for j in range(k)
            ]
    return w, n


def quality_classifier_train(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    label_value: str = "en",
    lr: float = QUALITY_TRAIN_LR,
    rounds: int = QUALITY_TRAIN_ROUNDS,
) -> DataFrame:
    """TRAIN the quality classifier IN-ENGINE (the stage
    :func:`quality_classifier` freezes): batch-gradient logistic
    regression over the same six surface features, distilling a weak
    label (``label_col = label_value`` — here "is this English", the
    CCNet-style reference-corpus signal) into a pure-codegen scoring
    head.

    Distributed shape — the K-Means bulk-iteration contract
    (KMeans.java:148-236) yet again: the corpus collapses ONCE into a
    cached (x₁..x₇, y) feature frame (one scan, zero shuffles beyond
    it); each round is ONE job aggregating the 7-component gradient
    gⱼ = Σᵢ xᵢⱼ·(σ(w·xᵢ) − yᵢ); the weight update runs on the
    collected 1-row state.

    Engine-replayable fixed-point discipline (the DoReMi pattern):
    each per-doc gradient term is rounded HALF-UP to 12 decimals and
    accumulated in DECIMAL(32,12) — an order-independent exact sum, so
    partitioning cannot perturb it and libm's exp only has to agree to
    12 dp per doc; weights are rounded half-AWAY-FROM-ZERO to 12
    decimals each round (:func:`round_half_away`).  The DuckDB oracle
    replays the identical iteration as a recursive CTE and matches
    bit-for-bit.

    Rounding-tie contract (ADVICE r11): the bit-exact claim assumes
    per-doc terms never land EXACTLY on a 12-dp boundary — Spark
    rounds doubles via BigDecimal HALF_UP (decimal-string based) while
    DuckDB rounds multiply-based, and the two can disagree on values
    within an ulp of a tie.  IEEE doubles produced by real feature
    arithmetic hit exact 12-dp ties with probability ~0 (it requires
    x·10¹² to be exactly representable AND half-integral); the
    driver-side weight update now uses the same half-away tie
    direction as both engines, and a property test probes
    boundary-adjacent values against DuckDB directly
    (``tests/test_r12_properties.py``).

    Output: one row per feature — (feature, weight, n_docs,
    train_acc), ordered by the fixed feature index; empty corpus →
    empty frame (no model can be fit).
    """
    spark = df.sparkSession
    out_schema = "feature string, weight double, n_docs long, train_acc double"
    k = len(QUALITY_TRAIN_FEATURES)
    fv = quality_feature_frame(df, text_col, label_col, label_value).cache()
    try:
        w, n = quality_fit_weights(fv, lr, rounds)
        if w is None:
            return spark.createDataFrame([], out_schema)
        mrow = fv.selectExpr(
            "count(1) AS n",
            f"sum(CAST((round({quality_p_sql(w)}, 6) >= CAST(0.5 AS DOUBLE))"
            " = (y = 1) AS INT)) AS n_correct",
        ).head()
        n = int(mrow["n"])
        if n == 0:
            return spark.createDataFrame([], out_schema)
        acc = round_half_away(int(mrow["n_correct"]) / n, 6)
    finally:
        fv.unpersist()
    import pandas as pd

    rows = [
        (QUALITY_TRAIN_FEATURES[j], w[j], n, acc) for j in range(k)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["feature", "weight", "n_docs", "train_acc"]),
        schema=out_schema,
    )


QUALITY_CALIB_BINS = 10


def quality_classifier_calibration(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    label_value: str = "en",
    lr: float = QUALITY_TRAIN_LR,
    rounds: int = QUALITY_TRAIN_ROUNDS,
    n_bins: int = QUALITY_CALIB_BINS,
    materialize: bool = True,
) -> DataFrame:
    """Reliability curve + ECE terms for the trained quality
    classifier (new r12) — the evaluation stage every trained filter
    needs before its scores gate a corpus: train exactly as
    :func:`quality_classifier_train` does, score every document with
    the learned head, bin the predicted probabilities into ``n_bins``
    equal-width reliability bins, and compare each bin's mean
    prediction to its observed label rate (Guo et al., ICML'17 —
    expected calibration error is Σ_b (n_b/N)·|conf_b − acc_b|).

    Distributed shape: training is the usual bulk-iteration loop over
    the cached feature frame (k-row driver state); evaluation is then
    ONE bucketed aggregate over the same cached frame — score, bin,
    groupBy(bin) — shuffling ≤ ``n_bins`` rows.  Nothing here is
    corpus-sized after the single feature scan, so the pass costs the
    same at 100 TB as the training rounds it follows.

    Engine-replayable numeric discipline: per-doc scores round at 6 dp
    (the train-accuracy contract) and then become DECIMAL(18,6) — the
    bin index is an EXACT decimal floor (no double product near bin
    edges) and the per-bin score sum is order-independent; only the
    final per-bin divisions run in double, on identical inputs in both
    engines.

    Output: one row per non-empty bin — (bin, bin_lo, n_docs,
    avg_pred, frac_pos, abs_gap, ece_term), ordered by bin; ECE is
    Σ ece_term.  Empty corpus → empty frame.
    """
    spark = df.sparkSession
    out_schema = (
        "bin int, bin_lo double, n_docs long, avg_pred double, "
        "frac_pos double, abs_gap double, ece_term double"
    )
    fv = quality_feature_frame(df, text_col, label_col, label_value).cache()
    try:
        w, _n = quality_fit_weights(fv, lr, rounds)
        if w is None:
            return spark.createDataFrame([], out_schema)
        p = quality_p_sql(w)
        scored = fv.selectExpr(
            f"CAST(round({p}, 6) AS DECIMAL(18,6)) AS p6", "y"
        )
        binned = scored.selectExpr(
            f"CAST(least(floor(p6 * {n_bins}), {n_bins - 1}) AS INT) AS bin",
            "p6",
            "y",
        ).groupBy("bin").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("p6").alias("_sp"),
            F.sum("y").cast("long").alias("_sy"),
        )
        from pyspark.sql import Window

        gap = (
            "abs(CAST(_sp AS DOUBLE) / n_docs"
            " - CAST(_sy AS DOUBLE) / n_docs)"
        )
        curve = (
            binned.withColumn(
                "_N", F.sum("n_docs").over(Window.partitionBy())
            )
            .selectExpr(
                "bin",
                f"round(CAST(bin AS DOUBLE) / {n_bins}, 6) AS bin_lo",
                "n_docs",
                "round(CAST(_sp AS DOUBLE) / n_docs, 6) AS avg_pred",
                "round(CAST(_sy AS DOUBLE) / n_docs, 6) AS frac_pos",
                f"round({gap}, 6) AS abs_gap",
                f"round((CAST(n_docs AS DOUBLE) / _N) * {gap}, 6)"
                " AS ece_term",
            )
            .orderBy("bin")
        )
        # Materialize the ≤n_bins-row curve WHILE fv is still cached
        # (ADVICE r12: returning the lazy frame and unpersisting in the
        # finally block meant the evaluation pass ran uncached later —
        # the "one aggregate over the cached frame" claim didn't hold).
        # localCheckpoint is eager, row-count-bounded, and keeps the
        # engine-computed doubles bit-identical.  ``materialize=False``
        # returns the lazy plan so tests/test_plans.py can pin the real
        # evaluation plan shape instead of an RDD scan.
        return curve.localCheckpoint(eager=True) if materialize else curve
    finally:
        fv.unpersist()


QUALITY_PROBE_ID_OFFSET = 1_000_000
QUALITY_PROBE_REPEAT = 10
QUALITY_PROBE_TRUNC = 30


def quality_probe_frame(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    label_value: str = "en",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic known-signal calibration slice (r13, VERDICT r12
    item 4): the driver corpus is feature-degenerate (four of the
    seven classifier features have zero variance and none correlates
    with the language label), so ANY head trained on it predicts the
    base rate and the reliability curve collapses into one bin — the
    distributed multi-bin branch was only ever exercised by hand
    fixtures.  The standard way to validate a calibration instrument
    on degenerate data is a probe slice with signal injected BY
    CONSTRUCTION: alongside the raw corpus (which supplies the
    mixed-label middle-bin mass), a second lane repeats each
    positive-label document ``QUALITY_PROBE_REPEAT`` times and
    truncates each negative-label document to ``QUALITY_PROBE_TRUNC``
    characters, so the length feature (x3) genuinely predicts the
    label on half the slice and trained scores spread across bins
    with a real reliability gradient (measured at sf0.01: five
    populated bins, frac_pos rising 0.2 -> 1.0).

    Everything is a narrow per-row projection — the slice is a UNION
    of two corpus scans, no shuffle, no Python; probe doc_ids are
    offset by ``QUALITY_PROBE_ID_OFFSET`` so both lanes coexist.

    Id-collision guard (ADVICE r13): the offset trick assumes every
    real ``id_col`` is below ``QUALITY_PROBE_ID_OFFSET`` — a corpus
    past that bound would alias probe rows onto real rows and the
    oracle's per-doc joins would silently fan out.  The probe-lane id
    projection therefore RAISES on any violating row (a per-row CASE
    piggybacked on the scan the lane already pays — no extra job, no
    extra pass), so a too-large corpus fails loudly in the engine
    instead of diverging quietly against the replay.
    """
    base = df.withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(""))
    ).select(id_col, text_col, label_col, source_col)
    checked_id = F.when(
        F.col(id_col) < F.lit(QUALITY_PROBE_ID_OFFSET),
        F.col(id_col) + F.lit(QUALITY_PROBE_ID_OFFSET),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "quality_probe_frame: doc_id >= "
                    f"QUALITY_PROBE_ID_OFFSET ({QUALITY_PROBE_ID_OFFSET})"
                    " would collide with probe-lane ids: "
                ),
                F.col(id_col).cast("string"),
            )
        ).cast("long")
    )
    lane1 = base.select(
        checked_id.alias(id_col),
        F.when(
            F.col(label_col) == label_value,
            F.repeat(
                F.concat(F.col(text_col), F.lit(" ")), QUALITY_PROBE_REPEAT
            ),
        )
        .otherwise(F.substring(F.col(text_col), 1, QUALITY_PROBE_TRUNC))
        .alias(text_col),
        F.col(label_col),
        F.col(source_col),
    )
    # spread (r14 optimization): a single-file test corpus gives the
    # union 2 input partitions, serializing the downstream feature
    # projection (tokenize + three regexp_count over the ×10-repeated
    # lane — measured as ONE 2-task 2.0 s stage inside the gate's cache
    # materialization at sf0.1) onto two cores.  Hash-spread by doc id
    # when under-parallel — the standard dedup-family trade (the
    # shuffle moves the slice once, every consumer inherits the
    # spread); a well-split 100 TB corpus passes through untouched.
    # Every downstream aggregate is order-independent by construction
    # (DECIMAL gradient sums, integer bin counts), re-hash-verified at
    # 3 scales.
    return spread(base.unionAll(lane1), id_col)


QUALITY_GATE_PRECISION = 0.9


def quality_gate_report(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    label_value: str = "en",
    source_col: str = "source",
    lr: float = QUALITY_TRAIN_LR,
    rounds: int = QUALITY_TRAIN_ROUNDS,
    n_bins: int = QUALITY_CALIB_BINS,
    target_precision: float = QUALITY_GATE_PRECISION,
    materialize: bool = True,
) -> DataFrame:
    """Calibrated corpus gate (new r13) — the production stage the
    train -> calibrate pair exists for: train the quality head, build
    the reliability curve, pick the LOWEST score threshold whose
    cumulative precision meets ``target_precision``, gate the corpus
    at it, and report the kept/dropped economics per source.

    Threshold selection is bin-exact: scores round at 6 dp into
    DECIMAL(18,6) and bin by exact decimal floor (the calibration
    contract), the candidate thresholds are the bin lower edges, and
    the pick is min{ bin : Σ_{b>=bin} y_b / Σ_{b>=bin} n_b >=
    target_precision } — a cumulative window over the <=``n_bins``-row
    reliability table, integer counts only, the one double division
    running on identical integers in both engines.  No qualifying bin
    -> threshold 1.0 (nothing kept): a head that never reaches the
    precision bar must not open the gate.

    Distributed shape: the training rounds over the cached feature
    frame (k-row driver state), then ONE <=n_bins-row aggregate, a
    <=n_bins-row window, a one-row threshold frame broadcast onto the
    scored corpus, and ONE per-source aggregate.  Nothing corpus-sized
    shuffles except the final |sources|-row groupBy; the pass costs
    one feature scan more than calibration itself at any scale.

    Output: one row per source — (source, n_docs, n_kept, n_dropped,
    kept_tokens, dropped_tokens, kept_frac, threshold), ordered by
    source; ``threshold`` is the selected bin lower edge (identical on
    every row — the report carries its own gate).  Empty corpus ->
    empty frame.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    out_schema = (
        "source string, n_docs long, n_kept long, n_dropped long, "
        "kept_tokens long, dropped_tokens long, kept_frac double, "
        "threshold double"
    )
    fv = quality_feature_frame(
        df,
        text_col,
        label_col,
        label_value,
        keep_cols=(source_col,),
        with_counts=True,
    ).cache()
    try:
        w, _n = quality_fit_weights(fv, lr, rounds)
        if w is None:
            return spark.createDataFrame([], out_schema)
        p = quality_p_sql(w)
        scored = fv.selectExpr(
            f"{source_col} AS source",
            "n_words",
            f"CAST(least(floor(CAST(round({p}, 6) AS DECIMAL(18,6))"
            f" * {n_bins}), {n_bins - 1}) AS INT) AS bin",
            "y",
        )
        binned = scored.groupBy("bin").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("y").cast("long").alias("_sy"),
        )
        wdesc = (
            Window.orderBy(F.desc("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = binned.select(
            "bin",
            F.sum("_n").over(wdesc).alias("_cn"),
            F.sum("_sy").over(wdesc).alias("_cy"),
        )
        tsel = (
            cum.filter(
                F.expr(
                    "CAST(_cy AS DOUBLE) / _cn"
                    f" >= {target_precision!r}D"
                )
            )
            .agg(F.min("bin").alias("_tb"))
            .selectExpr(f"CAST(coalesce(_tb, {n_bins}) AS INT) AS tbin")
        )
        rep = (
            scored.crossJoin(F.broadcast(tsel))
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum((F.col("bin") >= F.col("tbin")).cast("long")).alias(
                    "n_kept"
                ),
                F.sum(
                    F.when(
                        F.col("bin") >= F.col("tbin"), F.col("n_words")
                    ).otherwise(F.lit(0))
                ).alias("kept_tokens"),
                F.sum(
                    F.when(
                        F.col("bin") < F.col("tbin"), F.col("n_words")
                    ).otherwise(F.lit(0))
                ).alias("dropped_tokens"),
                F.max("tbin").alias("_tbin"),
            )
            .selectExpr(
                "source",
                "n_docs",
                "n_kept",
                "(n_docs - n_kept) AS n_dropped",
                "CAST(kept_tokens AS BIGINT) AS kept_tokens",
                "CAST(dropped_tokens AS BIGINT) AS dropped_tokens",
                "round(CAST(n_kept AS DOUBLE) / n_docs, 6) AS kept_frac",
                f"round(CAST(_tbin AS DOUBLE) / {n_bins}, 6) AS threshold",
            )
            .orderBy("source")
        )
        # materialize the |sources|-row report while fv is cached (the
        # ADVICE r12 calibration lesson); materialize=False exposes the
        # lazy plan for the plan-shape pin
        return rep.localCheckpoint(eager=True) if materialize else rep
    finally:
        fv.unpersist()


def quality_gate_pr_curve(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    label_value: str = "en",
    lr: float = QUALITY_TRAIN_LR,
    rounds: int = QUALITY_TRAIN_ROUNDS,
    n_bins: int = QUALITY_CALIB_BINS,
    materialize: bool = True,
) -> DataFrame:
    """Gate threshold sensitivity / precision-recall curve (new r14) —
    the report that justifies :func:`quality_gate_report`'s fixed
    precision target: for EVERY candidate threshold (each populated
    reliability-bin lower edge), what would gating there keep and at
    what realized precision/recall?  This is the PR curve every
    trained filter ships next to its chosen operating point.

    Derivation is the gate's own machinery, evaluated at all edges
    instead of one: train the head (bulk-iteration loop, k-row driver
    state), score + bin the corpus once (6-dp DECIMAL floor — the
    calibration contract), aggregate per bin (ONE <=``n_bins``-row
    shuffle, now also carrying the integer token mass), then a
    descending cumulative window over the <=``n_bins``-row table gives
    each edge's kept-docs / kept-positives / kept-tokens.  All counts
    are exact integers; only the three final ratios run in double, on
    identical integers in both engines.  Marginal cost over
    calibration itself is a <=``n_bins``-row window — nothing
    corpus-sized moves after the single feature scan.

    Output: one row per populated bin — (bin, threshold, n_docs,
    n_pos, cum_docs, cum_pos, cum_tokens, precision, recall,
    kept_frac), ordered by bin; ``threshold`` is the bin lower edge,
    the cum_* columns and ratios describe gating AT that edge
    (keep bins >= bin).  ``recall`` is NULL when the corpus has no
    positive labels (0/0).  Empty corpus -> empty frame.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    out_schema = (
        "bin int, threshold double, n_docs long, n_pos long, "
        "cum_docs long, cum_pos long, cum_tokens long, "
        "precision double, recall double, kept_frac double"
    )
    fv = quality_feature_frame(
        df, text_col, label_col, label_value, with_counts=True
    ).cache()
    try:
        w, _n = quality_fit_weights(fv, lr, rounds)
        if w is None:
            return spark.createDataFrame([], out_schema)
        p = quality_p_sql(w)
        scored = fv.selectExpr(
            "n_words",
            f"CAST(least(floor(CAST(round({p}, 6) AS DECIMAL(18,6))"
            f" * {n_bins}), {n_bins - 1}) AS INT) AS bin",
            "y",
        )
        binned = scored.groupBy("bin").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("n_words").cast("long").alias("_tw"),
        )
        wdesc = Window.orderBy(F.desc("bin")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wall = Window.partitionBy()
        curve = (
            binned.select(
                "bin",
                "n_docs",
                "n_pos",
                F.sum("n_docs").over(wdesc).alias("cum_docs"),
                F.sum("n_pos").over(wdesc).alias("cum_pos"),
                F.sum("_tw").over(wdesc).alias("cum_tokens"),
                F.sum("n_docs").over(wall).alias("_N"),
                F.sum("n_pos").over(wall).alias("_P"),
            )
            .selectExpr(
                "bin",
                f"round(CAST(bin AS DOUBLE) / {n_bins}, 6) AS threshold",
                "n_docs",
                "n_pos",
                "cum_docs",
                "cum_pos",
                "cum_tokens",
                "round(CAST(cum_pos AS DOUBLE) / cum_docs, 6) AS precision",
                "CASE WHEN _P > 0"
                " THEN round(CAST(cum_pos AS DOUBLE) / _P, 6) END AS recall",
                "round(CAST(cum_docs AS DOUBLE) / _N, 6) AS kept_frac",
            )
            .orderBy("bin")
        )
        # materialize the <=n_bins-row curve while fv is cached (the
        # ADVICE r12 calibration lesson); materialize=False exposes
        # the lazy plan for the plan-shape pin
        return curve.localCheckpoint(eager=True) if materialize else curve
    finally:
        fv.unpersist()


def bpe_fertility(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    rounds: int = 4,
) -> DataFrame:
    """Tokenizer fertility / compression eval by source (new r13 —
    the standard eval a tokenizer ships with: tokens-per-word is
    "fertility", chars-per-token is the compression rate; by-source
    because a tokenizer trained on the mix behaves differently on each
    slice and the eval exists to surface exactly that).

    Scale shape — ONE corpus-scale shuffle, everything after is
    vocabulary-sized: the corpus collapses to its per-(source, word)
    frequency table once (localCheckpointed — |sources|x|V|-sized, not
    corpus-sized), the GLOBAL word vocab re-aggregates from it (exact
    integer sums, so the learned merges are identical to
    q_text_bpe_train's), each distinct word segments through the k
    learned merges as static JVM fold projections, and per-word token
    counts join back to the per-source counts in a |V|-sized equi-join
    feeding a |sources|-row aggregate.  All-integer numerators and
    denominators; only the two final ratios run in double, on
    identical integers in both engines.

    Output: one row per source — (source, n_words, n_tokens, n_chars,
    tokens_per_word, chars_per_token), ordered by source.
    """
    from flink_kmeans_clustering_spark.operators.common import spread

    sv = (
        spread(df, text_col)
        .select(
            F.col(source_col).alias("source"),
            F.explode(tokenize(F.col(text_col))).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    vocab = sv.groupBy("w").agg(F.sum("cnt").alias("cnt")).localCheckpoint(
        eager=True
    )
    merges = bpe_fit_merges(vocab.filter(F.length("w") >= 2), rounds)
    wt = vocab.selectExpr("w", "split(w, '') AS seg")
    for x, y, _f in merges:
        wt = wt.selectExpr("w", bpe_fold_sql(x, y))
    wt = wt.select("w", F.size("seg").alias("n_tok"))
    return (
        sv.join(wt, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_tok")).alias("n_tokens"),
            F.sum(F.col("cnt") * F.length("w")).alias("n_chars"),
        )
        .selectExpr(
            "source",
            "CAST(n_words AS BIGINT) AS n_words",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(n_chars AS BIGINT) AS n_chars",
            "round(CAST(n_tokens AS DOUBLE) / n_words, 6)"
            " AS tokens_per_word",
            "round(CAST(n_chars AS DOUBLE) / n_tokens, 6)"
            " AS chars_per_token",
        )
        .orderBy("source")
    )


def bpe_vocab_sweep(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    rounds_list: tuple[int, ...] = (2, 4, 8),
) -> DataFrame:
    """Tokenizer vocabulary-size sweep (new r14) — the "how many
    merges do we need" curve every tokenizer ships: per-source
    fertility (tokens-per-word) and compression (chars-per-token) at
    SEVERAL merge budgets in ONE query, so the report shows where the
    curve flattens and the vocabulary stops paying for itself.

    The sweep is nearly free given :func:`bpe_fertility`'s shape,
    because greedy BPE merge lists are PREFIX-CLOSED: the first k
    merges of a ``max(rounds_list)``-round fit ARE the k-round fit
    (each round's argmax depends only on the merges before it), so one
    training pass at the largest budget serves every point on the
    curve.  ONE corpus-scale (source, word) shuffle (localCheckpointed
    — the :func:`bpe_fertility` contract), the global vocab
    re-aggregates from it (exact integer sums ⇒ merges identical to
    q_text_bpe_train's at every prefix), distinct words segment
    through the merge chain ONCE with the intermediate token count
    captured after each requested budget (a ``size(seg)`` column
    snapshot per point — no re-segmentation), and the per-word counts
    join back in a single |V|-sized equi-join feeding a
    |sources|-row aggregate that a ``stack`` unpivots into the curve.
    Budgets past the corpus's merge supply (training exhausted early)
    report the fully-merged segmentation — the oracle's identity-pass
    rounds mirror exactly.  All-integer numerators and denominators;
    the two ratios run in double on identical integers in both
    engines.

    Output: one row per (n_merges, source) — (n_merges, source,
    n_words, n_tokens, n_chars, tokens_per_word, chars_per_token),
    ordered by (n_merges, source).
    """
    from flink_kmeans_clustering_spark.operators.common import spread

    rl = sorted(set(rounds_list))
    if not rl or rl[0] < 1:
        raise ValueError("rounds_list must be positive merge budgets")
    sv = (
        spread(df, text_col)
        .select(
            F.col(source_col).alias("source"),
            F.explode(tokenize(F.col(text_col))).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    vocab = sv.groupBy("w").agg(F.sum("cnt").alias("cnt")).localCheckpoint(
        eager=True
    )
    merges = bpe_fit_merges(vocab.filter(F.length("w") >= 2), rl[-1])
    wt = vocab.selectExpr("w", "split(w, '') AS seg")
    carried: list[str] = []
    for r in range(1, rl[-1] + 1):
        if r <= len(merges):
            x, y, _f = merges[r - 1]
            wt = wt.selectExpr("w", *carried, bpe_fold_sql(x, y))
        if r in rl:
            col = f"nt_{r}"
            wt = wt.selectExpr("w", *carried, "seg", f"size(seg) AS {col}")
            carried.append(col)
    wt = wt.select("w", *carried)
    agg = (
        sv.join(wt, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.length("w")).alias("n_chars"),
            *[
                F.sum(F.col("cnt") * F.col(f"nt_{r}")).alias(f"ntok_{r}")
                for r in rl
            ],
        )
    )
    stack = ", ".join(f"{r}, ntok_{r}" for r in rl)
    return (
        agg.selectExpr(
            "source",
            "CAST(n_words AS BIGINT) AS n_words",
            "CAST(n_chars AS BIGINT) AS n_chars",
            f"stack({len(rl)}, {stack}) AS (n_merges, n_tokens)",
        )
        .selectExpr(
            "CAST(n_merges AS INT) AS n_merges",
            "source",
            "n_words",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "n_chars",
            "round(CAST(n_tokens AS DOUBLE) / n_words, 6)"
            " AS tokens_per_word",
            "round(CAST(n_chars AS DOUBLE) / n_tokens, 6)"
            " AS chars_per_token",
        )
        .orderBy("n_merges", "source")
    )
