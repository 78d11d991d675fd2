"""Text-analysis operators for large-scale training-data pipelines:
tokenization stats, quality scoring, language ID, fingerprinting.

All hot paths are JVM expressions (split/regexp/aggregate) — no Python UDFs —
so they run inside whole-stage codegen and scale linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and shared with the SQL oracle.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "los", "que"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokens(col) -> Column:
    """Whitespace tokenization (the baseline tokenizer)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-score features: length, token stats, stopword ratio,
    punctuation ratio, mean word length. Mirrors common pretraining-data
    quality filters (length/punct/stopword heuristics)."""
    t = F.col(text_col)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    stop = F.array([F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(toks, stop))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return df.select(
        "*",
        F.length(t).alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (F.size(F.array_distinct(toks)) / n_tok).alias("ttr"),  # type-token ratio
        n_stop.alias("n_stopword_types"),
        n_punct.alias("n_punct"),
        ((F.length(t) - n_tok + 1) / n_tok).alias("mean_word_len"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: score = number of language-marker
    words present; argmax with deterministic tiebreak on language code.
    JVM-only (array_intersect per language)."""
    toks = F.array_distinct(tokens(text_col))
    scores = [
        F.struct(
            F.size(
                F.array_intersect(toks, F.array([F.lit(w) for w in words]))
            ).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(LANG_STOPWORDS.items())
    ]
    # array_max over structs: compares score first, then lang; to make the
    # tiebreak prefer the *earliest* lang code at equal score, invert lang
    # ordering via a sortable key.
    best = F.sort_array(F.array(*scores), asc=False)[0]
    return df.select(
        "*",
        best["score"].alias("lang_score"),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "lang_pred"
        ),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dedup key. Also a 60-bit integer projection for compact
    storage/joins."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    h = F.md5(norm)
    return df.select(
        "*",
        h.alias("fp_md5"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint").alias("fp_int"),
    )


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Unigram language-model quality score (the KenLM-perplexity-filter
    stand-in used by CCNet-style pipelines, expressed exactly): score each
    document by the average log-probability of its tokens under the
    corpus's own unigram distribution. Low scores = far from the corpus
    distribution (gibberish or off-domain) — the standard perplexity
    pruning signal.

    Scale shape (100 TB): token frequencies are a two-phase count (map-side
    partials, one token-keyed shuffle); documents join the frequency table
    on token AFTER collapsing to per-doc (token, cnt) pairs, so the join
    carries |distinct pairs|, not |tokens|; head-word skew is AQE
    skew-join territory and the frequency side broadcasts when the
    vocabulary fits. Everything is JVM expressions — no Python."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    pairs = toks.groupBy(id_col, "w").agg(F.count("*").alias("cnt"))
    freq = pairs.groupBy("w").agg(F.sum("cnt").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    # ln() may differ by 1 ulp across engines and float sums are
    # order-dependent: round each term to 9 digits, sum exactly in
    # decimal (the repo-wide cross-engine determinism discipline)
    term = F.col("cnt") * F.round(F.log(F.col("c") / F.col("t")), 9)
    scored = (
        pairs.join(freq, "w")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            (F.sum(term.cast("decimal(30,6)")).cast("double")
             / F.sum("cnt")).alias("avg_logprob"),
        )
    )
    return scored


def tfidf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-k characteristic terms per document by tf-idf (ln(N/df) idf,
    raw tf): the classic keyword/topic extraction pass over a corpus.

    Same two-phase shape as ``unigram_logprob``: per-doc term counts
    collapse before any join; document frequency is a second small
    aggregate keyed by token; the per-doc top-k is a WindowGroupLimit
    (rank ≤ k pushed into the shuffle) — no global sort."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        # per-row score, 9-digit rounded for cross-engine ln() parity
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 9)
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("w")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, F.col("w").alias("term"), "tf", "df", "tfidf",
                F.col("rnk").cast("long").alias("rnk"))
    )


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Bigram language-model quality score — one order up from
    ``unigram_logprob`` (the KenLM n-gram perplexity filter family):
    score each document by the average log-probability of its bigrams
    under the corpus's own bigram MLE, P(v|u) = C(u,v) / Σ_w C(u,w).
    The history count is the bigram-prefix sum, so every in-corpus bigram
    has a well-defined nonzero probability (the corpus defines the model;
    no smoothing needed for self-scoring). Repetitive boilerplate scores
    high, incoherent token soup scores low — a sharper curation signal
    than unigram frequency alone.

    Scale shape (100 TB): bigram extraction is one JVM ``transform`` over
    the token array (no self-join on position); per-doc (u,v,cnt)
    collapse before the model join, so the join carries distinct pairs;
    the bigram model is token-prefix-keyed (one shuffle, AQE skew
    territory for head words). Cross-engine float discipline: per-term
    9-digit rounding + exact decimal summation."""
    # tokenize ONCE into a column; the transform then only indexes it
    # (inlining the split re-tokenizes 3x per row)
    big = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__ts"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(slice(__ts, 1, greatest(size(__ts) - 1, 0)), "
                    "(x, i) -> struct(x AS u, element_at(__ts, i + 2) AS v))"
                )
            ).alias("p"),
        )
        .select(id_col, F.col("p.u").alias("u"), F.col("p.v").alias("v"))
    )
    big = big.filter((F.col("u") != "") & (F.col("v") != ""))
    pairs = big.groupBy(id_col, "u", "v").agg(F.count("*").alias("cnt"))
    model = pairs.groupBy("u", "v").agg(F.sum("cnt").alias("cuv"))
    hist = model.groupBy("u").agg(F.sum("cuv").alias("cu"))
    term = F.col("cnt") * F.round(F.log(F.col("cuv") / F.col("cu")), 9)
    return (
        pairs.join(model, ["u", "v"])
        .join(hist, "u")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            (F.sum(term.cast("decimal(30,6)")).cast("double")
             / F.sum("cnt")).alias("avg_logprob"),
        )
    )


def interpolated_logprob(df: DataFrame, lam: float = 0.75,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Jelinek-Mercer interpolated n-gram score — the actual KenLM-family
    smoothing shape: P(v|u) = λ·P_bi(v|u) + (1−λ)·P_uni(v). The unigram
    back-off floor means rare continuations are scored, not zeroed, which
    is what makes the signal usable as a perplexity filter on noisy data.

    Same scale shape as ``bigram_logprob`` (per-doc pair collapse, model
    joins on distinct pairs, everything JVM) plus one more broadcast-able
    join against the unigram frequency table; same 9-digit-round +
    decimal-sum cross-engine determinism."""
    big = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__ts"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(slice(__ts, 1, greatest(size(__ts) - 1, 0)), "
                    "(x, i) -> struct(x AS u, element_at(__ts, i + 2) AS v))"
                )
            ).alias("p"),
        )
        .select(id_col, F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .filter((F.col("u") != "") & (F.col("v") != ""))
    )
    pairs = big.groupBy(id_col, "u", "v").agg(F.count("*").alias("cnt"))
    model = pairs.groupBy("u", "v").agg(F.sum("cnt").alias("cuv"))
    hist = model.groupBy("u").agg(F.sum("cuv").alias("cu"))
    # unigram distribution over CONTINUATIONS (v positions) — the same
    # event space as the bigram model, so the mixture is a probability
    ufreq = model.groupBy("v").agg(F.sum("cuv").alias("cv"))
    total = ufreq.agg(F.sum("cv").alias("t"))
    p_mix = (
        F.lit(lam) * (F.col("cuv") / F.col("cu"))
        + F.lit(1.0 - lam) * (F.col("cv") / F.col("t"))
    )
    term = F.col("cnt") * F.round(F.log(p_mix), 9)
    return (
        pairs.join(model, ["u", "v"])
        .join(hist, "u")
        .join(ufreq, "v")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            (F.sum(term.cast("decimal(30,6)")).cast("double")
             / F.sum("cnt")).alias("avg_logprob"),
        )
    )
