"""Corpus-preparation operators for large-scale training-data pipelines:
normalization, PII redaction, Gopher-style quality filtering, repetition
statistics, deterministic stratified sampling, source mixing weights,
corpus vocabulary statistics, and incremental (anti-join) dedup.

Scale design:
  - Every per-document transform is a JVM expression (regexp/split/
    higher-order array functions) — whole-stage codegen, no Python, linear
    in input splits, no shuffle.
  - Corpus-level statistics (vocab, mixing weights) are classic two-phase
    aggregations: map-side partials shrink the shuffle to |vocab| /
    |sources| rows regardless of corpus size.
  - Sampling is HASH-deterministic (md5 of the id), not rand(): the same
    row is kept on every run, on any cluster layout, at any parallelism —
    a requirement for reproducible training mixes, and what makes the
    DuckDB oracle exact.
  - Incremental dedup is a left-anti join on the fingerprint. At 100 TB
    the "seen" side is a compact (fp) projection; AQE picks broadcast vs
    shuffle join by its actual size. (Flink's analog is the lookup/
    temporal join against a dedup store; reference semantics:
    flink-table/flink-table-runtime .../deduplicate/ operators.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_spark.exprutil import memo
from flink_spark.llm.text import LANG_STOPWORDS

# ---------------------------------------------------------------------------
# normalization + PII

# PII patterns — RE2/Java-compatible (no lookbehind), shared with oracles.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def normalize_text(col) -> Column:
    """Canonical text normalization: trim, collapse whitespace, lowercase,
    strip non-word/space punctuation. One codegen'd expression chain."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(F.trim(c))
    c = F.regexp_replace(c, r"[^\w\s]", "")
    return F.regexp_replace(c, r"\s+", " ")


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans (email/phone/IPv4/SSN) with typed placeholders and
    count matches per category. Pure regexp_replace — linear scan."""
    out = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
            ).alias(f"n_{kind}")
        )
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return df.select("*", out.alias("text_redacted"), *counts)


# ---------------------------------------------------------------------------
# Gopher-style quality rules

GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_WORD_LEN_MIN = 2.0
GOPHER_MEAN_WORD_LEN_MAX = 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORD_TYPES = 2


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-rules quality filter (word count band, mean word length band,
    symbol-to-char ratio, stopword-presence) → per-rule booleans + keep.
    All JVM expressions; the filter itself is a codegen'd predicate that
    Catalyst can push below later joins. The flag Columns are memoized
    per ``text_col`` (each functions.* call is a py4j round trip, and the
    streaming curation chain calls this per micro-batch)."""
    return df.select("*", *memo(("gopher", text_col),
                                lambda: _gopher_flag_cols(text_col)))


def _gopher_flag_cols(text_col: str) -> list:
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(toks)
    mean_wl = (F.length(F.col(text_col)) - n_words + 1) / n_words
    n_symbols = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[#@\.\*]", "")
    )
    stop = F.array([F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop))
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_wl = (mean_wl >= GOPHER_MEAN_WORD_LEN_MIN) & (
        mean_wl <= GOPHER_MEAN_WORD_LEN_MAX
    )
    ok_sym = n_symbols / F.length(F.col(text_col)) <= GOPHER_MAX_SYMBOL_RATIO
    ok_stop = n_stop >= GOPHER_MIN_STOPWORD_TYPES
    return [
        ok_words.alias("ok_word_count"),
        ok_wl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_wl & ok_sym & ok_stop).alias("keep"),
    ]


# ---------------------------------------------------------------------------
# repetition statistics (Gopher repetition signals)


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document 2-gram repetition: total bigrams, share held by the
    most frequent bigram, share of bigrams occurring more than once.
    Explode → two keyed aggregations; partial aggregation keeps the
    shuffle proportional to distinct (doc, gram), and the doc_id grouping
    key means the second agg is a near-local rollup."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.expr(
        f"transform(sequence(1, greatest(size(split(trim({text_col}), '\\\\s+')) - 1, 0)), "
        f"i -> concat_ws(' ', slice(split(trim({text_col}), '\\\\s+'), i, 2)))"
    )
    per_gram = (
        df.select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("n"))
    )
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("n").alias("n_bigrams"),
            (F.max("n") / F.sum("n")).alias("top_bigram_frac"),
            (
                F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
                / F.sum("n")
            ).alias("dup_bigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic sampling + mixing


def _hash_bucket(col, buckets: int = 1000) -> Column:
    """Deterministic [0, buckets) bucket from the 60-bit md5 projection —
    identical in Spark (conv) and DuckDB (hex-literal cast)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")
    return h % buckets


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      stratum_col: str = "source",
                      id_col: str = "doc_id",
                      default_rate: float = 0.0) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its id-hash bucket
    falls under the stratum's rate. No shuffle at all — a pure filter the
    scanner can evaluate — and reproducible independent of partitioning."""
    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == k, F.lit(v)).otherwise(rate)
    return df.where(_hash_bucket(id_col) < (rate * 1000).cast("bigint"))


def source_mix_weights(df: DataFrame, stratum_col: str = "source",
                       text_col: str = "text") -> DataFrame:
    """Per-source corpus share and the resampling weight that would flatten
    the mix to uniform: weight = target_share / actual_token_share.
    One partial-aggregated shuffle to |sources| rows, then a broadcast-size
    window for the totals."""
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    per_src = df.groupBy(stratum_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    n_src = F.count("*").over(w)
    return per_src.select(
        stratum_col,
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        ((1.0 / n_src) / share).alias("uniform_weight"),
    )


# ---------------------------------------------------------------------------
# corpus vocabulary


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus-level token frequencies, top k by (count desc, token asc).
    The canonical two-phase word count: explode → partial counts map-side →
    one shuffle keyed by token → global counts → tiny sort-limit."""
    toks = F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token")
    counts = (
        df.select(toks)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    return (
        counts.orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
        .select(
            "token",
            "n",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("token")))
            .alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# incremental dedup


def incremental_dedup(new_df: DataFrame, seen_df: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Anti-join the incoming batch against an already-ingested corpus on
    the exact-dedup fingerprint. The seen side is projected to just (fp)
    and de-duplicated before the join, so at scale it is the minimal
    possible build side; AQE broadcasts it when it fits."""
    norm_new = F.lower(F.regexp_replace(F.trim(new_df[text_col]), r"\s+", " "))
    norm_seen = F.lower(F.regexp_replace(F.trim(seen_df[text_col]), r"\s+", " "))
    seen_fp = seen_df.select(F.md5(norm_seen).alias("fp")).distinct()
    tagged = new_df.select(F.col(id_col), F.md5(norm_new).alias("fp"))
    return tagged.join(seen_fp, "fp", "left_anti").select(id_col, "fp")


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)

SEQ_LEN = 256  # tokens per training sequence (small to exercise multi-bin)


def sequence_pack(df: DataFrame, seq_len: int = SEQ_LEN,
                  stratum_col: str = "source", order_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in a
    deterministic order per stratum and cut into fixed-capacity token
    bins; each doc gets its (bin, offset) placement.

    bin = floor(tokens_before / seq_len), offset = tokens_before % seq_len
    — i.e. the contiguous token stream is chunked every ``seq_len`` tokens
    (docs may straddle a boundary; the offset says where they start).

    Scale: one window per stratum (partitionBy source) — strata pack in
    parallel and nothing is global, unlike a whole-corpus running sum.
    """
    from pyspark.sql import Window

    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tok).over(w)
    before = cum - n_tok
    return df.select(
        order_col,
        stratum_col,
        n_tok.alias("n_tokens"),
        (before / seq_len).cast("bigint").alias("bin_id"),
        (before % seq_len).alias("bin_offset"),
    )


def sequence_pack_ranged(df: DataFrame, seq_len: int = SEQ_LEN,
                         stratum_col: str = "source", order_col: str = "doc_id",
                         text_col: str = "text", n_buckets: int = 64) -> DataFrame:
    """``sequence_pack`` with parallelism independent of |strata| — the
    two-pass distributed prefix sum for the single-giant-stratum case
    (where one window partition would serialize the whole corpus).

      pass 1  bucket each doc by ``order_col`` range inside its stratum
              (min/max from one tiny agg → fixed-width ranges, order-
              preserving), then aggregate per-(stratum, bucket) token
              totals — a plain distributed groupBy.
      seam    running-total the |strata|×n_buckets bucket rows into
              per-bucket prefix offsets — a window over tiny data.
      pass 2  running sum *within* each (stratum, bucket) partition;
              global offset = bucket prefix + local running sum.

    Output is bit-identical to ``sequence_pack`` (same bins, same
    offsets); only the partitioning changes: the widest window partition
    shrinks from a whole stratum to 1/n_buckets of it, so a single
    100 TB stratum still packs on every executor. ``order_col`` must be
    numeric for range bucketing (doc ids here)."""
    from pyspark.sql import Window

    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    base = df.select(
        order_col, stratum_col, n_tok.alias("n_tokens")
    )
    # pass 1a: per-stratum order range → fixed-width, order-preserving buckets
    rng = base.groupBy(stratum_col).agg(
        F.min(order_col).alias("__lo"), F.max(order_col).alias("__hi")
    )
    width = F.greatest(
        F.lit(1),
        F.ceil((F.col("__hi") - F.col("__lo") + 1) / F.lit(n_buckets)),
    )
    bucketed = base.join(F.broadcast(rng), stratum_col).withColumn(
        "__bucket", F.floor((F.col(order_col) - F.col("__lo")) / width)
    ).drop("__lo", "__hi")
    # pass 1b: per-bucket token totals (distributed agg, no wide window)
    totals = bucketed.groupBy(stratum_col, "__bucket").agg(
        F.sum("n_tokens").alias("__bucket_tokens")
    )
    # seam: prefix offsets over the tiny (|strata| × n_buckets) frame
    wseam = (
        Window.partitionBy(stratum_col)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefixes = totals.select(
        stratum_col,
        "__bucket",
        (F.sum("__bucket_tokens").over(wseam) - F.col("__bucket_tokens")).alias(
            "__bucket_prefix"
        ),
    )
    # pass 2: local running sum inside each (stratum, bucket) partition
    wlocal = (
        Window.partitionBy(stratum_col, "__bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_before = F.sum("n_tokens").over(wlocal) - F.col("n_tokens")
    before = F.col("__bucket_prefix") + local_before
    return (
        bucketed.join(F.broadcast(prefixes), [stratum_col, "__bucket"])
        .select(
            order_col,
            stratum_col,
            "n_tokens",
            (before / seq_len).cast("bigint").alias("bin_id"),
            (before % seq_len).alias("bin_offset"),
        )
    )


def passage_dedup(df: DataFrame, chunk_words: int = 10,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Passage-level exact dedup (the C4/RefinedWeb paragraph-dedup pass,
    applied to fixed ``chunk_words``-word passages since the synthetic
    corpus has no paragraph breaks): identical passages across the corpus
    keep only their first occurrence in (doc, position) order; the rest
    are flagged removed. Emits per-doc kept/removed counts.

    Plan shape (100 TB): explode to (doc, idx, passage) — all JVM array
    ops — one shuffle on the passage for the keep-first window, one
    re-aggregation per doc. No pairwise comparisons anywhere."""
    from pyspark.sql import Window

    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.floor(F.size(ws) / chunk_words).cast("int")
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(
                F.slice(ws, i * chunk_words + 1, chunk_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(
        id_col, F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy(id_col, "chunk_idx")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("kept_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("removed_chunks"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination


def decontaminate(train_df: DataFrame, eval_df: DataFrame,
                  n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Flag training documents that share any word n-gram with an eval/
    benchmark set (the standard pre-training decontamination pass).

    Plan shape: the eval side collapses to a DISTINCT shingle set (tiny
    relative to the corpus — benchmarks are small), the train side explodes
    to (doc, shingle) and semi-joins it; AQE broadcasts the eval shingles.
    Output: per-train-doc hit count of distinct contaminated shingles
    (docs with no hits are absent — filter-join semantics).
    """
    from flink_spark.llm.dedup import word_shingles

    train_sh = word_shingles(train_df, text_col, n, id_col)
    eval_sh = (
        word_shingles(eval_df, text_col, n, id_col)
        .select("shingle")
        .distinct()
    )
    return (
        train_sh.join(eval_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_shingles"))
    )


def url_canonical_dedup(df: DataFrame, url_col: str = "url",
                        id_col: str = "doc_id") -> DataFrame:
    """URL-canonicalization dedup (the CommonCrawl-style pre-text dedup
    pass): normalize scheme/case/www/trailing-slash/query-fragment noise
    to a canonical key, keep the smallest id per key. All JVM regex —
    one hash shuffle on the canonical key, same scale shape as exact
    text dedup."""
    canon = F.regexp_replace(F.lower(F.col(url_col)), r"^https?://", "")
    canon = F.regexp_replace(canon, r"^www\.", "")
    canon = F.regexp_replace(canon, r"[?#].*$", "")
    canon = F.regexp_replace(canon, r"/+$", "")
    return (
        df.withColumn("canonical_url", canon)
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )
