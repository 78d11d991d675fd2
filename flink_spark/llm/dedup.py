"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):
  - exact: one hash-shuffle on the fingerprint — O(n).
  - n-gram Jaccard: exact pairwise similarity via a shingle inverted index
    (explode→self-join on shingle→pair counts). Correct but the join fans
    out quadratically inside hot shingle buckets — the small-data oracle.
  - MinHash+LSH: the 100 TB path. Signatures are fixed size (K hashes) per
    doc regardless of doc length; banding turns near-dup search into an
    equality join on (band, band-signature) — no cross product. Candidate
    pairs are then verified on signature agreement.
  - SimHash: 60-bit fingerprint; hamming-ball pairing.

Everything is JVM expressions (md5/conv arithmetic, explode, groupBy) —
deterministic across engines, which is what lets DuckDB oracle-check the
exact same pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_spark.exprutil import memo

# MinHash parameters — shared verbatim with the SQL oracles.
MH_PRIME = 2147483647  # 2^31 - 1
MH_K = 32  # signature length
MH_BAND_ROWS = 4  # rows per LSH band → 8 bands
# deterministic odd multipliers / offsets
MH_PARAMS = [(2 * i + 1, 101 * i + 17) for i in range(MH_K)]


def _portable_hash(col: Column) -> Column:
    """60-bit integer hash of a string, identical in Spark and DuckDB:
    first 15 hex digits of md5. Spark: conv(hex,16,10); DuckDB:
    ('0x'||substr(md5(s),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def word_shingles(df: DataFrame, text_col: str, n: int = 3,
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document (JVM transform+explode)."""
    grams = F.expr(
        f"transform(sequence(1, greatest(size(split(trim({text_col}), '\\\\s+')) - {n - 1}, 0)), "
        f"i -> concat_ws(' ', slice(split(trim({text_col}), '\\\\s+'), i, {n})))"
    )
    return (
        df.select(id_col, F.explode(grams).alias("shingle"))
        .distinct()
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: keep min-id doc per
    group, report group size. One shuffle on the 128-bit hash."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return (
        df.select(F.md5(norm).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index."""
    sh = word_shingles(df, text_col, n, id_col).cache()
    counts = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# Batch-independent Column trees, built ONCE per process (lazily, through
# exprutil.memo) and reused across every plan that embeds them. Column
# objects are immutable unresolved-expression wrappers, so sharing them
# between DataFrames is safe; building them is NOT free — each
# functions.* call is a py4j round trip (~1-2 ms on the bench box), and
# the K=32 minhash family costs several hundred round trips per
# construction. The streaming operators rebuild their per-batch plans
# inside foreachBatch, so before this memo every micro-batch re-paid the
# full construction (measured: ~0.9 s of the ~2.0 s per-batch plan-build
# in batch_neardup_plan).


def _mh_agg_cols() -> list:
    """The K min-aggregate columns of the wide signature table."""
    return memo(("dedup", "mh_agg"), lambda: [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MH_PRIME).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MH_PARAMS)
    ])


def _band_structs() -> Column:
    """The bands array (band id, concatenated band signature)."""
    return memo(("dedup", "band_structs"), lambda: F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[
                F.col(f"mh_{b * MH_BAND_ROWS + r}").cast("string")
                for r in range(MH_BAND_ROWS)
            ]).alias("sig"),
        )
        for b in range(MH_K // MH_BAND_ROWS)
    ]))


def minhash_signatures_wide(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Wide minhash table (doc_id, mh_0..mh_{K-1}): all K mins in ONE
    doc-keyed aggregation — the shuffle carries K partial mins per doc,
    not K× the shingle rows (32× less exchange volume than the
    explode-then-group formulation at any scale)."""
    sh = word_shingles(df, text_col, 3, id_col)
    hashed = sh.withColumn("h", _portable_hash(F.col("shingle")) % MH_PRIME)
    return hashed.groupBy(id_col).agg(*_mh_agg_cols())


def band_rows(wide: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """LSH band rows (id, band, sig) off a wide signature table: band key
    = concatenated minhashes of the band's MH_BAND_ROWS positions — a
    per-row expression (no (doc, band) regroup shuffle and no
    collect_list nondeterminism)."""
    return wide.select(id_col, F.explode(_band_structs()).alias("p")).select(
        id_col, F.col("p.band").alias("band"), F.col("p.sig").alias("sig")
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_agree: int = MH_K // 2) -> DataFrame:
    """MinHash LSH candidate pairs + signature-agreement verification.

    bands: group signature rows into MH_K/MH_BAND_ROWS bands; band key =
    concatenated minhashes. Docs sharing any band bucket are candidates
    (equality join — no cross product); candidates verified by counting
    agreeing signature positions (>= min_agree of MH_K).
    """
    wide = minhash_signatures_wide(df, text_col, id_col).cache()
    bands = band_rows(wide, id_col)
    # batch-independent Column lists, built once per (id_col) and reused
    # (same py4j-round-trip economics as _mh_agg_cols — this function is
    # called per bench pass and inside dedup_clusters)
    ba = bands.select(*memo(("dedup", "ba", id_col), lambda: [
        F.col(id_col).alias("doc_a"), F.col("band"), F.col("sig")]))
    bb = bands.select(*memo(("dedup", "bb", id_col), lambda: [
        F.col(id_col).alias("doc_b"), F.col("band"), F.col("sig")]))
    cand = (
        ba.join(bb, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verification: two wide-row joins + a 32-term agreement expression —
    # no per-position explode, no (doc, i) join
    wa = wide.select(*memo(("dedup", "wa", id_col), lambda: [
        F.col(id_col).alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(MH_K)],
    ]))
    wb = wide.select(*memo(("dedup", "wb", id_col), lambda: [
        F.col(id_col).alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(MH_K)],
    ]))
    n_agree_col = memo(("dedup", "n_agree_named"), lambda: sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
        for i in range(MH_K)
    ).alias("n_agree"))
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", n_agree_col)
        .filter(F.col("n_agree") >= min_agree)
        .withColumn("est_jaccard", F.col("n_agree") / F.lit(float(MH_K)))
    )


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """SimHash fingerprint: sign-sum of token-hash bits. 60-bit (15 hex
    chars of md5) to stay in exact int64 range on both engines."""
    toks = (
        df.select(id_col, F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"))
        .withColumn("h", _portable_hash(F.col("w")))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    contrib = toks.select(id_col, "h", bit).withColumn(
        "v",
        F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1),
    )
    bitsum = contrib.groupBy(id_col, "bit").agg(F.sum("v").alias("s"))
    return bitsum.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(1 AS BIGINT) << bit")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("simhash")
    )


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash hamming distance. Pairing is blocked on
    the top-16 bits (docs differing there can still pair only if the high
    bits agree — with max_hamming<=3 we additionally check the 4-block
    pigeonhole: at least one of four 15-bit blocks must match exactly)."""
    sh = simhash(df, text_col, id_col).cache()
    blocks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.shiftright(F.col("simhash"), 15 * k)
                        .bitwiseAND((1 << 15) - 1)
                        .alias("key"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", F.col("b.blk").alias("blk"), F.col("b.key").alias("key"))
    la = blocks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "blk", "key"
    )
    lb = blocks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "blk", "key"
    )
    cand = (
        la.join(lb, ["blk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a pair list by min-label propagation —
    the transitive-closure step that turns near-dup PAIRS into dedup
    CLUSTERS (each doc labeled with its component's min id, the canonical
    survivor). The iterative hash-to-min scheme GraphX/GraphFrames use,
    expressed in plain DataFrame ops.

    Scale shape: per iteration one symmetric-edge join + one min-groupBy
    (two key shuffles over |E| + |V| rows) and an O(1)-row convergence
    aggregate; lineage cut per iteration via localCheckpoint. Iteration
    count is the component diameter (near-dup clusters are shallow — a
    handful of rounds in practice); ``max_iter`` bounds pathological
    chains and raises rather than returning a wrong labeling.

    Convergence detection exploits monotonicity: a node's label is
    ``min(old, incoming)``, so labels never increase and ``SUM(comp)``
    is a strictly decreasing potential function until the fixpoint —
    one aggregate over the already-checkpointed |V| rows replaces the
    old-vs-new join + count (a full extra shuffle per iteration).
    DECIMAL(38,0) accumulation keeps the sum overflow-proof at any
    corpus size."""
    import uuid

    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .persist()
    )
    # LAZY local checkpoints throughout the loop: the potential aggregate
    # that follows every label update computes all partitions anyway, so
    # it materializes the checkpoint inside its own job — one driver job
    # per round instead of (eager checkpoint + collect) two (the lineage
    # cut is identical; only the materializing action changes)
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )

    pot_col = memo(("dedup", "cc_potential"), lambda: F.sum(
        F.col("comp").cast("decimal(38,0)")).alias("s"))

    def _potential(lbl: DataFrame):
        return lbl.agg(pot_col).collect()[0]["s"]

    # The round update runs as ONE SQL statement over per-call temp views
    # instead of a chain of DataFrame ops: each intermediate Dataset is
    # eagerly analyzed at construction, and the join→select→union→union→
    # groupBy chain cost ~0.5 s of driver time PER ROUND against a ~0.15 s
    # round job (measured) — one spark.sql call is one parse+analysis.
    # The statement is the verbatim relational form of the old chain:
    #   labels ∪ (edges ⋈ labels on u).select(v, comp)       [propagate]
    #         ∪ (l1 ⋈ l2 on l1.comp = l2.node).select(node, l2.comp)
    #                                                        [pointer jump]
    #   → groupBy(node).min(comp)
    # Pointer jumping: adopt the label OF my current label (comp is
    # always itself a node, so the self-join is total). Plain hash-to-min
    # needs O(diameter) rounds — a dup CHAIN A~B~C~... converges one hop
    # per round (measured 12 rounds at sf0.1); jumping doubles the
    # collapsed distance per round, O(log d), at the cost of one extra
    # tiny |V|-row join per round. The fixpoint (component min) and the
    # monotone-potential convergence test are unchanged.
    tag = uuid.uuid4().hex[:12]
    v_edges, v_lbl = f"__cc_edges_{tag}", f"__cc_labels_{tag}"
    edges.createOrReplaceTempView(v_edges)
    round_sql = f"""
        SELECT node, MIN(comp) AS comp FROM (
          SELECT node, comp FROM {v_lbl}
          UNION ALL
          SELECT e.v AS node, l.comp FROM {v_edges} e
          JOIN {v_lbl} l ON e.u = l.node
          UNION ALL
          SELECT l1.node, l2.comp FROM {v_lbl} l1
          JOIN {v_lbl} l2 ON l1.comp = l2.node
        ) GROUP BY node
    """
    prev = _potential(labels)
    try:
        for _ in range(max_iter):
            labels.createOrReplaceTempView(v_lbl)
            new_labels = spark.sql(round_sql).localCheckpoint(eager=False)
            cur = _potential(new_labels)
            labels = new_labels
            if cur == prev:
                return labels
            prev = cur
        raise ValueError(
            f"connected_components: no fixpoint after {max_iter} iterations"
        )
    finally:
        edges.unpersist()
        spark.catalog.dropTempView(v_edges)
        try:
            spark.catalog.dropTempView(v_lbl)
        except Exception:
            pass


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs → connected components →
    ``(doc_id, cluster_id, is_canonical)`` where ``cluster_id`` is the
    component's min doc id and the canonical doc is the one a dedup
    pipeline keeps (everything else in the cluster is dropped). Docs in
    no pair are absent — they are their own trivial cluster."""
    pairs = minhash_lsh_pairs(df, text_col, id_col)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias(id_col),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )


def long_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring spans — the practical rendition
    of suffix-array training-data dedup ("ExactSubstr"): any ``window``-
    token substring that occurs in ≥ ``min_docs`` DISTINCT documents
    marks its span; overlapping marked spans merge per document.

    Returns (id_col, span_start, span_end, span_tokens): 1-based token
    positions, inclusive, span_tokens = end - start + 1.

    Scale shape (100 TB): one explode pass to (doc, pos, gram-md5) —
    rows ≈ corpus token count; one groupBy gram for the distinct-doc
    count (shuffle on the hash, map-side partial); one semi-join of
    positions against repeated grams (same key — AQE co-partitions);
    one per-doc window for interval merging. No suffix array, no
    cross product; every step is a hash shuffle on a uniform key."""
    k = window
    toks = f"split(trim({text_col}), '\\\\s+')"
    grams = F.expr(
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 0)), "
        f"i -> struct(i AS pos, md5(concat_ws(' ', slice({toks}, i, {k}))) AS gh))"
    )
    pos = df.select(id_col, F.explode(grams).alias("g")).select(
        id_col, F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")
    )
    repeated = (
        pos.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    marked = pos.join(repeated, "gh", "left_semi")
    # gaps-and-islands over [pos, pos+k-1] intervals per doc: a new island
    # starts when pos > running_max(prev end) ; islands merge via the
    # cumulative sum of new-island flags
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    marked = marked.withColumn(
        "prev_max_end", F.max(F.col("pos") + (k - 1)).over(w_run)
    ).withColumn(
        "new_island",
        (F.col("prev_max_end").isNull()
         | (F.col("pos") > F.col("prev_max_end") + 1)).cast("int"),
    ).withColumn(
        "island", F.sum("new_island").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    return (
        marked.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            id_col, "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .alias("span_tokens"),
        )
    )
