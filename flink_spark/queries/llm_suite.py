"""LLM training-data pipeline operator coverage (SURVEY §7.1 north star):
dedup (exact/jaccard/minhash-LSH/simhash), similarity search, text
analysis, multimodal plumbing — over documents/embeddings.

Oracles replicate the exact same deterministic constructions in DuckDB SQL
(portable 60-bit md5 hash, shared minhash parameters, decimal-exact dot
products), so pair sets and scores hash-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_spark.llm import dedup as D
from flink_spark.llm import multimodal as MM
from flink_spark.llm import similarity as SIM
from flink_spark.llm import text as TXT
from flink_spark.queries import annsql as ANN
from flink_spark.queries.registry import query
from flink_spark.sources.tables import load_table

# shared SQL fragments ------------------------------------------------------

_MH_PARAMS_SQL = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.MH_PARAMS))

_SHINGLES_SQL = """
  w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
  sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
         FROM w, LATERAL (SELECT generate_subscripts(ws, 1) AS i) t
         WHERE i <= len(ws) - 2)
"""

_MINHASH_SQL = f"""
  params(i, a, b) AS (VALUES {_MH_PARAMS_SQL}),
  hashed AS (SELECT doc_id,
                    (('0x' || substr(md5(shingle), 1, 15))::BIGINT) % {D.MH_PRIME} AS h
             FROM sh),
  sig AS (SELECT doc_id, i, MIN((a * h + b) % {D.MH_PRIME}) AS mh
          FROM hashed CROSS JOIN params GROUP BY doc_id, i)
"""


@query(
    "llm_dedup_exact",
    oracle="""
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def llm_dedup_exact(spark, sf_dir):
    """Exact dedup: one hash-shuffle on the normalized-text md5."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(docs)


@query(
    "llm_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_md5,
           ('0x' || substr(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp_int
    FROM documents
    """,
)
def llm_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 + 60-bit integer projection (portable
    across engines: Spark conv(hex,16,10) ≡ DuckDB hex-literal cast)."""
    docs = load_table(spark, sf_dir, "documents")
    return TXT.fingerprint(docs).select("doc_id", "fp_md5", "fp_int")


@query(
    "llm_token_stats",
    oracle="""
    WITH t AS (SELECT doc_id, n_chars,
                      string_split_regex(trim(text), '\\s+') AS toks
               FROM documents)
    SELECT doc_id, n_chars,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           len(list_distinct(toks)) / len(toks) AS ttr
    FROM t
    """,
)
def llm_token_stats(spark, sf_dir):
    """Token counting + type-token ratio (whitespace tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
    )


@query(
    "llm_quality_score",
    oracle="""
    WITH t AS (SELECT doc_id, text,
                      string_split_regex(trim(text), '\\s+') AS toks
               FROM documents)
    SELECT doc_id,
           length(text) AS n_chars_m,
           len(toks) AS n_tokens,
           len(list_intersect(list_distinct(toks),
                              ['the','and','of','to','a'])) AS n_stopword_types,
           length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
             AS n_punct,
           (length(text) - len(toks) + 1) / len(toks) AS mean_word_len
    FROM t
    """,
)
def llm_quality_score(spark, sf_dir):
    """Quality-scoring features: length / stopword presence / punctuation /
    mean word length — the standard pretraining quality filters, all JVM
    expressions."""
    docs = load_table(spark, sf_dir, "documents")
    out = TXT.quality_metrics(docs)
    return out.select(
        "doc_id", "n_chars_m", "n_tokens", "n_stopword_types", "n_punct",
        "mean_word_len",
    )


@query(
    "llm_lang_id",
    oracle="""
    WITH t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
               FROM documents),
    scores AS (
      SELECT doc_id, s.lang,
             len(list_intersect(toks, s.words)) AS score
      FROM t, (
        SELECT 'de' AS lang, ['der','die','und','das','ein'] AS words UNION ALL
        SELECT 'en', ['the','and','of','to','a'] UNION ALL
        SELECT 'es', ['el','la','de','los','que'] UNION ALL
        SELECT 'fr', ['le','la','et','les','des'] UNION ALL
        SELECT 'zh', ['的','是','了','在','我']
      ) s
    ), best AS (
      SELECT doc_id, lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
      FROM scores)
    SELECT doc_id, score AS lang_score,
           CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
    FROM best WHERE rn = 1
    """,
)
def llm_lang_id(spark, sf_dir):
    """Language ID via stopword-profile argmax (deterministic tiebreak:
    higher score, then lexicographically-last code — mirrored in oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return TXT.language_id(docs).select("doc_id", "lang_score", "lang_pred")


@query(
    "llm_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common,
           n_common / (ca.n + cb.n - n_common) AS jaccard
    FROM pairs
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_common / (ca.n + cb.n - n_common) >= 0.8
    """,
)
def llm_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (shingle inverted index)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.8)


@query(
    "llm_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_MINHASH_SQL},
    bands AS (SELECT doc_id, i // {D.MH_BAND_ROWS} AS band,
                     string_agg(mh::VARCHAR, ',' ORDER BY i) AS bsig
              FROM sig GROUP BY doc_id, i // {D.MH_BAND_ROWS}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
    agree AS (SELECT c.doc_a, c.doc_b,
                     SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS n_agree
              FROM cand c
              JOIN sig x ON x.doc_id = c.doc_a
              JOIN sig y ON y.doc_id = c.doc_b AND y.i = x.i
              GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b, CAST(n_agree AS BIGINT) AS n_agree,
           n_agree / {float(D.MH_K)} AS est_jaccard
    FROM agree WHERE n_agree >= {D.MH_K // 2}
    """,
)
def llm_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs — the 100 TB dedup path: fixed-size
    signatures, banding → equality join, no cross product. Identical
    deterministic hash family on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs)


@query(
    "llm_simhash_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
                  FROM documents),
    th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks),
    bits AS (SELECT doc_id, b.bit,
                    SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM th, (SELECT unnest(range(60)) AS bit) b
             GROUP BY doc_id, b.bit),
    sh AS (SELECT doc_id,
                  SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
           FROM bits GROUP BY doc_id),
    blocks AS (SELECT doc_id, simhash, k.blk,
                      (simhash >> (15 * k.blk)) & 32767 AS key
               FROM sh, (SELECT unnest(range(4)) AS blk) k),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sh_a, b.simhash AS sh_b
             FROM blocks a JOIN blocks b
               ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
)
def llm_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 60-bit sign-sum fingerprint, 4-block
    pigeonhole blocking, hamming <= 3."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs)


@query(
    "llm_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 10),
    c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings
          WHERE vec_id >= 10),
    dots AS (SELECT query_id, cand_id,
                    list_reduce(list_transform(range(1, len(qv) + 1),
                      i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y) AS dot,
                    list_reduce(list_transform(range(1, len(qv) + 1),
                      i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (x, y) -> x + y) AS na,
                    list_reduce(list_transform(range(1, len(cv) + 1),
                      i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y) AS nb
             FROM q CROSS JOIN c),
    scored AS (SELECT query_id, cand_id,
                      dot / (sqrt(na) * sqrt(nb)) AS cos_sim
               FROM dots)
    SELECT query_id, cand_id, round(cos_sim, 12) AS cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rank
      FROM scored) t
    WHERE rank <= 5
    """,
)
def llm_cosine_topk(spark, sf_dir):
    """Vector search (reference VECTOR_SEARCH TVF): exact brute-force
    cosine top-5 for 10 query vectors. Dot products are decimal-exact →
    identical ranking on both engines; broadcast queries × one candidate
    scan at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    )
    return SIM.brute_force_topk(q, c, k=5)


@query(
    "llm_lsh_topk",
    oracle="""
    WITH planes AS (
      SELECT j, list_transform(range(0, 64), i ->
        CASE WHEN ('0x' || substr(md5('0:' || j || ':' || i), 1, 8))::BIGINT
                  % 2 = 0
             THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS p
      FROM range(0, 4) t(j)
    ),
    qb AS (
      SELECT vec_id AS query_id, any_value(emb) AS qv,
             CAST(sum(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS INT)
               AS bucket
      FROM (
        SELECT e.vec_id, e.embedding AS emb, pl.j,
               list_reduce(list_transform(range(1, 65),
                 i -> e.embedding[i]::DOUBLE * pl.p[i]), (a, b) -> a + b)
                 AS dot
        FROM embeddings e, planes pl
        WHERE e.vec_id < 10) s
      GROUP BY vec_id
    ),
    cb AS (
      SELECT vec_id AS cand_id, any_value(emb) AS cv,
             CAST(sum(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS INT)
               AS bucket
      FROM (
        SELECT e.vec_id, e.embedding AS emb, pl.j,
               list_reduce(list_transform(range(1, 65),
                 i -> e.embedding[i]::DOUBLE * pl.p[i]), (a, b) -> a + b)
                 AS dot
        FROM embeddings e, planes pl
        WHERE e.vec_id >= 10) s
      GROUP BY vec_id
    ),
    scored AS (
      SELECT qb.query_id, cb.cand_id,
             list_reduce(list_transform(range(1, 65),
               i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                  i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(range(1, 65),
                    i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (a, b) -> a + b)))
               AS cos
      FROM qb JOIN cb USING (bucket)
    )
    SELECT query_id, cand_id, round(cos, 12) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS INT)
             AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def llm_lsh_topk(spark, sf_dir):
    """Approximate ANN via random-hyperplane LSH buckets — the scale path.
    Exactified in r8: the sketch's ±1 hyperplanes are *deterministically*
    md5-derived (similarity.hyperplane_sketch — no runtime RNG), and both
    engines fold the plane dot products in the same left-to-right IEEE
    order, so the whole approximate index — plane generation, sign
    bucketing, bucket equi-join, cosine re-score, top-5 — is reproduced
    verbatim in DuckDB SQL and value-checked end to end. (Recall vs the
    brute-force baseline is separately measured in tests/test_llm.py and
    gated by llm_lsh_recall_gate.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    )
    return SIM.lsh_topk(q, c, k=5, n_planes=4)


@query(
    "llm_multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(text::BLOB) AS n_bytes,
           md5(text) AS payload_md5,
           'text/plain' AS mime
    FROM documents
    """,
)
def llm_multimodal_meta(spark, sf_dir):
    """Multimodal ingest metadata: binary payload + JVM-computed size/hash
    (decode-free filtering at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.attach_binary(docs).select("doc_id", "n_bytes", "payload_md5", "mime")


@query(
    "llm_multimodal_features",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             hex(encode(text)) AS hx
      FROM documents
    ),
    v AS (
      SELECT doc_id, n_bytes,
             list_transform(range(0, n_bytes), i ->
               ('0x' || substr(hx, (i*2+1)::INT, 2))::BIGINT) AS vals
      FROM b
    )
    SELECT doc_id,
           CAST(n_bytes AS INTEGER) AS n_bytes,
           'text/plain' AS mime,
           CASE WHEN n_bytes > 0
                THEN list_reduce(vals, (a, x) -> a + x)::DOUBLE / n_bytes
           END AS byte_mean,
           CASE WHEN n_bytes > 0
                THEN list_reduce(vals, (a, x) -> least(a, x))::INT
           END AS byte_min,
           CASE WHEN n_bytes > 0
                THEN list_reduce(vals, (a, x) -> greatest(a, x))::INT
           END AS byte_max,
           COALESCE(n_bytes > 0, FALSE) AS feature_ok
    FROM v
    """,
)
def llm_multimodal_features(spark, sf_dir):
    """Arrow-batched feature extraction over binary payloads (the
    codec-free byte-stats kernel — see flink_spark/llm/multimodal.py
    extract_features). Exactified in r8: the byte-level
    features (mean/min/max over the UTF-8 payload) are reproduced in
    DuckDB by hex-encoding the payload and folding over the parsed byte
    list, so the Arrow kernel is value-checked end to end (both engines
    fold an exact integer sum, then one double divide)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.extract_features(MM.attach_binary(docs))


@query(
    "llm_cosine_neardup_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250),
    pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     a.embedding AS va, b.embedding AS vb
              FROM e a JOIN e b ON a.vec_id < b.vec_id),
    dots AS (SELECT id_a, id_b,
                    list_reduce(list_transform(range(1, len(va) + 1),
                      i -> va[i]::DOUBLE * vb[i]::DOUBLE), (x, y) -> x + y) AS dot,
                    list_reduce(list_transform(range(1, len(va) + 1),
                      i -> va[i]::DOUBLE * va[i]::DOUBLE), (x, y) -> x + y) AS na,
                    list_reduce(list_transform(range(1, len(vb) + 1),
                      i -> vb[i]::DOUBLE * vb[i]::DOUBLE), (x, y) -> x + y) AS nb
             FROM pairs)
    SELECT id_a, id_b,
           round(dot / (sqrt(na) * sqrt(nb)), 12) AS cos_sim
    FROM dots
    WHERE round(dot / (sqrt(na) * sqrt(nb)), 12) >= 0.35
    """,
)
def llm_cosine_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (the dedup family's vector
    member): all pairs with cosine ≥ 0.35 over a 250-vector slice
    (threshold sits at the ~99.9th percentile of this synthetic corpus's
    pair similarity, so the pair set is small but non-empty at every SF).
    Decimal-exact dot products → identical pair sets on both engines.
    Scale path: replace the O(n²) pair join with LSH sign-buckets
    (similarity.hyperplane_sketch) before scoring — same scorer, candidate
    set shrinks to bucket collisions."""
    from flink_spark.llm.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 250)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__qv"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__cv"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn("cos_sim", F.round(cosine("__qv", "__cv"), 12))
    return scored.filter(F.col("cos_sim") >= 0.35).select("id_a", "id_b", "cos_sim")


@query("llm_ivf_topk", oracle=ANN.ivf_topk_oracle())
def llm_ivf_topk(spark, sf_dir):
    """IVF-Flat approximate ANN (the inverted-file scale path next to LSH;
    reference surface VECTOR_SEARCH): k-means cells + n_probe nearest
    cells per query. EXACT oracle (r9): the deterministic Lloyd's
    (id-ordered init, sequential-fold distances, round-9 means, fixed 3
    iterations) unrolls into plain CTEs on the DuckDB side — see
    queries/annsql.py — the same way llm_lsh_topk's md5 planes were
    reproduced in r8. The ≥0.8-recall contract stays in
    llm_ivf_recall_gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    )
    return SIM.ivf_topk(q, c, k=5, n_centroids=8, n_probe=2)


@query(
    "llm_multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(doc_id % 100 AS DOUBLE) + 31.5 AS mean_r,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
    FROM documents
    """,
)
def llm_multimodal_decode(spark, sf_dir):
    """REAL image decode path (no codec stub): deterministic 8×8 P6 PPM
    payloads synthesized per doc (R gradient doc_id%100 + pixel index —
    no uint8 wraparound, so the channel mean is closed-form; G/B constant
    planes), then decoded back by parsing the actual PPM headers (the
    grammar of multimodal.decode_ppm) and reduced to geometry +
    per-channel means, one Arrow kernel per batch. The exact oracle holds iff
    every pixel of every payload round-trips correctly."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.image_features(MM.synthesize_images(docs))


def _ann_recall_gate(spark, sf_dir, method: str):
    """Exact-checkable harness for an approximate ANN method: recall@k is
    measured in-plan against the brute-force exact top-k (itself a Spark
    job), and the *gated* output is the boolean ``recall_ok`` — the same
    design that turned approx_count_distinct into an exact gate. The ANN
    path stays approximate; its contract (recall ≥ floor) becomes the
    value-checked fact."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    )
    exact = SIM.brute_force_topk(q, c, k=5).select("query_id", "cand_id")
    if method == "lsh":
        approx = SIM.lsh_topk(q, c, k=5, n_planes=4, n_tables=16)
    elif method == "pq":
        # the GATE pins an explicit corpus-fraction shortlist (ADVICE
        # r10): pq_topk's rows-independent 30·k default dilutes recall
        # as the corpus grows, so a floor promised at every scale
        # factor must scale its shortlist with the corpus. The count()
        # is gate-harness-only — the exact brute-force side scans the
        # whole corpus anyway; the production pq_topk path stays
        # action-free. (Floor margin with the fraction: recall 1.00 at
        # sf0.01, 0.96 at sf0.1 — identical to the 30·k default at
        # these sizes, but held by construction at larger sf.)
        approx = SIM.pq_topk(
            q, c, k=5, m=16, ks=16,
            shortlist=max(30 * 5, int(0.08 * c.count())),
        )
    else:
        approx = SIM.ivf_topk(q, c, k=5, n_centroids=12, n_probe=5,
                              n_assign=2)
    hits = exact.join(
        approx.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_semi"
    )
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(F.broadcast(hits.agg(F.count("*").alias("n_hit"))))
        .select(
            F.col("n_exact"),
            (F.col("n_hit") >= 0.8 * F.col("n_exact")).alias("recall_ok"),
        )
    )


@query(
    "llm_lsh_recall_gate",
    oracle="SELECT CAST(50 AS BIGINT) AS n_exact, TRUE AS recall_ok",
)
def llm_lsh_recall_gate(spark, sf_dir):
    """LSH ANN with a value-checked recall contract: multi-table LSH
    (16 tables × 4 planes) top-5 must recover ≥80% of the brute-force
    exact top-5 pairs over the 10-query slice (50 exact pairs; measured
    0.96 at sf0.01 and sf0.1 — deterministic md5-derived planes, so the
    gate is reproducible). Companion to the rows-only llm_lsh_topk
    entry, which stays for result inspection."""
    return _ann_recall_gate(spark, sf_dir, "lsh")


@query(
    "llm_ivf_recall_gate",
    oracle="SELECT CAST(50 AS BIGINT) AS n_exact, TRUE AS recall_ok",
)
def llm_ivf_recall_gate(spark, sf_dir):
    """IVF-Flat ANN with a value-checked recall contract: 12 k-means
    cells, 5 probes, candidates spill-assigned to their 2 nearest cells
    (boundary replication keeps recall stable as the corpus grows) —
    ≥80% recall floor against the exact top-5 pairs (measured 0.90 at
    sf0.01 AND sf0.1, stable across runs: centroids come from the
    deterministic Lloyd's, not Spark ML's reduce-order-dependent fit)."""
    return _ann_recall_gate(spark, sf_dir, "ivf")


@query(
    "llm_embedding_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             127.0 / list_reduce(list_transform(embedding,
                       x -> abs(x::DOUBLE)), (a, b) -> greatest(a, b)) AS scale
      FROM embeddings
      WHERE list_reduce(list_transform(embedding, x -> abs(x::DOUBLE)),
                        (a, b) -> greatest(a, b)) > 0)
    SELECT e.vec_id,
           q.scale,
           list_reduce(list_transform(e.embedding,
             x -> abs(floor(x::DOUBLE * q.scale + 0.5))::BIGINT),
             (a, b) -> a + b) AS q_l1,
           list_reduce(list_transform(e.embedding,
             x -> floor(x::DOUBLE * q.scale + 0.5)::BIGINT),
             (a, b) -> greatest(a, b)) AS q_max
    FROM embeddings e JOIN q ON e.vec_id = q.vec_id
    """,
)
def llm_embedding_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization (FAISS SQ8-style index
    prep): per-vector scale 127/max|v|, floor(v*scale+0.5) — pure JVM
    higher-order array ops, zero shuffles. Checksums (L1, max) gate the
    whole quantized vector exactly."""
    from flink_spark.llm.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8(emb)


@query(
    "llm_audio_decode",
    oracle="""
    SELECT doc_id,
           CAST(64 + doc_id % 64 AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           (64 + doc_id % 64) / 8.0 AS duration_ms,
           CAST(100 + doc_id % 900 AS DOUBLE) AS rms,
           CAST(100 + doc_id % 900 AS BIGINT) AS peak,
           CAST(63 + doc_id % 64 AS BIGINT) AS zero_crossings
    FROM documents
    """,
)
def llm_audio_decode(spark, sf_dir):
    """REAL audio decode path: deterministic PCM16 mono WAV payloads
    (square wave, amplitude 100 + doc_id%900 over 64 + doc_id%64 samples
    — genuine RIFF files any WAV reader opens) parsed back by the
    chunk-walking decoder (multimodal.decode_wav) and reduced to
    duration/RMS/peak/zero-crossing features. Every quantity is
    closed-form (RMS of a square wave = its amplitude, exactly, as
    sqrt of a perfect-square double), so the oracle is exact iff every
    sample of every payload round-trips."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.audio_features(MM.synthesize_audio(docs))


@query(
    "llm_audio_spectral",
    oracle="""
    SELECT doc_id,
           CAST((64 + doc_id % 64) // 2 AS BIGINT) AS dominant_bin,
           CAST((64 + doc_id % 64) // 2 AS DOUBLE) * 8000
             / (64 + doc_id % 64) AS dominant_freq_hz,
           CAST((64 + doc_id % 64) // 2 + 1 AS BIGINT) AS n_bins
    FROM documents
    """,
)
def llm_audio_spectral(spark, sf_dir):
    """REAL spectral path: an actual numpy rfft runs over every decoded
    PCM payload; the dominant bin / frequency are reported. The corpus
    is the Nyquist-alternating square wave, whose magnitude spectrum
    |X[m]| = a·|sin(nθ/2)/sin(θ/2)| increases strictly toward the top
    bin for BOTH parities of n — so argmax = n//2 and dominant_freq =
    (n//2)·8000/n are closed-form, making the FFT path exactly
    oracle-checkable (the same a-genuine-computation-with-a-provable-
    value trick as the RMS gate)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.audio_spectral(MM.synthesize_audio(docs))


@query(
    "llm_image_neardup",
    oracle="""
    WITH d AS (SELECT doc_id,
                      doc_id % 100 + (doc_id * 7) % 256
                        + (doc_id * 13) % 256 AS s
               FROM documents WHERE doc_id < 2000),
    px AS (SELECT doc_id, s, i, (i + s) // 3 AS gray
           FROM d, range(0, 64) t(i)),
    mn AS (SELECT doc_id, AVG(gray) AS m FROM px GROUP BY doc_id),
    bits AS (SELECT p.doc_id, p.i,
                    CASE WHEN p.gray > m.m THEN 1 ELSE 0 END AS bit
             FROM px p JOIN mn m USING (doc_id)),
    bands AS (SELECT doc_id, i // 16 AS band,
                     CAST(SUM(bit << (i % 16)) AS BIGINT) AS bv
              FROM bits GROUP BY doc_id, i // 16),
    cb AS (SELECT doc_id,
                  ((doc_id * 7) % 256) // 8 AS cbucket,
                  doc_id % 100 + 31.5 AS mean_r,
                  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
                  CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
           FROM d),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN cb ca ON ca.doc_id = a.doc_id
                  JOIN bands b ON a.band = b.band AND a.bv = b.bv
                  JOIN cb cbb ON cbb.doc_id = b.doc_id
                    AND cbb.cbucket = ca.cbucket
             WHERE a.doc_id < b.doc_id),
    wide AS (SELECT doc_id,
                    MAX(CASE WHEN band = 0 THEN bv END) AS b0,
                    MAX(CASE WHEN band = 1 THEN bv END) AS b1,
                    MAX(CASE WHEN band = 2 THEN bv END) AS b2,
                    MAX(CASE WHEN band = 3 THEN bv END) AS b3
             FROM bands GROUP BY doc_id)
    SELECT * FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
                + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
               AS BIGINT) AS hamming,
             abs(ca.mean_r - cbb.mean_r) + abs(ca.mean_g - cbb.mean_g)
               + abs(ca.mean_b - cbb.mean_b) AS color_l1
      FROM cand c JOIN wide wa ON wa.doc_id = c.doc_a
                  JOIN wide wb ON wb.doc_id = c.doc_b
                  JOIN cb ca ON ca.doc_id = c.doc_a
                  JOIN cb cbb ON cbb.doc_id = c.doc_b) t
    WHERE hamming <= 8 AND color_l1 <= 25.0
    """,
)
def llm_image_neardup(spark, sf_dir):
    """IMAGE near-duplicate pairs — the multimodal twin of MinHash-LSH
    text dedup: REAL payload decode → perceptual average-hash (gray =
    (r+g+b)//3, bit = pixel > mean) + channel means → COMPOSITE blocking
    (16-bit hash band × quantized green mean; structure alone
    under-blocks on smooth-gradient corpora like this synthetic one) →
    equality-join candidates → exact dual verification: 64-bit hamming
    (bit_count(xor), all JVM) AND channel-mean L1. Every hash bit and
    mean is closed-form in doc_id, so the whole candidate+verify
    pipeline carries an exact SQL oracle. Scale shape: one Arrow decode
    pass; composite-key equality joins after — never all-pairs."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 2000
    )
    return MM.image_neardup_pairs(MM.synthesize_images(docs))


@query(
    "llm_video_dedup",
    oracle="""
    WITH fr AS (SELECT doc_id, f,
                       (doc_id + 17 * f) % 256 AS r,
                       (doc_id * 5 + 3 * f) % 256 AS g,
                       (doc_id * 11 + 7 * f) % 256 AS b
                FROM documents, range(0, 7) t(f)
                WHERE f < 3 + doc_id % 4),
    fp AS (SELECT doc_id,
                  md5('fps=4|' ||
                      string_agg(r::VARCHAR || ':' || g || ':' || b
                                 || ':8:8',
                                 '|' ORDER BY f)) AS video_fp
           FROM fr GROUP BY doc_id)
    SELECT video_fp, MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM fp GROUP BY video_fp
    """,
)
def llm_video_dedup(spark, sf_dir):
    """Exact VIDEO dedup (the multimodal mirror of llm_dedup_exact):
    real FSV1 decode of every frame → per-frame geometry +
    integer channel-mean signatures → full-sequence fingerprint (md5
    over fps + the ordered signatures; geometry and frame rate are part
    of content identity) → one canonical keep id + copy count per group. One hash shuffle; output
    LINEAR in distinct content at any scale — this replaced the first
    pair-form cut, whose duplicate-pair enumeration went 20.8× at sf1
    because pairs are inherently quadratic in per-group copies
    (BASELINE.md r9). The shot-level near-dup operator
    (multimodal.video_neardup_pairs) builds on these canonicals and is
    unit-tested with constructed shared-shot videos. Completes the
    modality sweep: text (MinHash), image (aHash), audio (spectral),
    video (sequence fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.video_dedup_groups(MM.synthesize_videos(docs))


@query(
    "llm_image_resize",
    oracle="""
    SELECT doc_id,
           CAST(4 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(doc_id % 100 AS DOUBLE) + 27.0 AS mean_r,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
    FROM documents
    """,
)
def llm_image_resize(spark, sf_dir):
    """Decode → nearest-neighbor resize (8×8 → 4×4) → channel means of
    the thumbnail: the image-curation resize pass over real PPM bytes.
    Nearest sampling picks rows/cols {0,2,4,6} of the R gradient, whose
    mean is closed-form (base + 27), keeping the oracle exact through
    decode AND resize."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.image_resize_features(MM.synthesize_images(docs), 4, 4)


@query("llm_pq_topk", oracle=ANN.pq_topk_oracle())
def llm_pq_topk(spark, sf_dir):
    """Product-quantization ANN (FAISS PQ; the compressed-index family of
    the VECTOR_SEARCH surface): 16 subspaces × 16 codes (32× compression
    of the 64-dim doubles), asymmetric scoring against the codebook
    reconstruction and exact rerank of a 30·k shortlist in one Arrow
    kernel pass (similarity.pq_search). EXACT oracle (r9): pq_train's joint
    Lloyd's is deterministic (md5-ordered sample, id-ordered init,
    first-occurrence argmin ties, round-9 means) and fixed at 3
    iterations, so queries/annsql.py unrolls training + encoding +
    shortlist + rerank into one DuckDB statement. The recall contract
    stays in llm_pq_recall_gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    )
    return SIM.pq_topk(q, c, k=5, m=16, ks=16)


@query(
    "llm_pq_recall_gate",
    oracle="SELECT CAST(50 AS BIGINT) AS n_exact, TRUE AS recall_ok",
)
def llm_pq_recall_gate(spark, sf_dir):
    """PQ ANN with a value-checked recall contract: codebooks from the
    deterministic joint Lloyd's (all subspaces trained in one plan per
    iteration, 9-digit-rounded updates — reproducible across runs where
    Spark ML's reduce-order would not be), two-stage retrieve+rerank
    with a corpus-fraction shortlist pinned in the gate harness
    (max(30·k, 8% of candidates) — see _ann_recall_gate) so the ≥80%
    floor holds by construction at any scale factor. Measured: recall
    1.00 at sf0.01, 0.96 at sf0.1 (r11, same values as the 30·k
    default at these sizes). Production pq_topk keeps the
    rows-independent 30·k default (no count() action); callers who
    need recall-vs-scale pass an explicit corpus-fraction shortlist —
    see similarity.pq_topk."""
    return _ann_recall_gate(spark, sf_dir, "pq")


@query(
    "llm_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_MINHASH_SQL},
    bands AS (SELECT doc_id, i // {D.MH_BAND_ROWS} AS band,
                     string_agg(mh::VARCHAR, ',' ORDER BY i) AS bsig
              FROM sig GROUP BY doc_id, i // {D.MH_BAND_ROWS}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
    agree AS (SELECT c.doc_a, c.doc_b,
                     SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS n_agree
              FROM cand c
              JOIN sig x ON x.doc_id = c.doc_a
              JOIN sig y ON y.doc_id = c.doc_b AND y.i = x.i
              GROUP BY c.doc_a, c.doc_b),
    pairs AS (SELECT doc_a, doc_b FROM agree WHERE n_agree >= {D.MH_K // 2}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, lab) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        UNION
        SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, MIN(lab) AS cluster_id,
           (node = MIN(lab)) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def llm_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING — pairs are not enough for a dedup pipeline;
    the keep/drop decision needs the TRANSITIVE closure (A~B, B~C → one
    cluster, keep one doc). MinHash-LSH pairs feed min-label-propagation
    connected components (GraphX-style hash-to-min, two bounded shuffles
    per iteration, O(diameter) iterations); the oracle computes the same
    closure with a recursive CTE. cluster_id = component min doc_id =
    the canonical survivor."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_clusters(docs)


@query(
    "llm_matryoshka_truncate",
    oracle="""
    WITH t AS (
      SELECT vec_id,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS sl,
             sqrt(list_reduce(list_prepend(0.0,
                    list_transform(embedding[1:16],
                                   x -> CAST(x AS DOUBLE)
                                        * CAST(x AS DOUBLE))),
                  (acc, v) -> acc + v)) AS nrm
      FROM embeddings)
    SELECT vec_id, CAST(16 AS INT) AS dim,
           CAST(SUM(CAST(ROUND(u / nrm, 9) AS DECIMAL(20,9)))
                AS DOUBLE) AS coord_sum
    FROM t, LATERAL (SELECT unnest(sl) AS u) x
    GROUP BY vec_id, nrm
    """,
)
def llm_matryoshka_truncate(spark, sf_dir):
    """Matryoshka embedding truncation (MRL — the storage/compute dial
    for large vector corpora): slice the first 16 of 64 dims and L2
    re-normalize, as one JVM slice+fold expression. The gate sums the
    9-digit-rounded normalized coordinates per vector in exact decimal —
    identical fold order on both engines makes the norm bit-equal."""
    from flink_spark.llm.similarity import truncate_normalize

    emb = load_table(spark, sf_dir, "embeddings")
    tr = truncate_normalize(emb, 16)
    coord = F.explode(F.col("embedding_trunc")).alias("u")
    return (
        tr.select("vec_id", coord)
        .groupBy("vec_id")
        .agg(
            F.lit(16).cast("int").alias("dim"),
            F.sum(F.round(F.col("u"), 9).cast("decimal(20,9)"))
            .cast("double").alias("coord_sum"),
        )
        .select("vec_id", "dim", "coord_sum")
    )


@query(
    "llm_vector_search_sql",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 10),
    c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings
          WHERE vec_id >= 10),
    dots AS (SELECT query_id, cand_id,
                    list_reduce(list_transform(range(1, len(qv) + 1),
                      i -> qv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y) AS dot,
                    list_reduce(list_transform(range(1, len(qv) + 1),
                      i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (x, y) -> x + y) AS na,
                    list_reduce(list_transform(range(1, len(cv) + 1),
                      i -> cv[i]::DOUBLE * cv[i]::DOUBLE), (x, y) -> x + y) AS nb
             FROM q CROSS JOIN c),
    scored AS (SELECT query_id, cand_id,
                      dot / (sqrt(na) * sqrt(nb)) AS cos_sim
               FROM dots)
    SELECT query_id, cand_id, round(cos_sim, 12) AS cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS rank
      FROM scored) t
    WHERE rank <= 5
    """,
)
def llm_vector_search_sql(spark, sf_dir):
    """VECTOR_SEARCH SQL TVF (reference
    StreamExecVectorSearchTableFunction.java + the vector-search SQL docs):
    the correlated ``input, LATERAL TABLE(VECTOR_SEARCH(TABLE t, input.v,
    DESCRIPTOR(c), k))`` spelling routed through the dialect rewrite onto
    the similarity library — must hash-match the DataFrame-level
    llm_cosine_topk oracle exactly (same fold, same tiebreak)."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).createOrReplaceTempView("__vsq_gate")
    emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    ).createOrReplaceTempView("__vsc_gate")
    return env.execute_sql("""
        SELECT query_id, cand_id, round(score, 12) AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, cand_id) AS rank
        FROM __vsq_gate, LATERAL TABLE(VECTOR_SEARCH(
            TABLE __vsc_gate, __vsq_gate.qv, DESCRIPTOR(embedding), 5))
    """)


@query(
    "llm_vector_search_sql_ann",
    oracle=(
        "SELECT query_id, cand_id, cos_sim FROM ("
        + ANN.ivf_topk_oracle(k=5, n_centroids=8, n_probe=4, n_assign=2)
        + ") t"
    ),
)
def llm_vector_search_sql_ann(spark, sf_dir):
    """VECTOR_SEARCH SQL TVF with index routing (reference
    vector_search.md CONFIG map): ``MAP['index','ivf']`` sends the TVF
    through the IVF ANN library (llm/similarity.py) instead of the exact
    brute scan — the spelling that scales to a 100-TB vector table.
    EXACT oracle (r9, closing the LAST rows-only gate): the TVF's IVF
    routing is the same deterministic Lloyd's that queries/annsql.py
    unrolls into DuckDB CTEs — parameterized here at the CONFIG map's
    (centroids=8, probe=4, assign=2, k=5) and verified bitwise-equal.
    The in-query ≥0.8-recall assert below stays as the semantic ANN
    contract (the query FAILS, not degrades, under recall loss),
    measured against the exact brute twin llm_vector_search_sql."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).createOrReplaceTempView("__vsq_ann")
    emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    ).createOrReplaceTempView("__vsc_ann")
    out = env.execute_sql("""
        SELECT query_id, cand_id, round(score, 12) AS cos_sim
        FROM __vsq_ann, LATERAL TABLE(VECTOR_SEARCH(
            TABLE __vsc_ann, __vsq_ann.qv, DESCRIPTOR(embedding), 5,
            MAP['index','ivf','ivf.centroids','8','ivf.probe','4',
                'ivf.assign','2']))
    """).localCheckpoint(eager=True)
    brute = {
        (r.query_id, r.cand_id)
        for r in env.execute_sql("""
            SELECT query_id, cand_id
            FROM __vsq_ann, LATERAL TABLE(VECTOR_SEARCH(
                TABLE __vsc_ann, __vsq_ann.qv, DESCRIPTOR(embedding), 5))
        """).collect()
    }
    got = {(r.query_id, r.cand_id) for r in out.collect()}
    recall = len(got & brute) / len(brute)
    assert recall >= 0.8, f"ANN recall {recall} < 0.8 vs brute"
    return out


@query(
    "llm_video_frame_sample",
    oracle="""
    WITH fr AS (
        SELECT doc_id,
               CAST(3 + doc_id % 4 AS INTEGER) AS n_frames,
               unnest(range(0, CAST(3 + doc_id % 4 AS BIGINT), 2)) AS f
        FROM documents
    )
    SELECT doc_id, n_frames,
           CAST(f AS INTEGER) AS frame_no,
           CAST(f AS DOUBLE) / 4 AS ts_sec,
           CAST((doc_id + 17 * f) % 256 AS DOUBLE) AS mean_r,
           CAST((doc_id * 5 + 3 * f) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 11 + 7 * f) % 256 AS DOUBLE) AS mean_b
    FROM fr
    """,
)
def llm_video_frame_sample(spark, sf_dir):
    """Video frame sampling with REAL container decode (multimodal video
    path of a training-data curation pipeline): deterministic FSV1
    containers (magic + frame count + fps + length-prefixed P6 PPM
    frames, 3-6 frames per doc) synthesized per document, then sampled
    every 2nd frame — the sampler parses the actual header, SEEKS past
    unsampled frames via the length prefixes (never decoding them) and
    decodes only the sampled PPMs to per-frame channel means + timestamps.
    The exact oracle holds iff header parse, frame seek, and every sampled
    pixel round-trip correctly. Arrow-batched mapInPandas end to end;
    the 1→ceil(n/2) row fan-out happens inside the Python batch, so no
    extra shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.video_frame_sample(MM.synthesize_videos(docs), step=2)
