"""Similarity search over embedding columns (array<float>).

Reference surface: VECTOR_SEARCH table function
(reference StreamExecVectorSearchTableFunction, VectorSearchCodeGenerator.scala)
— top-k nearest neighbors for a query set against an embedding table.

Four searches, each scoring (query, candidate) pairs by :func:`cosine`:
  - :func:`brute_force_topk`: the exact baseline. The (small) query set
    is broadcast against one pass over the candidates.
  - :func:`lsh_topk`: candidates restricted to the query's random
    hyperplane sign buckets; recall < 1, cost ~ bucket size.
  - :func:`ivf_topk` (and ``streaming/ann_stream.IvfStreamIndex.topk``):
    k-means cells, with each query probing its nearest cells. Every cell
    lookup is ``clustering.nearest_cells``, the one IVF ranking.
  - :func:`pq_topk` (and ``PqStreamIndex.topk``): an ADC shortlist over
    product-quantized codes, reranked exactly in one Arrow kernel
    (:func:`pq_search`).

All four end in one top-k tail, :func:`_top_k`: ``row_number()`` per
query by ``cos_sim`` descending, then the lower id, and ``cos_sim``
rounded to 12 digits.

Determinism: dot products are sequential double folds in dimension
order, the order of DuckDB's ``list_reduce``, so the oracles compare
bitwise-equal sums (see ``_DOT``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_spark.exprutil import double_array_lit, empty_frame, memo
from flink_spark.llm.clustering import kmeans, nearest_cells

# Exact cross-engine dot product / norm over double arrays WITHOUT decimal
# arithmetic: Spark's `aggregate` is a sequential left fold (0.0 + x1 + x2
# + …) and DuckDB's `list_reduce` folds the same order starting from x1;
# since 0.0 + x1 == x1 bitwise, the two IEEE-double sums are identical.
# All-double arithmetic is ~10× faster than the DECIMAL(25,20) fold this
# replaced (12.8 s → ~1 s for the sf0.1 brute-force top-k). Both run
# interpreted: zip_with and aggregate are CodegenFallback in Spark 4.1.2,
# so these higher-order functions are evaluated row by row.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def cosine(a: str, b: str) -> Column:
    dot = F.expr(_DOT.format(a=a, b=b))
    na = F.sqrt(F.expr(_DOT.format(a=a, b=a)))
    nb = F.sqrt(F.expr(_DOT.format(a=b, b=b)))
    return dot / (na * nb)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × scan candidates.

    queries: (query_id, embedding); candidates: (cand_id, embedding).
    """
    q = queries.select(F.col(query_id), F.col(vec).alias("__qv"))
    c = candidates.select(F.col(cand_id), F.col(vec).alias("__cv"))
    # score in the scan stage, then project to (query_id, cand_id,
    # cos_sim) BEFORE the top-k window's exchange (guide §2.3): the
    # partitionBy(query_id) shuffle moves 3 narrow columns per candidate
    # instead of both embedding payloads — at corpus scale the payload
    # bytes dominate that exchange
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select(query_id, cand_id, cosine("__qv", "__cv").alias("cos_sim"))
    )
    return _top_k(scored, k, query_id, cand_id)


def _top_k(scored: DataFrame, k: int, query_id: str,
           cand_id: str) -> DataFrame:
    """The tail of every search: ``scored``'s (query id, candidate id,
    ``cos_sim``) rows ranked per query by ``cos_sim`` descending (NULL
    last), then the lower candidate id (NULL first); the first ``k``
    kept, with ``rank``. Ranked on the raw value and reported rounded to
    12 digits: the sums are exact, but the final divide's last ulp is
    engine-specific. SQL text: one py4j call per step, where Column
    builders make several."""
    qi, ci = f"`{query_id}`", f"`{cand_id}`"
    return (
        scored.selectExpr(
            "*", f"row_number() OVER (PARTITION BY {qi} "
                 f"ORDER BY cos_sim DESC, {ci}) AS rank")
        .where(f"rank <= {k}")
        .selectExpr(qi, ci, "round(cos_sim, 12) AS cos_sim", "rank")
    )


def hyperplane_plane(table: int, j: int, dim: int = 64) -> list[float]:
    """Plane r_j of family ``table``: ±1 per dimension from the first 8
    md5 hex digits of "table:j:i" — the same numbers the in-engine
    ``conv(substring(md5(...)), 16, 10) % 2`` spelling produces (and the
    DuckDB oracles reproduce), precomputed in Python."""
    import hashlib

    return [
        1.0 if int(
            hashlib.md5(f"{table}:{j}:{i}".encode()).hexdigest()[:8], 16
        ) % 2 == 0 else -1.0
        for i in range(dim)
    ]


def hyperplane_sketch(df: DataFrame, vec: str, n_planes: int = 16,
                      dim: int = 64, table: int = 0) -> DataFrame:
    """Sign-sketch for LSH bucketing: bit j = sign(v · r_j) where r_j is a
    deterministic pseudo-random hyperplane derived from md5(table, j, i) —
    no RNG at runtime, reproducible across engines/runs. ``table`` selects
    an independent plane family for multi-table LSH.

    The planes are inlined as Python-precomputed LITERAL arrays rather
    than in-engine md5 expressions: values are bit-identical, but the
    expression tree shrinks from n_planes×dim nested CASE nodes to one
    literal fold per plane — the r9 lesson from stream_semantic_neardup,
    where the CASE-tree form was codegen-compile-bound (50 s → 4.8 s on
    identical data).

    The bucket Column is memoized per (vec, n_planes, dim, table):
    foreachBatch callers (semantic_neardup_stream) rebuild their plan
    per micro-batch, and constructing the n_planes literal folds costs
    ~0.1 s of py4j round trips each time while the expression itself is
    batch-independent."""
    bucket = memo(
        ("sketch", vec, n_planes, dim, table),
        lambda: _sketch_bucket(df.sparkSession, vec, n_planes, dim, table),
    )
    return df.withColumn("bucket", bucket)


def _sketch_bucket(spark, vec: str, n_planes: int, dim: int,
                   table: int) -> Column:
    bucket = None
    vcol = F.expr(vec)
    for j in range(n_planes):
        # each plane is ONE array<double> Literal node
        # (exprutil.double_array_lit), not dim CAST('…') nodes: plan
        # analysis is tree-size-proportional and re-runs at every
        # downstream operator — same economics (and bit-equivalence;
        # ±1.0 has no -0.0 hazard) as clustering._ranked_cells
        arr = double_array_lit(spark, hyperplane_plane(table, j, dim))
        dot = F.aggregate(
            F.zip_with(vcol, arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot > 0, F.shiftleft(F.lit(1), j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    vec: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's sign
    bucket in at least one of ``n_tables`` independent plane families
    (multi-table LSH — the standard recall dial: collision probability
    1-(1-p^b)^L for per-plane agreement p, b planes, L tables). Equality
    join on (table, bucket) → no cross product; pairs colliding in
    several tables are deduplicated before scoring, so each survivor is
    scored once."""
    q_in = queries.select(query_id, F.col(vec).alias("__qv"))
    c_in = candidates.select(cand_id, F.col(vec).alias("__cv"))
    per_table = []
    for t in range(n_tables):
        qs = hyperplane_sketch(q_in, "__qv", n_planes, dim, table=t)
        cs = hyperplane_sketch(c_in, "__cv", n_planes, dim, table=t)
        per_table.append(qs.join(cs, "bucket").drop("bucket"))
    pairs = per_table[0]
    for p in per_table[1:]:
        pairs = pairs.unionByName(p)
    # score BEFORE the dedup/top-k exchanges and project the embedding
    # payloads away (guide §2.3): duplicate collisions across tables are
    # identical (same vectors → bitwise-same fold), so deduplicating the
    # scored narrow rows keeps exactly the old values while the
    # dropDuplicates and window shuffles move (query_id, cand_id,
    # cos_sim) instead of two payload vectors per pair
    scored = pairs.select(
        query_id, cand_id, cosine("__qv", "__cv").alias("cos_sim")
    )
    if n_tables > 1:
        scored = scored.dropDuplicates([query_id, cand_id])
    return _top_k(scored, k, query_id, cand_id)


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    vec: str = "embedding",
    n_centroids: int = 8,
    n_probe: int = 2,
    n_assign: int = 1,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means-partition the candidates, probe
    only the ``n_probe`` nearest cells per query. ``n_assign`` > 1 indexes
    each candidate under its n_assign nearest cells (boundary spill — the
    replication analog of FAISS's multi-assignment), trading index size
    for recall that stays stable as the corpus grows.

    Scale shape: the centroids (n_centroids × dim) are one literal in the
    plan; candidates get their cell(s) in one map-only pass
    (``clustering.nearest_cells``) and the probe is an equi-join on cell
    id — so the scored set shrinks to ~n_probe·n_assign/n_centroids of
    the corpus with no cross product. Recall is the n_probe/n_assign
    dial (IVF-Flat semantics; the FAISS-style layout the VECTOR_SEARCH
    surface would back onto at 100 TB)."""
    # deterministic Lloyd's (clustering.kmeans: id-ordered init, 9-digit-
    # rounded centroid updates) — reproducible recall where Spark ML's
    # KMeans varies run-to-run with float reduce order
    cand_vec = candidates.select(cand_id, F.col(vec).alias("__cv"))
    _, cents = kmeans(
        cand_vec.select(
            F.col(cand_id),
            F.col("__cv").cast("array<double>").alias("__dv"),
        ),
        k=n_centroids, n_iter=3, id_col=cand_id, vec_col="__dv",
    )
    cells = nearest_cells(candidates.sparkSession, F.col("__cv"), cents,
                          max(1, n_assign))
    index = cand_vec.select(cand_id, "__cv", F.explode(cells).alias("__cell"))
    q = queries.select(query_id, F.col(vec).alias("__qv"))
    scored = _ivf_scored(q, index, cents, n_probe, query_id, cand_id,
                         spilled=n_assign > 1)
    return _top_k(scored, k, query_id, cand_id)


def _ivf_scored(queries: DataFrame, index: DataFrame, centroids: list,
                n_probe: int, query_id: str, cand_id: str,
                spilled: bool) -> DataFrame:
    """(query id, candidate id, ``cos_sim``) of each query in
    ``queries`` (query id, ``__qv``) against every ``index`` row
    (candidate id, ``__cv``, ``__cell``) in its ``n_probe`` nearest
    cells. Scored in the probe-join stage and projected to narrow rows
    before any exchange (guide §2.3), so the shuffles move (query id,
    candidate id, ``cos_sim``), not the embedding payloads. With
    ``spilled`` (a candidate indexed under several cells) a pair probed
    through two cells scores once; its rows are identical, so keeping
    any one is exact."""
    cells = nearest_cells(queries.sparkSession, F.col("__qv"), centroids,
                          n_probe)
    probes = queries.select(query_id, "__qv", F.explode(cells).alias("__cell"))
    scored = probes.join(index, "__cell").select(
        query_id, cand_id, cosine("__qv", "__cv").alias("cos_sim")
    )
    if spilled:
        scored = scored.dropDuplicates([query_id, cand_id])
    return scored


def quantize_int8(df: DataFrame, vec: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the standard
    vector-index prep (FAISS SQ8-style): per-vector scale = 127/max|v|,
    q_i = floor(v_i·scale + 0.5). All JVM higher-order array functions;
    nothing crosses to Python, no shuffle at all (pure map).

    Emits per-vector checksums (L1 norm and max of the quantized values)
    rather than the int8 array itself so the result is compact and
    exactly comparable across engines."""
    x = F.col(vec)
    absmax = F.aggregate(
        F.transform(x, lambda v: F.abs(v.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    scale = F.lit(127.0) / absmax
    q = F.transform(x, lambda v: F.floor(v.cast("double") * scale + 0.5))
    return df.filter(absmax > 0).select(
        id_col,
        scale.alias("scale"),
        F.aggregate(q, F.lit(0).cast("bigint"),
                    lambda acc, v: acc + F.abs(v)).alias("q_l1"),
        F.aggregate(q, F.lit(-(2 ** 31)).cast("bigint"),
                    lambda acc, v: F.greatest(acc, v)).alias("q_max"),
    )


def pq_encode(
    candidates: DataFrame,
    cand_id: str = "cand_id",
    vec: str = "embedding",
    m: int = 8,
    ks: int = 16,
    books: list | None = None,
    train_limit: int | None = 50_000,
    recon: bool = True,
):
    """Product quantization (FAISS PQ / the VECTOR_SEARCH index family):
    split each d-dim vector into ``m`` subvectors, k-means each subspace
    into ``ks`` codes → an m-byte code per vector (d·4 bytes → m bytes,
    32× compression at d=64/m=8). Returns (encoded_df, codebooks) where
    ``encoded_df`` carries the code AND, unless ``recon=False``, the
    codebook reconstruction ``__recon`` (the search, :func:`pq_search`,
    rebuilds it from the codes itself).

    Scale shape: codebooks are m·ks·(d/m) floats (tiny, shipped with the
    task); encoding is one map-only pass, an Arrow-batched numpy kernel
    (argmin over ks centroids per subspace); nothing shuffles. The
    Catalyst higher-order form it replaced is interpreted
    (``CodegenFallback``) in Spark 4.1.2. Codebooks come from a
    DETERMINISTIC Lloyd's (:func:`pq_train`: lowest-code tie-break,
    9-digit-rounded mean updates) — deterministic where Spark ML's
    KMeans varies run-to-run with float reduce order.

    Pass ``books`` (a previous call's return value) to skip training and
    encode against the saved codebooks — the production pattern: train
    once on a sample, persist the tiny codebooks, encode/serve many.

    Training is SAMPLE-BASED by default (``train_limit``, the FAISS
    ``train()`` discipline): a deterministic md5-ordered top-``train_limit``
    slice of the corpus (a distributed TakeOrdered — no single-reducer
    funnel, stable across partitionings) is pulled to the driver once
    (≤50k × d doubles ≈ 26 MB at d=64) and Lloyd's runs vectorized in
    numpy — codebooks never need the full corpus, and training cost stops
    growing with corpus size. ``train_limit=None`` opts back into
    full-corpus training (still via the bounded numpy path only after a
    full collect — reserved for small corpora)."""
    cv = candidates.select(cand_id, F.col(vec).alias("__cv"))
    if books is not None:
        if len(books) != m or any(len(b) != ks for b in books):
            raise ValueError(
                f"pq: saved codebooks shaped {len(books)}×"
                f"{len(books[0]) if books else 0}, expected {m}×{ks}"
            )
        # dim comes from the saved books — no .first() probe job on the
        # add-after-train path (one driver job per call saved)
        sub = len(books[0][0])
        return _pq_encode_with_books(cv, m, sub, books, recon), books
    books = pq_train(candidates, cand_id=cand_id, vec=vec, m=m, ks=ks,
                     train_limit=train_limit)
    return _pq_encode_with_books(cv, m, len(books[0][0]), books, recon), books


#: driver-side training-sample budget in rows×dim ELEMENTS (float64):
#: 8M elements ≈ 64 MB regardless of embedding dim — the rows×dim cap
#: VERDICT r7 asked for (a fixed 50k ROWS at dim 4096 would be ~1.6 GB)
PQ_TRAIN_BUDGET_ELEMS = 8_000_000


def pq_train(
    candidates: DataFrame,
    cand_id: str = "cand_id",
    vec: str = "embedding",
    m: int = 8,
    ks: int = 16,
    train_limit: int | None = 50_000,
    n_iter: int = 3,
) -> list:
    """Train PQ codebooks on a bounded deterministic sample (see
    ``pq_encode``). Returns the m×ks×(d/m) codebook list — tiny; persist
    and reuse via ``pq_encode(..., books=...)``.

    Deterministic end to end: the sample is the md5(cand_id)-ordered
    top-``train_limit`` rows (total order, partitioning-independent);
    init takes the ks cand_id-smallest subvectors within the sample;
    assignment breaks distance ties toward the lowest code (numpy argmin
    = first occurrence); mean updates are 9-digit-rounded; empty clusters
    keep their previous centroid."""
    head = candidates.select(vec).first()
    if head is None:
        raise ValueError(
            "pq: the candidate frame is empty; codebooks need at least "
            f"ks={ks} vectors to train on"
        )
    return _pq_train(candidates, len(head[0]), cand_id, vec, m, ks,
                     train_limit, n_iter)


def _pq_train(candidates: DataFrame, d: int, cand_id: str, vec: str,
              m: int, ks: int, train_limit: int | None, n_iter: int) -> list:
    """:func:`pq_train` on a corpus whose vectors have ``d`` dimensions,
    for a caller that has already read a row (no probe job)."""
    import numpy as np

    if d % m:
        raise ValueError(f"pq: dim {d} not divisible by m={m}")
    sub = d // m
    sample = candidates.select(
        F.col(cand_id).alias("__id"), F.col(vec).cast("array<double>").alias("__cv")
    )
    # cap by rows×dim ELEMENTS, not rows (VERDICT r7): a fixed row
    # count at embedding dim 4096 would pull ~1.6 GB of float64 to
    # the driver; the budget keeps the driver copy ≤ ~64 MB at any
    # dim while leaving the limit unchanged for small dims (d=128 →
    # 62.5k cap > the 50k default). Never below ks (training needs
    # ks distinct seeds); same md5 total order → still deterministic.
    # train_limit=None means "budget only" — the byte cap ALWAYS
    # applies, so no spelling of this call collects an unbounded set.
    byte_cap = max(ks, PQ_TRAIN_BUDGET_ELEMS // d)
    train_limit = byte_cap if train_limit is None else min(train_limit,
                                                           byte_cap)
    sample = sample.orderBy(
        F.md5(F.col("__id").cast("string")), F.col("__id")
    ).limit(train_limit)
    rows = sample.collect()
    if len(rows) < ks:
        raise ValueError(
            f"pq: corpus has fewer than ks={ks} vectors — lower ks or use "
            "brute_force_topk for tiny candidate sets"
        )
    rows.sort(key=lambda r: r["__id"])
    X = np.asarray([r["__cv"] for r in rows], dtype=np.float64)  # (n, d)
    books = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]  # (n, sub)
        cents = S[:ks].copy()  # ks id-smallest subvectors (post-sort)
        for _ in range(n_iter):
            # squared L2 to each centroid; argmin takes the FIRST (lowest
            # code) on ties — mirrors the orderBy(__d, __c) discipline
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ks):
                mask = assign == c
                if mask.any():
                    cents[c] = np.round(S[mask].mean(axis=0), 9)
        books.append([[float(x) for x in c] for c in cents])
    return books


def _pq_encode_with_books(cv: DataFrame, m: int, sub: int, books: list,
                          recon: bool = True) -> DataFrame:
    """Map-only PQ encoding against fixed codebooks: ``cv``'s (id,
    ``__cv``) rows plus ``__code`` and, with ``recon``, the
    reconstruction ``__recon``. One Arrow-batched numpy kernel per
    partition; the id and ``__cv`` pass through unconverted. A caller
    that stores only codes passes ``recon=False``: the worker output is
    a fixed schema, so a later ``select`` would not prune ``__recon``
    out of it.

    The Catalyst form this replaced (a struct-sort argmin over
    ``zip_with``/``aggregate`` distance folds) is interpreted row by row
    in Spark 4.1.2, where those higher-order functions are all
    ``CodegenFallback``. The kernel is bit-identical to it, which the
    stored codes and the DuckDB oracles pin:
      - distance: per subspace, ``acc = 0.0`` then
        ``acc + (x − c)·(x − c)`` over the subdimensions in order, with
        ``x`` widened exactly to double (a sequential fold, so no
        pairwise ``sum``);
      - argmin in Spark's double ordering: the smallest non-NaN distance
        wins, ties go to the lowest code, and a subspace whose distances
        are all NaN or null gets code 1. A null element makes the whole
        subspace's distances null, which Spark sorted first, all tied,
        so it is read as NaN here;
      - a null vector gets code 1 in every subspace and recon = each
        subspace's centroid 0;
      - a non-null vector whose length is not m·sub raises.

    The worker code is nested here so that cloudpickle ships it by
    value: a worker needs numpy and pyarrow, not this package on its
    path."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    B = np.asarray(books, dtype=np.float64)
    ks, d = B.shape[1], m * sub
    fields = [*cv.schema.fields,
              StructField("__code", ArrayType(IntegerType()))]
    if recon:
        fields.append(
            StructField("__recon", ArrayType(DoubleType(), False)))
    names = [f.name for f in fields]
    # rows per kernel call: the n×m×ks distance array stays ~8 MB
    rows = max(1, 2 ** 20 // (m * ks))

    def kernel(vecs):
        n = len(vecs)
        valid = vecs.is_valid().to_numpy(zero_copy_only=False)
        lens = vecs.value_lengths().fill_null(d).to_numpy(
            zero_copy_only=False)
        bad = lens != d
        if bad.any():
            raise ValueError(
                f"pq_encode: vector dim {lens[bad][0]} does not match "
                f"saved codebooks (m={m} × sub={sub} = {d})"
            )
        x = np.full((n, d), np.nan)
        x[valid] = vecs.flatten().to_numpy(
            zero_copy_only=False).reshape(-1, d)
        x = x.reshape(n, m, sub)
        acc = np.zeros((n, m, ks))
        for t in range(sub):
            diff = x[:, :, t, None] - B[None, :, :, t]
            acc = acc + diff * diff
        best = np.where(np.isnan(acc), np.inf, acc).min(axis=2,
                                                         keepdims=True)
        code = (acc == best).argmax(axis=2)  # all-False (all NaN) → 0
        return (code + 1).astype(np.int32), B[np.arange(m), code].reshape(n, d)

    def encode(batches):
        import pyarrow as pa

        def lists(a):
            n, w = a.shape
            return pa.ListArray.from_arrays(
                np.arange(0, n * w + 1, w, dtype=np.int32), a.ravel())

        for batch in batches:
            for off in range(0, batch.num_rows, rows):
                rb = batch.slice(off, rows)
                code, rec = kernel(rb.column(1))
                cols = [rb.column(0), rb.column(1), lists(code)]
                if recon:
                    cols.append(lists(rec))
                yield pa.RecordBatch.from_arrays(cols, names=names)

    return cv.mapInArrow(encode, StructType(fields))


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    vec: str = "embedding",
    m: int = 16,
    ks: int = 16,
    shortlist: int | None = None,
    books: list | None = None,
    train_limit: int | None = 50_000,
) -> DataFrame:
    """PQ ANN with exact rerank (the standard two-stage retrieve+rerank):
    score every candidate by cosine against its CODEBOOK RECONSTRUCTION
    (asymmetric distance: the scan reads only the codes, and the
    reconstruction is rebuilt from them in the search kernel), keep a
    per-query shortlist, then rerank only the shortlist with true
    vectors (:func:`pq_search`). The default
    shortlist is 30·k — rows-independent, so the default plan needs no
    corpus count action (r10; the r9 default's 8%-of-corpus term forced
    a full count per call and is not a shortlist at 100 TB). Because
    PQ's quantization error is corpus-size-independent, a constant
    shortlist DOES dilute recall as n grows — callers who need the
    recall gate's ≥0.8 floor to hold as the corpus scales should pass
    ``shortlist`` as an explicit fraction of their corpus size (the
    companion recall gates pin their own widths)."""
    if shortlist is None:
        shortlist = 30 * k
    enc, books = pq_encode(candidates, cand_id=cand_id, vec=vec, m=m,
                           ks=ks, books=books, train_limit=train_limit,
                           recon=False)
    q = queries.select(query_id, F.col(vec).alias("__qv"))
    return pq_search(q, enc, books, k, shortlist, query_id, "pq_topk")


def pq_search(queries: DataFrame, enc: DataFrame, books: list, k: int,
              shortlist: int, query_id: str = "query_id",
              caller: str = "pq_search") -> DataFrame:
    """Top-``k`` of each query over PQ-encoded rows: a shortlist of the
    ``shortlist`` best by ADC cosine (against the codebook
    reconstruction), reranked by exact cosine. ``queries`` holds
    (``query_id``, ``__qv``) rows with unique ids; ``enc`` holds (id,
    ``__cv``, ``__code``) rows, ``__code`` 1-based as :func:`pq_encode`
    writes it. Returns (``query_id``, id, ``cos_sim``, ``rank``) with
    ``cos_sim`` rounded to 12 digits; both orderings break ties by the
    lower id.

    The queries are collected to the driver once (the broadcast they
    replace put them there too); a NULL ``query_id`` has no result, and
    a repeated one raises. One Arrow kernel per partition of ``enc``
    keeps each query's local shortlist (:func:`_pq_scored`); Spark then
    cuts the global shortlist and the top ``k``. Every row of the global
    shortlist is in its partition's local one, so the result is that of
    scoring every pair in Spark. An id shared by several rows reranks
    each row with its own vector."""
    spark = queries.sparkSession
    qt = queries.select(query_id, "__qv").toArrow()
    qt = qt.filter(qt.column(0).is_valid())
    if qt.num_rows:
        import pyarrow.compute as pc

        counts = pc.value_counts(qt.column(0))
        dup = counts.filter(pc.greater(counts.field("counts"), 1))
        if len(dup):
            raise ValueError(f"{caller}: duplicate query_id "
                             f"{dup.field('values')[0].as_py()}")
    qf, cf = queries.schema[query_id], enc.schema[0]
    if not qt.num_rows or shortlist < 1:
        return empty_frame(
            spark, f"`{query_id}` {qf.dataType.simpleString()}, "
                   f"`{cf.name}` {cf.dataType.simpleString()}, "
                   "cos_sim double, rank int")
    ansi = spark.conf.get("spark.sql.ansi.enabled") == "true"
    scored = _pq_scored(qt, qf, enc, books, shortlist, ansi)
    qi, ci = f"`{query_id}`", f"`{cf.name}`"
    # SQL text: one py4j call per step, where Column builders make ~40.
    # The exact cosine is divided after the global cut, so that a zero
    # norm fails (ANSI) or nulls only the rows a Spark rerank would have
    # scored. A NULL id holds its shortlist place but has no vector to
    # rerank by id, so it leaves with the cut.
    shortlisted = (
        scored.selectExpr(
            "*", f"row_number() OVER (PARTITION BY {qi} "
                 f"ORDER BY __approx DESC, {ci}) AS __sr")
        .where(f"__sr <= {shortlist} AND {ci} IS NOT NULL")
        .selectExpr(qi, ci, "__dot / __den AS cos_sim")
    )
    return _top_k(shortlisted, k, query_id, cf.name)


def _pq_scored(qt, qfield, enc: DataFrame, books: list, shortlist: int,
               ansi: bool) -> DataFrame:
    """Each partition's local ADC shortlist of every query in Arrow
    table ``qt`` (id, vector) over ``enc``'s (id, ``__cv``, ``__code``)
    rows: (query id, id, ``__approx``, ``__dot``, ``__den``), the exact
    cosine being ``__dot / __den``.

    Per bounded chunk of rows, one numpy kernel rebuilds the vectors from
    the codes, scores every (query, row) pair, and merges the chunk into
    a running top-``shortlist`` per query in Spark's window order:
    ``__approx`` descending with NaN first, NULL last and −0.0 equal to
    0.0, then the id ascending with NULL first. Every row tied with the
    last one kept at the cut stays. The exact dot product and norm
    product are computed only for a row that enters the running
    shortlist. Memory is bounded by
    queries × (``shortlist`` + chunk rows).

    Both scores are bit-identical to :func:`cosine`: each dot product
    starts at 0.0 and adds ``x·y`` in dimension order, float elements
    widen exactly to double, and the norms are doubles; a NULL vector or
    element, or two lengths that differ, give a NULL score, and NaN
    propagates. A zero ADC norm product raises under ANSI, as Spark's
    division does, and is NULL otherwise.

    The worker code is nested so that cloudpickle ships it by value, as
    ``_pq_encode_with_books`` does."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    B = np.asarray(books, dtype=np.float64)
    m, ks, sub = B.shape
    d = m * sub
    s = shortlist
    qids = qt.column(0).combine_chunks()
    vecs = qt.column(1).to_pylist()
    nq = len(vecs)
    qlen = np.array([-1 if v is None else len(v) for v in vecs])
    qok = np.array([v is not None and None not in v for v in vecs])
    QV = np.zeros((nq, max(d, int(qlen.max()))))
    for i, v in enumerate(vecs):
        if qok[i]:
            QV[i, :len(v)] = v
    # zero padding adds exact +0.0 terms, which leave a fold that starts
    # at +0.0 unchanged
    qq = np.zeros(nq)
    for t in range(QV.shape[1]):
        qq = qq + QV[:, t] * QV[:, t]
    qn = np.sqrt(qq)
    adc = np.flatnonzero(qok & (qlen == d))
    QA, nA = QV[adc, :d], qn[adc]
    on_adc = np.full(nq, -1)
    on_adc[adc] = np.arange(len(adc))
    # rows per kernel call: the rows×d reconstruction and the
    # queries×rows score arrays stay ~8 MB each
    rows = max(1, 2 ** 20 // max(d, nq))
    names = [qfield.name, enc.schema[0].name, "__approx", "__dot", "__den"]
    schema = StructType([qfield, enc.schema[0]] + [
        StructField(n, DoubleType()) for n in names[2:]])

    def dense(col, width):
        """(n, width) doubles of list array ``col``, and the mask of rows
        that are non-null, ``width`` long and free of NULL elements
        (the other rows hold zeros)."""
        n = len(col)
        lens = col.value_lengths().fill_null(0).to_numpy(
            zero_copy_only=False).astype(np.int64)
        ok = col.is_valid().to_numpy(zero_copy_only=False) & (lens == width)
        flat = col.flatten()
        vals = np.asarray(flat.to_numpy(zero_copy_only=False), np.float64)
        if flat.null_count:
            bad = np.bincount(
                np.repeat(np.arange(n), lens),
                weights=flat.is_null().to_numpy(zero_copy_only=False),
                minlength=n)
            ok &= bad == 0
        if ok.all():
            return vals.reshape(n, width), ok
        out = np.zeros((n, width))
        at = np.cumsum(lens) - lens
        out[ok] = vals[at[ok, None] + np.arange(width)]
        return out, ok

    def fold(X, Y):
        """The p dot products of the columns of Y (width, p) with those
        of X (width, p, or width, 1 for one vector), summed in order."""
        acc = np.zeros(Y.shape[1])
        for t in range(X.shape[0]):
            acc = acc + X[t] * Y[t]
        return acc

    def adc_scores(codes):
        """(adc queries, n) ADC cosines of a chunk and their NULL mask."""
        n = len(codes)
        C, cok = dense(codes, m)
        code = C.astype(np.int64)
        code[~cok] = 1
        if ((code < 1) | (code > ks)).any():
            raise ValueError(f"pq_search: a code outside 1..{ks}")
        RT = np.ascontiguousarray(B[np.arange(m), code - 1].reshape(n, d).T)
        dot = np.zeros((len(adc), n))
        tmp = np.empty_like(dot)
        for t in range(d):
            np.multiply(QA[:, t, None], RT[t], out=tmp)
            np.add(dot, tmp, out=dot)
        den = nA[:, None] * np.sqrt(fold(RT, RT))[None, :]
        null = np.broadcast_to(~cok, dot.shape)
        zero = (den == 0) & ~null
        if zero.any():
            if ansi:
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] Division by zero: a zero-norm "
                    "query or codebook reconstruction in the ADC cosine")
            null = null | zero
        with np.errstate(divide="ignore", invalid="ignore"):
            return dot / den, null

    def exact(qi, cv):
        """Exact (dot, norm product, NULL) of query ``qi`` against the
        vectors of list array ``cv``."""
        n = len(cv)
        if not qok[qi]:
            return np.zeros(n), np.zeros(n), np.ones(n, bool)
        X, xok = dense(cv, int(qlen[qi]))
        XT = np.ascontiguousarray(X.T)
        dot = fold(QV[qi, :qlen[qi], None], XT)
        return dot, qn[qi] * np.sqrt(fold(XT, XT)), ~xok

    def merge(st, qi, cls, neg, key, apx, rb):
        """The top-``s`` (with ties) of query ``qi``'s state ``st`` and
        chunk ``rb``, as a new state; the exact scores are computed for
        the chunk rows it takes."""
        ns = 0 if st is None else len(st["key"])
        both = key if st is None else np.concatenate([st["key"], key])
        pick = np.arange(len(both))
        if len(both) > s:
            # a non-strict monotone image of the order: keeps a superset
            # of the top s and every tie at the cut
            pick = np.flatnonzero(both <= np.partition(both, s - 1)[s - 1])
        ps, pcn = pick[pick < ns], pick[pick >= ns] - ns
        if not len(pcn) and len(ps) == ns:
            return st
        import pyarrow as pa
        import pyarrow.compute as pc

        cand = {"cls": cls[pcn], "neg": neg[pcn], "key": key[pcn],
                "apx": apx[pcn], "dot": np.zeros(len(pcn)),
                "den": np.zeros(len(pcn)), "xnull": np.ones(len(pcn), bool)}
        cid = rb.column(0).take(pcn)
        if st is not None:
            cand = {f: np.concatenate([st[f][ps], v])
                    for f, v in cand.items()}
            cid = pa.concat_arrays([st["ids"].take(ps), cid])
        order = pc.sort_indices(
            pa.table({"c": cand["cls"], "a": cand["neg"], "i": cid}),
            sort_keys=[("c", "ascending"), ("a", "ascending"),
                       ("i", "ascending")],
            null_placement="at_start").to_numpy()
        if len(order) > s:
            last, end = order[s - 1], s
            lid = cid[int(last)].as_py()
            while (end < len(order)
                   and cand["cls"][order[end]] == cand["cls"][last]
                   and cand["neg"][order[end]] == cand["neg"][last]
                   and cid[int(order[end])].as_py() == lid):
                end += 1
            order = order[:end]
        new = {f: v[order] for f, v in cand.items()}
        new["ids"] = cid.take(order)
        fresh = np.flatnonzero(order >= len(ps))
        if len(fresh):
            took = pcn[order[fresh] - len(ps)]
            new["dot"][fresh], new["den"][fresh], new["xnull"][fresh] = (
                exact(qi, rb.column(1).take(took)))
        return new

    def search(batches):
        import pyarrow as pa

        states = [None] * nq
        for batch in batches:
            for off in range(0, batch.num_rows, rows):
                rb = batch.slice(off, rows)
                n = rb.num_rows
                apx, null = adc_scores(rb.column(2))
                for qi in range(nq):
                    a = on_adc[qi]
                    if a < 0:
                        ap, cls = np.zeros(n), np.full(n, 2, np.int8)
                    else:
                        ap = apx[a]
                        cls = np.where(null[a], 2, np.where(
                            np.isnan(ap), 0, 1)).astype(np.int8)
                    # 0.0 - x turns −0.0 into 0.0, so the two tie
                    neg = np.where(cls == 1, 0.0 - ap, 0.0)
                    key = np.where(cls == 0, -np.inf,
                                   np.where(cls == 2, np.inf, neg))
                    states[qi] = merge(states[qi], qi, cls, neg, key, ap, rb)
        out = [(qi, st) for qi, st in enumerate(states) if st is not None]
        if not out:
            return
        cat = {f: np.concatenate([st[f] for _, st in out])
               for f in ("cls", "apx", "dot", "den", "xnull")}
        owner = np.repeat([qi for qi, _ in out],
                          [len(st["key"]) for _, st in out])
        yield pa.RecordBatch.from_arrays([
            qids.take(pa.array(owner)),
            pa.concat_arrays([st["ids"] for _, st in out]),
            pa.array(cat["apx"], mask=cat["cls"] == 2),
            pa.array(cat["dot"], mask=cat["xnull"]),
            pa.array(cat["den"], mask=cat["xnull"]),
        ], names=names)

    return enc.mapInArrow(search, schema)


def truncate_normalize(
    candidates: DataFrame,
    dim: int,
    vec: str = "embedding",
    out: str = "embedding_trunc",
) -> DataFrame:
    """Matryoshka-style embedding truncation (MRL: the first ``dim``
    coordinates of a matryoshka-trained embedding are themselves a valid
    lower-dim embedding once re-normalized — the standard storage/compute
    dial for 100 TB vector corpora: keep 64 of 768 dims for candidate
    retrieval, full dims for rerank). One JVM expression: slice + L2
    re-normalize via an ordered fold — no shuffle, no Python."""
    sliced = F.slice(F.col(vec), 1, dim).cast("array<double>")
    norm = F.sqrt(F.aggregate(
        sliced, F.lit(0.0), lambda acc, x: acc + x * x
    ))
    return candidates.withColumn(
        out,
        F.transform(sliced, lambda x: x / norm),
    )
