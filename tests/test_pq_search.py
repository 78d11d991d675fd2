"""similarity.pq_search, the one PQ search kernel behind ``pq_topk`` and
``PqStreamIndex.topk``, against the two-stage Spark plan it replaced.

``_reference`` is that plan, kept here as the model: every (query,
candidate) pair scored by the higher-order ``cosine`` against the
codebook reconstruction, a ``row_number`` shortlist, a rerank join by id,
and a second ``row_number``. The corpora are small and seeded, with many
candidates sharing codes so that ADC ties fall across the shortlist cut,
spread over several partitions, and the query sets carry NaN, NULL,
wrong-length, infinite and −0.0 vectors."""

from __future__ import annotations

import json
import math

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_spark.llm.similarity import (
    _pq_scored, cosine, pq_encode, pq_search, pq_topk,
)
from flink_spark.streaming.ann_stream import PqStreamIndex

M, KS, SUB = 3, 3, 4
D = M * SUB
NAN, INF = float("nan"), float("inf")


def _lit(v):
    """A parsed SQL literal of nested doubles (NaN and ±inf included)."""
    if isinstance(v, list):
        return "array(" + ",".join(_lit(x) for x in v) + ")"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _recon(books):
    """The codebook reconstruction of ``__code`` as one HOF expression."""
    bl = F.expr(_lit(books))
    return F.flatten(F.transform(
        F.sequence(F.lit(0), F.lit(len(books) - 1)),
        lambda j: F.element_at(F.element_at(bl, j + F.lit(1)),
                               F.element_at(F.col("__code"), j + F.lit(1))),
    ))


def _reference(q, enc, books, k, shortlist):
    """The two-stage HOF plan: (query_id, __qv) queries with unique ids
    over (cand_id, __cv, __code) rows."""
    approx = (
        F.broadcast(q)
        .crossJoin(enc.select("cand_id", _recon(books).alias("__recon")))
        .select("query_id", "cand_id",
                cosine("__qv", "__recon").alias("__approx"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("__approx"),
                                                F.asc("cand_id"))
    short = (approx.withColumn("__sr", F.row_number().over(ws))
             .filter(F.col("__sr") <= shortlist).select("query_id", "cand_id"))
    rer = (short.join(enc.select("cand_id", "__cv"), "cand_id")
           .join(F.broadcast(q), "query_id")
           .select("query_id", "cand_id",
                   cosine("__qv", "__cv").alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("cand_id"))
    return (rer.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id",
                    F.round("cos_sim", 12).alias("cos_sim"), "rank"))


def _rows(frame):
    """Sorted result rows, doubles as ``float.hex`` (NaN compares equal)."""
    def cell(v):
        return v.hex() if isinstance(v, float) else v

    return sorted(
        (tuple(cell(v) for v in r) for r in frame.collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _books(rng):
    # small integers: many reconstructions tie in their ADC cosine
    return rng.integers(-2, 3, size=(M, KS, SUB)).astype(float).tolist()


def _queries(spark, rng, elem="double", zero=False):
    vecs = [rng.normal(size=D).tolist() for _ in range(5)]
    vecs.append(rng.integers(-2, 3, size=D).astype(float).tolist())
    special = [v[:] for v in vecs[:5]]
    special[0][3] = NAN
    special[1][2] = None
    special[2][0] = INF
    special[3][1] = -0.0
    special[3][4] = -0.0
    vecs += special[:4]
    vecs.append(None)
    vecs.append(rng.normal(size=D - 1).tolist())  # wrong length
    vecs.append([-0.0] * (D - 1) + [1.0])
    if zero:
        vecs.append([0.0] * D)
    rows = [(i, v) for i, v in enumerate(vecs)] + [(None, vecs[0])]
    return spark.createDataFrame(rows, f"query_id bigint, __qv array<{elem}>")


def _enc(spark, rng, n=120, zero=False):
    """(cand_id, __cv, __code) rows in 4 partitions: codes drawn from six
    code tuples (many rows share a code), vectors with NULLs, NULL
    elements, a wrong length and −0.0."""
    protos = rng.integers(1, KS + 1, size=(6, M))
    rows = []
    for i in range(n):
        code = protos[rng.integers(0, 6)].tolist()
        v = rng.normal(size=D).tolist()
        if i % 17 == 3:
            v = None
        elif i % 19 == 5:
            v[2] = None
        elif i % 23 == 7:
            v = v[:-2]
        elif i % 13 == 1:
            v[0] = -0.0
        elif i % 29 == 11:
            v = rows[-1][1]  # an exact copy: the same exact cosine
        rows.append((i, v, code))
    if zero:
        rows.append((n, [0.0] * D, protos[0].tolist()))
    rows.append((None, rng.normal(size=D).tolist(), protos[0].tolist()))
    return spark.createDataFrame(
        rows, "cand_id bigint, __cv array<double>, __code array<int>"
    ).repartition(4)


@pytest.fixture
def ansi(spark, request):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param == "true"
    spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.mark.parametrize("ansi", ["true", "false"], indirect=True)
@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("k,shortlist", [(3, 5), (4, 17), (2, 200)])
def test_pq_search_matches_two_stage_plan(spark, ansi, seed, k, shortlist):
    rng = np.random.default_rng(seed)
    books = _books(rng)
    # zero vectors raise under ANSI (below); without it they score NULL
    q = _queries(spark, rng, zero=not ansi)
    enc = _enc(spark, rng, zero=not ansi)
    assert enc.rdd.getNumPartitions() == 4
    got = pq_search(q, enc, books, k, shortlist, "query_id", "test")
    assert _rows(got) == _rows(_reference(q, enc, books, k, shortlist))


def test_pq_search_with_no_query_of_the_codebook_length(spark):
    """Every ADC score is NULL, so each shortlist is the lowest ids; the
    exact rerank still scores the rows of the queries' own length."""
    rng = np.random.default_rng(4)
    books, enc = _books(rng), _enc(spark, rng)
    q = spark.createDataFrame(
        [(i, rng.normal(size=D - 2).tolist()) for i in range(3)],
        "query_id bigint, __qv array<double>")
    got = pq_search(q, enc, books, 3, 40, "query_id", "test")
    assert _rows(got) == _rows(_reference(q, enc, books, 3, 40))
    assert any(r[2] is not None for r in _rows(got))


@pytest.mark.parametrize("ansi", ["true"], indirect=True)
def test_pq_search_zero_norms_under_ansi(spark, ansi):
    """A zero-norm query fails the ADC scoring of both plans. A zero-norm
    candidate that only a partition-local shortlist keeps (alone in its
    partition, behind the global cut) fails neither, because the exact
    cosine is divided after the global cut."""
    rng = np.random.default_rng(7)
    books = [[[1.0] * SUB, [-1.0] * SUB, [2.0] * SUB]] * M
    q = spark.createDataFrame([(0, [1.0] * D), (1, [0.0] * D)],
                              "query_id bigint, __qv array<double>")
    enc = _enc(spark, rng).filter(F.col("cand_id").isNotNull())
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _reference(q, enc, books, 3, 5).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        pq_search(q, enc, books, 3, 5, "query_id", "test").collect()
    q = q.filter("query_id = 0")
    # the worst code for query 0 (its reconstruction is −q), alone
    lone = spark.createDataFrame(
        [(999, [0.0] * D, [2] * M)],
        "cand_id bigint, __cv array<double>, __code array<int>").coalesce(1)
    enc = enc.unionByName(lone)
    got = pq_search(q, enc, books, 3, 5, "query_id", "test")
    assert _rows(got) == _rows(_reference(q, enc, books, 3, 5))


def test_pq_topk_and_stream_index_match_two_stage_plan(spark, tmp_path):
    """The two callers: ``pq_topk`` (codes from ``pq_encode``) and
    ``PqStreamIndex.topk`` (codes read from the store) both equal the
    two-stage plan over the same codes."""
    rng = np.random.default_rng(5)
    protos = rng.normal(size=(8, D))
    vecs = [(protos[rng.integers(0, 8)]
             + 0.05 * rng.normal(size=D)).tolist() for _ in range(150)]
    vecs += [vecs[i] for i in range(0, 150, 10)]  # exact copies
    cands = spark.createDataFrame(
        list(enumerate(vecs)), "cand_id bigint, embedding array<float>"
    ).repartition(3)
    q = _queries(spark, rng, elem="float").withColumnRenamed(
        "__qv", "embedding")
    _, books = pq_encode(cands, m=M, ks=KS)
    enc, _ = pq_encode(cands, m=M, ks=KS, books=books, recon=False)
    qv = q.select("query_id", F.col("embedding").alias("__qv"))
    want = _rows(_reference(qv, enc, books, 4, 12))
    assert _rows(pq_topk(q, cands, k=4, m=M, ks=KS, shortlist=12,
                         books=books)) == want

    root = str(tmp_path / "pq_root")
    enc.select("cand_id", F.col("__cv").alias("embedding"), "__code") \
        .withColumn("__bid", F.lit(0)).repartition(3).write \
        .partitionBy("__bid").parquet(f"{root}/codes")
    with open(f"{root}/codebooks.json", "w") as fh:
        json.dump(books, fh)
    idx = PqStreamIndex(spark, root, "cand_id", "embedding", persistent=False)
    assert _rows(idx.topk(q, k=4, shortlist=12)) == want
    idx.close()


@pytest.mark.parametrize("ansi", ["false"], indirect=True)
@pytest.mark.parametrize("elem", ["float", "double"])
def test_pq_kernel_scores_bit_identical_to_cosine(spark, ansi, elem):
    """Both kernel scores, on every pair (a shortlist wider than the
    corpus keeps every row), equal the higher-order ``cosine`` bit for
    bit: the ADC cosine against the reconstruction and the exact cosine
    ``__dot / __den`` against the stored vector. sub ≥ 8, so numpy's
    pairwise sum would differ from the sequential fold."""
    rng = np.random.default_rng(11)
    books = rng.normal(size=(2, 4, 8))
    books[1, 2, 3] = NAN
    books = books.tolist()
    d = 16
    qvecs = [rng.normal(size=d).tolist() for _ in range(4)]
    qvecs += [[0.0] * d, [-0.0] * d, None, rng.normal(size=d - 3).tolist()]
    qvecs[1][5], qvecs[2][7] = NAN, INF
    qvecs[3][0] = None
    q = spark.createDataFrame(list(enumerate(qvecs)),
                              f"query_id bigint, __qv array<{elem}>")
    rows = []
    for i in range(60):
        v = rng.normal(size=d).tolist()
        if i % 11 == 2:
            v = None
        elif i % 13 == 4:
            v[1] = None
        elif i % 7 == 3:
            v[i % d] = [NAN, INF, -INF, -0.0][i % 4]
        elif i % 9 == 5:
            v = v[:-1]
        elif i % 10 == 6:
            v = [0.0] * d
        rows.append((i, v, rng.integers(1, 5, size=2).tolist()))
    enc = spark.createDataFrame(
        rows, f"cand_id bigint, __cv array<{elem}>, __code array<int>"
    ).repartition(3)
    scored = _pq_scored(
        q.toArrow(), q.schema["query_id"], enc, books, 10_000, False
    ).select("query_id", "cand_id", "__approx",
             (F.col("__dot") / F.col("__den")).alias("__exact"))
    want = F.broadcast(q).crossJoin(
        enc.select("cand_id", "__cv", _recon(books).alias("__recon"))
    ).select("query_id", "cand_id",
             cosine("__qv", "__recon").alias("__approx"),
             cosine("__qv", "__cv").alias("__exact"))
    got_rows, want_rows = _rows(scored), _rows(want)
    assert len(got_rows) == len(qvecs) * len(rows)
    assert got_rows == want_rows
    kinds = {type(r[2]) for r in got_rows} | {type(r[3]) for r in got_rows}
    assert kinds == {str, type(None)}


def test_pq_search_duplicate_and_null_query_ids(spark):
    """A repeated query id raises while the plan is built; NULL ids are
    dropped, and a query set with none left is an empty frame."""
    rng = np.random.default_rng(3)
    books, enc = _books(rng), _enc(spark, rng)
    v = [1.0] * D
    dup = spark.createDataFrame([(1, v), (2, v), (1, v)],
                                "query_id bigint, __qv array<double>")
    with pytest.raises(ValueError, match="caller: duplicate query_id 1"):
        pq_search(dup, enc, books, 3, 5, "query_id", "caller")
    nulls = spark.createDataFrame([(None, v), (None, v)],
                                  "query_id bigint, __qv array<double>")
    out = pq_search(nulls, enc, books, 3, 5, "query_id", "caller")
    assert out.columns == ["query_id", "cand_id", "cos_sim", "rank"]
    assert out.collect() == []
