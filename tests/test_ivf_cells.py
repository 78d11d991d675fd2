"""The IVF cell lookup, ``clustering.nearest_cells``, against the form
``similarity.ivf_topk`` used before it: the centroids as a Python-list
frame, broadcast and cross-joined to every row, one L2 fold per (row,
cell) and a ``row_number`` window per row. ``ivf_topk`` is checked whole
against that form too, with the old per-query window tail.

Seeded inputs cover the cases where two rankings could part: vectors
with small integer coordinates, so that distances to two centroids tie
exactly (the lower cell must win) and repeated vectors tie on cosine; a
NULL vector; a vector with a NaN element; a vector shorter than the
centroids; and ``n_probe``/``n_assign`` at or above the number of cells.
A NaN element stays on the query side: a candidate's NaN would make its
k-means centroid NaN, which no double literal can carry, in either form.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_spark.llm.clustering import nearest_cells

DIM = 4
SEEDS = [0, pytest.param(1, marks=pytest.mark.slow),
         pytest.param(2, marks=pytest.mark.slow)]


def _ref_cells(df, key: str, vec: str, centroids, n: int):
    """(``key``, ``vec``, ``__cell``, ``__r``) rows of each row's ``n``
    nearest cells, ``__r`` being the cell's rank: the cross-join and
    window form ``ivf_topk`` used before ``nearest_cells``."""
    cent_df = df.sparkSession.createDataFrame(
        list(enumerate(centroids)), "__cell int, __cent array<double>")
    l2 = F.expr(
        f"aggregate(zip_with({vec}, __cent, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        df.crossJoin(F.broadcast(cent_df))
        .withColumn("__d", l2)
        .withColumn("__r", F.row_number().over(
            Window.partitionBy(key).orderBy("__d", "__cell")))
        .filter(F.col("__r") <= n)
        .select(key, vec, "__cell", "__r")
    )


def _ref_ivf_topk(q, c, k, n_centroids, n_probe, n_assign):
    """``ivf_topk`` as it was: the same k-means, cells from
    :func:`_ref_cells`, the old Window tail."""
    from flink_spark.llm.clustering import kmeans
    from flink_spark.llm.similarity import cosine

    cand_vec = c.select("cand_id", F.col("embedding").alias("__cv"))
    _, cents = kmeans(
        cand_vec.select("cand_id",
                        F.col("__cv").cast("array<double>").alias("__dv")),
        k=n_centroids, n_iter=3, id_col="cand_id", vec_col="__dv")
    assigned = _ref_cells(cand_vec, "cand_id", "__cv", cents,
                          max(1, n_assign)).drop("__r")
    probes = _ref_cells(
        q.select("query_id", F.col("embedding").alias("__qv")),
        "query_id", "__qv", cents, n_probe).drop("__r")
    scored = probes.join(assigned, "__cell").select(
        "query_id", "cand_id", cosine("__qv", "__cv").alias("cos_sim"))
    if n_assign > 1:
        scored = scored.dropDuplicates(["query_id", "cand_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("cos_sim", 12).alias("cos_sim"),
                "rank")
    )


def _int_vectors(rng, n):
    """``n`` nonzero vectors of integer coordinates in [-2, 2], every
    fourth one a repeat of an earlier one."""
    out = []
    while len(out) < n:
        if out and len(out) % 4 == 3:
            out.append(list(rng.choice(out)))
            continue
        v = [float(rng.randint(-2, 2)) for _ in range(DIM)]
        if any(v):
            out.append(v)
    return out


def _odd_vectors():
    """A NULL vector, one with a NaN element, one shorter than DIM."""
    return [None, [1.0, float("nan"), 0.0, -1.0], [1.0, 2.0]]


def _frame(spark, id_col, vecs):
    return spark.createDataFrame(
        list(enumerate(vecs)),
        f"{id_col} long, embedding array<float>")


def _key(row):
    """A row as a sortable, NaN-comparable tuple."""
    return tuple(repr(x) for x in row)


@pytest.mark.parametrize("seed", SEEDS)
def test_nearest_cells_matches_cross_join_reference(spark, seed):
    rng = random.Random(seed)
    cents = [[float(rng.randint(-1, 1)) for _ in range(DIM)]
             for _ in range(5)]
    cents[1] = [0.0 - x for x in cents[0]]  # 0 and 1 tie on the origin
    vecs = [[0.0] * DIM] + _int_vectors(rng, 40) + _odd_vectors()
    df = _frame(spark, "id", vecs)
    for n in (0, 1, 2, len(cents), len(cents) + 2):
        got = {
            r["id"]: r["cells"] for r in df.select(
                "id", nearest_cells(spark, F.col("embedding"), cents, n)
                .alias("cells")).collect()
        }
        want = {i: [] for i in range(len(vecs))}
        for r in sorted(_ref_cells(df, "id", "embedding", cents, n)
                        .collect(), key=lambda r: (r["id"], r["__r"])):
            want[r["id"]].append(r["__cell"])
        assert got == want, n
    # the ties are real: the origin is equidistant from cells 0 and 1,
    # and any cell between them in the ranking would be closer than one
    # and farther than the other
    assert got[0].index(1) == got[0].index(0) + 1


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("n_centroids,n_probe,n_assign",
                         [(4, 2, 1), (4, 4, 5), (5, 7, 2)])
def test_ivf_topk_matches_cross_join_reference(spark, seed, n_centroids,
                                               n_probe, n_assign):
    from flink_spark.llm.similarity import ivf_topk

    rng = random.Random(seed)
    cands = _int_vectors(rng, 40)
    q = _frame(spark, "query_id", _int_vectors(rng, 6) + _odd_vectors())
    # the NULL and short candidates come after the k-means init rows
    c = _frame(spark, "cand_id", cands + [None, [1.0, 2.0]])
    got = ivf_topk(q, c, k=5, n_centroids=n_centroids, n_probe=n_probe,
                   n_assign=n_assign).collect()
    want = _ref_ivf_topk(q, c, 5, n_centroids, n_probe, n_assign).collect()
    assert sorted(map(_key, got)) == sorted(map(_key, want))
    # every query has a result, the NULL, NaN and short ones included
    assert {r["query_id"] for r in got} == set(range(9))
