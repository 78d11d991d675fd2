"""Embedding clustering for corpus analysis / semantic bucketing:
deterministic Lloyd's k-means over an ``array<float>`` column.

Spark-first design:
  - The assignment step is pure JVM: the k current centroids are inlined
    as literal nested arrays, each distance is a ``zip_with`` +
    ``aggregate`` fold (sequential, deterministic order), and the argmin
    is a ``sort_array`` over (dist, idx) structs — no Python in the
    per-row hot path, scales linearly with input splits.
  - The update step is a two-phase aggregation: ``posexplode`` the vector
    to (cluster, dim, value), partial-aggregate map-side, shuffle only
    k×d group keys. The k×d result (tiny) is collected to the driver and
    re-inlined for the next iteration — the classic broadcast-iterate
    loop, the same dataflow Flink's bulk iteration would schedule.
  - Init is deterministic (the k lowest-id vectors), so runs are
    reproducible; centroid means are rounded to 1e-9 to damp
    shuffle-order float jitter between runs.

At 100 TB: per iteration = one scan + one k×d shuffle; the driver only
ever holds k×d floats. For very large k use the IVF path in
llm/similarity.py, whose cells come from :func:`nearest_cells`, the same
ranking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _ranked_cells(spark: SparkSession, vec: Column,
                  centroids: list[list[float]]) -> Column:
    """The (dist, idx)-sorted struct array as ONE SMALL Column tree over
    a single nested-array literal.

    Same sequential zip_with/aggregate fold, same double-0.0 init, same
    (d, i) struct sort/tie-break as the original per-centroid spelling —
    but the k centroids enter the plan as ONE ``array<array<double>>``
    Literal node instead of k×d ``CAST('…' AS DOUBLE)`` nodes. The
    analysis cost of a plan is proportional to its tree size, and plans
    embedding this ranking are re-analyzed at every downstream operator
    (and per Lloyd's ITERATION in kmeans): at k=8, d=64 the CAST-tree
    form measured ~212 ms per analysis vs ~41 ms for the single-Literal
    form (r13 session 3). Values are bit-identical — see
    flink_spark.exprutil for the construction and the ±0.0 nuance
    (unobservable after ``(a-b)*(a-b)``: both subtraction results
    square to +0.0); the transform index equals the old ``{i} AS i``
    int literal. ``spark`` is the session of the DataFrame the Column
    goes into."""
    from flink_spark.exprutil import double_array_lit

    cents = double_array_lit(
        spark, [[float(x) for x in c] for c in centroids]
    )
    return F.sort_array(
        F.transform(
            cents,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                i.alias("i"),
            ),
        )
    )


def nearest_cells(spark: SparkSession, vec: Column,
                  centroids: list[list[float]], n: int) -> Column:
    """The ids of the ``n`` centroids nearest ``vec`` (squared L2), as an
    array in (dist, idx) order: ties go to the lower cell. A vector whose
    distances are all NULL (a NULL vector or element, or a length other
    than the centroids') or all NaN gets cells 0, 1, … in order. The one
    IVF cell lookup: ``ivf_topk``'s assignment and probes,
    ``IvfStreamIndex.topk``'s probes and :func:`semantic_neardup_pairs`."""
    ranked = _ranked_cells(spark, vec.cast("array<double>"), centroids)
    return F.transform(F.slice(ranked, 1, max(0, n)), lambda s: s["i"])


def assign_clusters(df: DataFrame, centroids: list[list[float]],
                    vec_col: str = "embedding") -> DataFrame:
    """Add ``cluster`` (argmin over centroids, ties → lowest index) and
    ``dist_sq`` columns. All-JVM expression, no shuffle."""
    first = _ranked_cells(df.sparkSession, F.col(vec_col), centroids)[0]
    return df.select(
        "*",
        first["i"].alias("cluster"),
        first["d"].alias("dist_sq"),
    )


def kmeans(df: DataFrame, k: int = 8, n_iter: int = 5,
           id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic Lloyd's k-means; returns (assigned_df, centroids).

    ``assigned_df`` carries cluster + dist_sq for every row; ``centroids``
    is the final k×d python list (ordered by cluster index).
    """
    # pin the working set for the iterate loop: every Lloyd's iteration
    # re-reads exactly (id, vector); without persist each iteration
    # re-runs the upstream plan (at 100 TB, a full source scan per round)
    base = df.select(id_col, vec_col).persist()
    try:
        centroids = [
            [float(x) for x in r[vec_col]]
            for r in base.orderBy(id_col).limit(k).collect()
        ]
        for _ in range(n_iter):
            assigned = assign_clusters(base, centroids, vec_col)
            means = (
                assigned.select(
                    "cluster", F.posexplode(F.col(vec_col)).alias("dim", "x")
                )
                .groupBy("cluster", "dim")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            new_c = [list(c) for c in centroids]  # empty clusters keep position
            by_cluster: dict[int, dict[int, float]] = {}
            for r in means:
                by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
            for ci, dims in by_cluster.items():
                new_c[ci] = [
                    round(dims[d], 9) for d in range(len(centroids[0]))
                ]
            centroids = new_c
    finally:
        base.unpersist()
    return assign_clusters(df, centroids, vec_col), centroids


def semantic_neardup_pairs(df, k: int = 8, n_iter: int = 3,
                           threshold: float = 0.35,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding"):
    """Semantic (cluster-scoped) near-duplicate pairs: k-means bucket the
    corpus, then score cosine only within a cluster — the standard way to
    cut the O(n²) pair join to O(Σ|cluster|²) at corpus scale (SemDeDup-
    style). Returns (id_a, id_b, cos_sim ≥ threshold) with cos rounded to
    12 dp like the exact pair query.

    Recall is < 1 by construction (near-dups straddling every probed
    cluster boundary are missed); MULTI-PROBE (each vector lands in its
    ``n_probe`` nearest clusters) trades pair-join fan-out for recall —
    tests/test_pipeline.py measures it against the exact pair set."""
    from flink_spark.llm.similarity import cosine

    _, centroids = kmeans(df, k=k, n_iter=n_iter, id_col=id_col,
                          vec_col=vec_col)
    n_probe = 2
    v = F.col(vec_col)
    probes = df.select(
        F.col(id_col), v,
        F.explode(nearest_cells(df.sparkSession, v, centroids, n_probe))
        .alias("cluster"),
    )
    a = probes.select(
        "cluster", F.col(id_col).alias("id_a"), v.alias("__va")
    )
    b = probes.select(
        "cluster", F.col(id_col).alias("id_b"), v.alias("__vb")
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__va", "__vb")
        # a pair may share several probe clusters; duplicate rows are
        # identical (same vectors), so keep-any is deterministic
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = pairs.select(
        "id_a", "id_b", F.round(cosine("__va", "__vb"), 12).alias("cos_sim")
    )
    return scored.filter(F.col("cos_sim") >= threshold)
