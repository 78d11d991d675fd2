"""Equivalence pins for the r13 plan-construction rewrites: the one-
expression spellings must be BIT-identical to the per-element Column
forms they replaced (same fold order, same literals, same tie-breaks) —
the same discipline as the r12 PQ-codec equivalence test."""

from __future__ import annotations

from collections import OrderedDict

import pytest
from pyspark.sql import functions as F


def _old_ranked(vec_col, centroids):
    """The pre-r13 per-element construction of the (dist, idx) ranking
    (clustering._dist_sq + sort_array(array(struct...))), rebuilt inline
    so the test keeps failing if the new spelling ever drifts."""
    def dist_sq(c):
        arr = F.array(*[F.lit(float(v)) for v in c])
        return F.aggregate(
            F.zip_with(vec_col, arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.sort_array(
        F.array(*[
            F.struct(dist_sq(c).alias("d"), F.lit(i).alias("i"))
            for i, c in enumerate(centroids)
        ])
    )


def _old_ranked_sql(vec_name, centroids):
    """The r13-sessions-1/2 SQL-string construction (CAST('…' AS DOUBLE)
    per element), rebuilt inline — the second old form the single-
    Literal spelling must keep matching."""
    structs = ", ".join(
        "struct(aggregate(zip_with({v}, array({lits}), "
        "(a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x) AS d, {i} AS i)".format(
            v=vec_name,
            lits=",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in c),
            i=i,
        )
        for i, c in enumerate(centroids)
    )
    return f"sort_array(array({structs}))"


def test_ranked_cells_matches_both_old_forms(spark):
    from flink_spark.llm.clustering import _ranked_cells

    # centroids with awkward doubles: repr round-trip must reproduce them
    cents = [
        [0.1, -0.2, 1e-9, 123456.789],
        [-6.58035e-4, 0.0, -0.0, 7.25],
        [1.0 / 3.0, 2.0 / 7.0, -1.0 / 9.0, 0.1 + 0.2],
    ]
    rows = [
        (1, [0.1, -0.2, 0.0, 123456.7]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [1.0 / 3.0, 2.0 / 7.0, -1.0 / 9.0, 0.30000000000000004]),
        (4, [-1.0, 2.0, -3.0, 4.0]),
        (5, [0.1, -0.2, 1e-9, 123456.789]),  # exact centroid hit (d=0)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    new = df.select(
        "id", _ranked_cells(spark, F.col("v"), cents).alias("r")
    ).collect()
    old = df.select("id", _old_ranked(F.col("v"), cents).alias("r")).collect()
    old_sql = df.select(
        "id", F.expr(_old_ranked_sql("v", cents)).alias("r")
    ).collect()
    assert sorted(map(tuple, new)) == sorted(map(tuple, old))
    assert sorted(map(tuple, new)) == sorted(map(tuple, old_sql))


def test_double_array_lit_is_single_literal_and_bit_exact(spark):
    """The folded-Literal construction must (a) produce ONE Literal node
    (the analysis-cost contract) and (b) reproduce every IEEE double
    bitwise, including signed zero and denormals."""
    import math
    import struct

    from flink_spark.exprutil import double_array_lit

    vals = [
        0.1, 1.0 / 3.0, -2.2250738585072014e-308, 1.7976931348623157e308,
        5e-324, -0.0, 123456789.123456789, float(2 ** 53 + 1), 1e-300,
        -1.5e-8, 6.02e23, 7.0,
    ]
    col = double_array_lit(spark, [vals, list(reversed(vals))])
    got = spark.range(1).select(col.alias("v")).first()["v"]
    assert [struct.pack("<d", x) for x in got[0]] == \
        [struct.pack("<d", v) for v in vals]
    assert [struct.pack("<d", x) for x in got[1]] == \
        [struct.pack("<d", v) for v in reversed(vals)]
    # -0.0 keeps its sign through the literal
    assert math.copysign(1.0, got[0][5]) == -1.0
    # single Literal node in the ANALYZED plan (the analysis-cost
    # contract): the aliased expression's child is a Literal leaf, not a
    # CreateArray tree
    df = spark.range(1).select(col.alias("v"))
    child = (
        df._jdf.queryExecution().analyzed().expressions().apply(0).child()
    )
    assert child.getClass().getSimpleName() == "Literal"


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), -float("inf")])
def test_double_array_lit_rejects_non_finite(spark, bad):
    """NaN and infinities have no SQL double literal (``nanD``/``infD``
    would not parse): they are rejected up front, not sent to the parser."""
    from flink_spark.exprutil import double_array_lit

    with pytest.raises(ValueError, match="non-finite"):
        double_array_lit(spark, [[0.5, bad]])


def test_double_array_lit_fallback_same_values(spark, monkeypatch):
    """When the folded-Literal path fails (here: a session without the
    JVM view), the ``F.expr`` fallback yields the same doubles, as a
    CreateArray tree instead of one Literal."""
    import struct

    from flink_spark import exprutil

    class _NoJvm:
        def sql(self, text):
            return spark.sql(text)

    vals = [[0.25, -1.5e-8, 1.0 / 3.0], [6.02e23, 5e-324, -0.0]]
    monkeypatch.setattr(exprutil, "_MEMO", OrderedDict())
    fast = exprutil.double_array_lit(spark, vals)
    monkeypatch.setattr(exprutil, "_MEMO", OrderedDict())
    slow = exprutil.double_array_lit(_NoJvm(), vals)

    def bits(col):
        df = spark.range(1).select(col.alias("v"))
        top = df._jdf.queryExecution().analyzed().expressions().apply(0)
        rows = df.first()["v"]
        return top.child().getClass().getSimpleName(), [
            [struct.pack("<d", x) for x in row] for row in rows
        ]

    fast_node, fast_bits = bits(fast)
    slow_node, slow_bits = bits(slow)
    assert (fast_node, slow_node) == ("Literal", "CreateArray")
    assert slow_bits == fast_bits == [
        [struct.pack("<d", x) for x in row] for row in vals
    ]


def test_cc_sql_round_matches_dataframe_round(spark):
    """One connected-components round via the r13 SQL statement equals
    the old labels∪propagate∪jump DataFrame chain, row for row."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10), (3, 4), (4, 3)],
        "u long, v long",
    )
    labels = (
        edges.select(F.col("u").alias("node")).distinct()
        .withColumn("comp", F.col("node"))
    )
    # old chain
    prop = (
        edges.join(labels.select(F.col("node").alias("u"), "comp"), "u")
        .select(F.col("v").alias("node"), "comp")
    )
    jump = (
        labels.alias("l1")
        .join(
            labels.select(
                F.col("node").alias("comp"), F.col("comp").alias("comp2")
            ).alias("l2"),
            "comp",
        )
        .select(F.col("node"), F.col("comp2").alias("comp"))
    )
    old = (
        labels.union(prop).union(jump)
        .groupBy("node").agg(F.min("comp").alias("comp"))
    ).collect()
    # new SQL round (same text as llm.dedup.connected_components builds)
    edges.createOrReplaceTempView("__eq_edges")
    labels.createOrReplaceTempView("__eq_labels")
    new = spark.sql("""
        SELECT node, MIN(comp) AS comp FROM (
          SELECT node, comp FROM __eq_labels
          UNION ALL
          SELECT e.v AS node, l.comp FROM __eq_edges e
          JOIN __eq_labels l ON e.u = l.node
          UNION ALL
          SELECT l1.node, l2.comp FROM __eq_labels l1
          JOIN __eq_labels l2 ON l1.comp = l2.node
        ) GROUP BY node
    """).collect()
    assert sorted(map(tuple, new)) == sorted(map(tuple, old))
    spark.catalog.dropTempView("__eq_edges")
    spark.catalog.dropTempView("__eq_labels")


def test_expr_memo_columns_reusable_across_frames(spark):
    """Memoized Column trees must resolve correctly against DIFFERENT
    source DataFrames (they are unresolved-attribute wrappers, shared by
    every plan that embeds them)."""
    from flink_spark.llm.dedup import minhash_signatures_wide

    d1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    d2 = spark.createDataFrame(
        [(2, "one two three four five six")], "id long, body string"
    )
    w1 = minhash_signatures_wide(d1, "text", "doc_id").collect()
    w2 = minhash_signatures_wide(d2, "body", "id").collect()  # other names
    assert len(w1) == 1 and len(w2) == 1
    assert w1[0]["doc_id"] == 1 and w2[0]["id"] == 2
    # K agg columns present on both
    assert sum(c.startswith("mh_") for c in w1[0].asDict()) == 32
    assert sum(c.startswith("mh_") for c in w2[0].asDict()) == 32


def test_literal_builders_use_the_dataframes_session(spark, monkeypatch):
    """Built in a thread with no active session, the centroid ranking is
    still one Literal node: the builder passes the DataFrame's session to
    double_array_lit, where ``getActiveSession()`` would be None and
    silently take the O(elements) fallback."""
    import threading

    from pyspark.sql import SparkSession

    from flink_spark import exprutil
    from flink_spark.llm.clustering import assign_clusters

    monkeypatch.setattr(exprutil, "_MEMO", OrderedDict())
    df = spark.createDataFrame([(1, [0.5, 1.5])], "id long, v array<double>")
    out = {}

    def build():
        out["active"] = SparkSession.getActiveSession()
        out["df"] = assign_clusters(df, [[0.25, 1.0], [2.0, -3.0]], "v")

    t = threading.Thread(target=build)
    t.start()
    t.join()
    assert out["active"] is None
    (col,) = [v for k, v in exprutil._MEMO.items() if k[0] == "lit"]
    node = (
        spark.range(1).select(col.alias("c"))._jdf.queryExecution()
        .analyzed().expressions().apply(0).child()
    )
    assert node.getClass().getSimpleName() == "Literal"
    assert [r["cluster"] for r in out["df"].collect()] == [0]
