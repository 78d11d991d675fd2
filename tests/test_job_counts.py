"""Driver-job counts of a few queries, pinned: a change that adds Spark
jobs to these plans fails here, not only in a traced bench run.

Counted with ``statusTracker``: job ids are assigned in order across
every thread (streaming micro-batch threads included), so the jobs a
query ran are the ids between two one-job probes. The counted run is
warm: a first run also fills the per-process schema and expression
memos."""

from __future__ import annotations

import itertools

import pytest

from flink_spark.queries.registry import QUERIES

JOBS = {
    "stream_watermark_alignment": 18,
    "stream_pq_ingest": 9,
    "llm_pq_topk": 5,
    "llm_ivf_topk": 10,
    "llm_dedup_clusters": 28,
    "llm_multimodal_decode": 1,
}

_PROBES = itertools.count()


def _probe_job_id(sc) -> int:
    """Run one tiny job and return its id."""
    group = f"__job_count_probe_{next(_PROBES)}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    return job


@pytest.mark.parametrize("name", sorted(JOBS))
def test_driver_job_count(spark, sf_dir, name):
    sc = spark.sparkContext
    fn = QUERIES[name].fn
    fn(spark, sf_dir).collect()
    before = _probe_job_id(sc)
    fn(spark, sf_dir).collect()
    assert _probe_job_id(sc) - before - 1 == JOBS[name]


def test_empty_ann_frames_run_no_job(spark, sf_dir, tmp_path):
    """An ANN index that never drained a row, and a PQ search whose
    query set is empty, hand back JVM-side empty frames: collecting them
    runs no Spark job."""
    from pyspark.sql import functions as F

    from flink_spark.llm.similarity import pq_topk
    from flink_spark.sources.tables import load_table
    from flink_spark.streaming.ann_stream import IvfStreamIndex, PqStreamIndex

    sc = spark.sparkContext
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding")
    ivf = IvfStreamIndex(spark, str(tmp_path / "ivf"), "vec_id",
                         "embedding", persistent=True)
    pq = PqStreamIndex(spark, str(tmp_path / "pq"), "vec_id", "embedding",
                       persistent=True)
    books = [[[0.0] * 4, [1.0] * 4]] * 16
    frames = [ivf.assigned(), ivf.topk(q), pq.encoded(), pq.topk(q),
              pq_topk(q.filter(F.lit(False)), c, books=books, ks=2)]
    for frame in frames:
        before = _probe_job_id(sc)
        assert frame.collect() == []
        assert _probe_job_id(sc) - before - 1 == 0


def _bare_empty_frames(root):
    """(relpath, line) of every ``createDataFrame([], ...)`` call under
    the .py files in ``root``: an empty list literal as the rows."""
    import ast
    import os

    sites = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                        and node.args
                        and isinstance(node.args[0], ast.List)
                        and not node.args[0].elts):
                    rel = os.path.relpath(path, root).replace(os.sep, "/")
                    sites.append((rel, node.lineno))
    return sorted(sites)


def test_empty_frames_are_built_on_the_jvm():
    """An empty frame goes through ``exprutil.empty_frame``, never a bare
    ``createDataFrame([], schema)``, whose Python RDD costs a Spark job
    on every collect."""
    import os

    import flink_spark

    assert _bare_empty_frames(os.path.dirname(flink_spark.__file__)) == []


def test_empty_frame_scan_flags_new_site(tmp_path):
    """The scan sees a bare empty frame (also split over lines), and not
    a mention in a docstring or a frame with rows."""
    (tmp_path / "op.py").write_text(
        "def op(spark, schema):\n"
        "    \"\"\"Not createDataFrame([], schema).\"\"\"\n"
        "    spark.createDataFrame([(1,)], schema)\n"
        "    return spark.createDataFrame(\n"
        "        [], schema)\n"
    )
    assert _bare_empty_frames(str(tmp_path)) == [("op.py", 4)]


def test_empty_frame_keeps_struct_nullability_and_metadata(spark):
    """A ``StructType`` schema crosses whole: nullability and field
    metadata survive, as they do through ``createDataFrame([], schema)``."""
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType, TimestampType,
    )

    from flink_spark.exprutil import empty_frame

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("ts", TimestampType(), True,
                    {"spark.watermarkDelayMs": 5000}),
        StructField("v", ArrayType(LongType(), False), True),
    ])
    assert empty_frame(spark, schema).schema == schema
    assert empty_frame(spark, schema).schema == \
        spark.createDataFrame([], schema).schema
