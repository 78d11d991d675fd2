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
