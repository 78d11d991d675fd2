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
    "stream_pq_ingest": 11,
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
