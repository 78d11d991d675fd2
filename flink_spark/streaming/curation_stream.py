"""Streaming end-to-end curation pipeline: Gopher filter → incremental
exact dedup → incremental MinHash-LSH near-dup, in ONE drain.

The batch composition (queries/pipeline_suite.pipe_curation_e2e) as the
topology a production ingestion service actually runs: documents arrive
continuously, and each micro-batch flows through the whole curation
chain against the accumulated state of everything already curated —

  1. Gopher quality filter (llm/pipeline.gopher_quality_flags):
     stateless, pure codegen predicate;
  2. exact dedup: keep-first per normalized-text fingerprint — a native
     window inside the batch + anti-join against the fingerprint store
     of earlier batches (the dedup_jvm plan, keyed on the fingerprint);
  3. near-dup dedup: the batch_neardup_plan of
     streaming/neardup_stream.py over the exact survivors, against the
     LSH index built from every earlier exact survivor.

Each stage's semantics are seen-based and id-monotone, so with
id-ordered arrival the whole chain closes to the batch oracle: survivor
= Gopher-passing AND min-id of its fingerprint group AND not LSH-band-
matched + signature-verified against any smaller-id exact survivor —
exactly the `surv` CTE of queries/pipeline_suite._curation_oracle.

State = four bid-partitioned stores under the storeutil replay-exactness
discipline: kept fingerprints, LSH bands, wide signatures, and the
emitted survivors. Nothing crosses to Python; the Gopher predicate, the
fingerprint window, the banded joins and the 32-term verification are
all JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_spark.llm.dedup import MH_K
from flink_spark.llm.pipeline import gopher_quality_flags
from flink_spark.streaming.neardup_stream import batch_neardup_plan
from flink_spark.streaming.storeutil import (
    collect_out,
    fold_bid_partitions,
    has_parquet,
    prepare_root,
    read_earlier,
    recover_swap,
    run_drain,
    run_parallel,
    write_bid_partition,
)

_FP = "__fp"


def curation_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_agree: int = MH_K // 2,
    num_buckets: int = 16,
    prefix: str = "curation_stream",
    root: str | None = None,
    compact_every: int = 16,
) -> DataFrame:
    """Drain ``stream`` through the full curation chain; return the
    emitted (insert-only) survivor rows as a batch DataFrame. Passing
    ``root`` makes all four stores + checkpoint durable for resume."""
    spark = stream.sparkSession
    cols = stream.schema.fieldNames()
    root, persistent = prepare_root(prefix, root)
    fps_store = f"{root}/fps"
    bands_store = f"{root}/bands"
    sigs_store = f"{root}/sigs"
    out_dir, ckpt = f"{root}/out", f"{root}/ckpt"
    for store in (fps_store, bands_store, sigs_store, out_dir):
        recover_swap(store)

    norm_fp = F.md5(
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    )
    # batch-independent Column trees built ONCE per drain, not per
    # micro-batch (every functions.* call is a py4j round trip — same
    # economics as the exprutil.memo trees in neardup_stream)
    keep_col = F.col("keep")
    rn_col = F.row_number().over(Window.partitionBy(_FP).orderBy(id_col))
    rn_pred = F.col("__rn") == 1

    def process(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        # 1. Gopher filter — stateless
        passed = (
            gopher_quality_flags(batch, text_col)
            .filter(keep_col)
            .select(*cols)
        )
        # 2. exact keep-first per fingerprint: batch-local window +
        #    anti-join against earlier kept fingerprints
        fped = passed.withColumn(_FP, norm_fp)
        firsts = (
            fped.withColumn("__rn", rn_col)
            .filter(rn_pred)
            .drop("__rn")
        )
        hist_fps = read_earlier(sess, fps_store, batch_id)
        if hist_fps is not None:
            firsts = firsts.join(hist_fps, [_FP], "left_anti")
        exact_kept = firsts.persist()
        # 3. near-dup over exact survivors, vs the index of every
        #    earlier exact survivor
        hist_bands = read_earlier(sess, bands_store, batch_id)
        hist_sigs = read_earlier(sess, sigs_store, batch_id)
        survivors, new_bands, new_sigs = batch_neardup_plan(
            exact_kept.select(*cols), text_col, id_col, min_agree,
            num_buckets, hist_bands, hist_sigs,
        )
        new_sigs = new_sigs.persist()
        survivors = survivors.persist()
        try:
            # the four per-batch store commits are independent idempotent
            # __bid overwrites — overlap them (storeutil.run_parallel,
            # guide §2.6) so the batch pays ~max instead of the sum of
            # four commit fixed costs; the near-dup index grows by every
            # exact survivor
            run_parallel(
                lambda: write_bid_partition(
                    survivors.select(*cols), out_dir, batch_id
                ),
                lambda: write_bid_partition(
                    exact_kept.select(_FP), fps_store, batch_id
                ),
                lambda: write_bid_partition(
                    new_bands, bands_store, batch_id, ["__bucket"]
                ),
                lambda: write_bid_partition(new_sigs, sigs_store, batch_id),
            )
            if compact_every and batch_id % compact_every == compact_every - 1:
                fold_bid_partitions(sess, fps_store, [], batch_id)
                fold_bid_partitions(
                    sess, bands_store, ["__bucket"], batch_id
                )
                fold_bid_partitions(sess, sigs_store, [], batch_id)
                if persistent and has_parquet(out_dir):
                    fold_bid_partitions(sess, out_dir, [], batch_id)
        finally:
            survivors.unpersist()
            new_sigs.unpersist()
            exact_kept.unpersist()

    run_drain(stream, process, ckpt)
    return collect_out(spark, root, out_dir, cols, stream.schema,
                       persistent)
