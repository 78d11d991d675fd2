"""Streaming incremental MinHash-LSH near-dup dedup.

The batch MinHash pipeline (llm/dedup.py — signatures, banding,
agreement verification) run INCREMENTALLY over a document stream: each
micro-batch's documents are checked against every document seen in
strictly earlier batches (the historical LSH index) plus smaller-id
documents of the same batch, and only the near-dup-free survivors are
emitted. This is the continuous-ingestion shape of a 100 TB training
corpus: the crawl never stops, and each new snapshot must dedup against
everything already ingested without re-pairing the whole corpus.

Semantics (deterministic, exactly SQL-oracle-able): a document D is
DROPPED iff some earlier-seen document E (earlier batch, or same batch
with ``E.id < D.id``) shares at least one LSH band with D AND agrees on
``>= min_agree`` of the MH_K signature positions. "Earlier-seen", not
"earlier-kept": the index grows by every document seen, which is the
standard production posture (an ever-growing LSH index of all ingested
docs) and — unlike greedy keep-first chaining — is order-parallel inside
a batch and invariant to micro-batch boundaries whenever batches arrive
in id order, which is what gives the operator a closed-form oracle:
``D survives iff no E with E.id < D.id is band-matched and
signature-verified against D``.

State = two bid-partitioned parquet stores under the replay-exactness
discipline of streaming/storeutil.py (idempotent per-batch dynamic
overwrites, strictly-earlier reads, crash-safe ``__bid=-1`` folding):

  - ``bands``: (bucket, band, sig, id) — one row per (doc, band); the
    join side of the candidate lookup, sub-partitioned by
    ``pmod(hash(sig))`` so the candidate equality join shuffles on
    co-located buckets and a table-format store would prune untouched
    buckets;
  - ``sigs``: (id, mh_0..mh_{K-1}) — one row per doc; the verification
    side (agreement is a K-term JVM expression over two wide rows, no
    per-position explode).

Docs too short to shingle (< n words) have no signature, can never
band-match, and therefore always survive — the batch operators treat
them identically.

Scale shape: per batch = one signature aggregation over the delta
(fixed K mins per doc), one banded equality join delta-vs-index, one
wide-row verification join, one anti-join. Nothing crosses to Python;
no collect; index size is O(docs seen) rows of fixed width — the same
asymptotics as the reference's keyed dedup state, with near-dup
instead of exact-key semantics.

Reference parity: StreamExecDeduplicate.java keeps exact-key state;
this operator is the near-dup member of the same family (SURVEY §7.1
LLM-pipeline scope), with MinHash/LSH per Broder '97 and the banding
layout of llm/dedup.py::minhash_lsh_pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_spark.exprutil import memo
from flink_spark.llm.dedup import (
    MH_K,
    band_rows,
    minhash_signatures_wide,
)
from flink_spark.streaming.storeutil import (
    collect_out,
    fold_bid_partitions,
    has_parquet,
    portable_bucket,
    prepare_root,
    read_earlier,
    recover_swap,
    run_drain,
    run_parallel,
    write_bid_partition,
)

_BUCKET = "__bucket"

# Batch-independent Column lists/exprs, built once per (parameter) and
# reused by every micro-batch's plan: foreachBatch rebuilds the per-batch
# plan from scratch, and each functions.* call is a py4j round trip
# (~1-2 ms on the bench box) — the K=32 alias lists and the 32-term
# agreement sum alone cost ~0.5 s per construction (exprutil.memo, as in
# llm/dedup).


def _side_cols(id_col: str, alias: str) -> list:
    return memo(("neardup", "side", id_col, alias), lambda: [
        F.col(id_col).alias(alias), F.col("band"), F.col("sig"),
        F.col(_BUCKET),
    ])


def _wide_alias_cols(id_col: str, out_id: str, prefix: str) -> list:
    return memo(("neardup", "wide", id_col, out_id, prefix), lambda: [
        F.col(id_col).alias(out_id),
        *[F.col(f"mh_{i}").alias(f"{prefix}_{i}") for i in range(MH_K)],
    ])


def _n_agree():
    return memo(("neardup", "n_agree"), lambda: sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
        for i in range(MH_K)
    ))


def batch_neardup_plan(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    min_agree: int,
    num_buckets: int,
    hist_bands: DataFrame | None,
    hist_sigs: DataFrame | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The per-micro-batch plan (exposed for plan-audit tests): returns
    ``(survivors, new_bands, new_sigs)`` as unexecuted DataFrames — all
    JVM expressions, no Python eval node.

    ``hist_bands``/``hist_sigs`` are the strictly-earlier index slices
    ((bucket, band, sig, id) and (id, mh_*)) or None on the first batch.
    """
    wide = minhash_signatures_wide(batch, text_col, id_col)
    new_bands = band_rows(wide, id_col).withColumn(
        _BUCKET,
        memo(("neardup", "bucket", num_buckets),
             lambda: portable_bucket(num_buckets, "sig")),
    )

    mine = new_bands.select(*_side_cols(id_col, "__new_id"))
    # same-batch candidates: smaller id claims seniority
    intra = new_bands.select(*_side_cols(id_col, "__old_id"))
    cand = (
        mine.join(intra, ["band", "sig", _BUCKET])
        .filter(F.col("__old_id") < F.col("__new_id"))
        .select("__new_id", "__old_id")
    )
    if hist_bands is not None:
        hist = hist_bands.select(*_side_cols(id_col, "__old_id"))
        cand = cand.unionByName(
            mine.join(hist, ["band", "sig", _BUCKET]).select(
                "__new_id", "__old_id"
            )
        )
    cand = cand.distinct()

    # verification: wide-row agreement (>= min_agree of MH_K positions)
    old_sigs = wide if hist_sigs is None else wide.unionByName(hist_sigs)
    wa = old_sigs.select(*_wide_alias_cols(id_col, "__old_id", "a"))
    wb = wide.select(*_wide_alias_cols(id_col, "__new_id", "b"))
    dup_ids = (
        cand.join(wa, "__old_id")
        .join(wb, "__new_id")
        .filter(_n_agree() >= F.lit(min_agree))
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    survivors = batch.join(dup_ids, [id_col], "left_anti")
    return survivors, new_bands, wide


def minhash_neardup_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_agree: int = MH_K // 2,
    num_buckets: int = 16,
    prefix: str = "neardup_stream",
    root: str | None = None,
    compact_every: int = 16,
) -> DataFrame:
    """Drain ``stream`` through the incremental near-dup plan; return the
    emitted (insert-only) survivor rows as a batch DataFrame.

    Passing ``root`` makes the LSH index stores and checkpoint survive
    the call — a second drain with the same root RESUMES against the
    index the first drain built (the restore contract of the reference's
    keyed dedup state)."""
    spark = stream.sparkSession
    cols = stream.schema.fieldNames()
    root, persistent = prepare_root(prefix, root)
    bands_store = f"{root}/bands"
    sigs_store = f"{root}/sigs"
    out_dir, ckpt = f"{root}/out", f"{root}/ckpt"
    for store in (bands_store, sigs_store, out_dir):
        recover_swap(store)

    def process(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        hist_bands = read_earlier(sess, bands_store, batch_id)
        hist_sigs = read_earlier(sess, sigs_store, batch_id)
        survivors, new_bands, new_sigs = batch_neardup_plan(
            batch, text_col, id_col, min_agree, num_buckets,
            hist_bands, hist_sigs,
        )
        # caching the wide signature table short-circuits every plan that
        # embeds it (bands write, sigs write, verification, anti-join) —
        # the shingle aggregation runs once per batch, not four times
        new_sigs = new_sigs.persist()
        survivors = survivors.persist()
        try:
            # three independent idempotent __bid commits — overlapped
            # (guide §2.6); the index grows by EVERY seen doc (kept or
            # dropped)
            run_parallel(
                lambda: write_bid_partition(
                    survivors.select(*cols), out_dir, batch_id
                ),
                lambda: write_bid_partition(
                    new_bands, bands_store, batch_id, [_BUCKET]
                ),
                lambda: write_bid_partition(new_sigs, sigs_store, batch_id),
            )
            if compact_every and batch_id % compact_every == compact_every - 1:
                fold_bid_partitions(sess, bands_store, [_BUCKET], batch_id)
                fold_bid_partitions(sess, sigs_store, [], batch_id)
                if persistent and has_parquet(out_dir):
                    fold_bid_partitions(sess, out_dir, [], batch_id)
        finally:
            survivors.unpersist()
            new_sigs.unpersist()

    run_drain(stream, process, ckpt)
    return collect_out(spark, root, out_dir, cols, stream.schema,
                       persistent)


def semantic_neardup_stream(
    stream: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 2,
    threshold: float = 0.35,
    dim: int = 64,
    prefix: str = "semdedup_stream",
    root: str | None = None,
    compact_every: int = 16,
) -> DataFrame:
    """Streaming semantic (embedding) near-dup dedup — SemDeDup's
    continuous-ingestion form, the embedding sibling of
    :func:`minhash_neardup_stream`: each micro-batch's vectors are
    sign-sketched into ``n_tables`` independent hyperplane bucket
    families (llm/similarity.hyperplane_sketch — deterministic md5
    planes, no RNG), checked against the bucket index of everything seen
    earlier (strictly-earlier batches + smaller ids in-batch), verified
    by rounded-12 cosine >= ``threshold``, and survivors are emitted
    insert-only.

    Same closed-form semantics as the minhash twin ('D survives iff no
    earlier-seen vector is bucket-matched in any table AND
    cosine-verified against D'), same bid-partitioned replay-exact
    state (buckets index + vector store), same exact-oracle form."""
    from flink_spark.llm.similarity import cosine, hyperplane_sketch

    spark = stream.sparkSession
    cols = stream.schema.fieldNames()
    root, persistent = prepare_root(prefix, root)
    buckets_store = f"{root}/buckets"
    vecs_store = f"{root}/vecs"
    out_dir, ckpt = f"{root}/out", f"{root}/ckpt"
    for store in (buckets_store, vecs_store, out_dir):
        recover_swap(store)

    # batch-independent Column trees built ONCE per drain, not per
    # micro-batch (each functions.* call is a py4j round trip — same
    # economics as the exprutil.memo trees above); hyperplane_sketch
    # memoizes its bucket expression internally
    vec_in_cols = [F.col(id_col), F.col(vec_col).alias("__v")]
    table_cols = [
        [F.col(id_col), F.lit(t).alias("__table"), F.col("bucket")]
        for t in range(n_tables)
    ]
    mine_cols = [F.col(id_col).alias("__new_id"), F.col("__table"),
                 F.col("bucket")]
    old_cols = [F.col(id_col).alias("__old_id"), F.col("__table"),
                F.col("bucket")]
    new_vec_cols = [F.col(id_col), F.col(vec_col).alias("__vv")]
    va_cols = [F.col(id_col).alias("__old_id"), F.col("__vv").alias("__va")]
    vb_cols = [F.col(id_col).alias("__new_id"), F.col("__vv").alias("__vb")]
    verify_pred = F.round(cosine("__va", "__vb"), 12) >= F.lit(threshold)
    dup_out_col = F.col("__new_id").alias(id_col)

    def batch_buckets(batch: DataFrame) -> DataFrame:
        # hyperplane_sketch inlines Python-precomputed literal planes
        # (the r9 plan-size lesson lives there now)
        per_table = []
        for t in range(n_tables):
            sk = hyperplane_sketch(
                batch.select(*vec_in_cols),
                "__v", n_planes, dim, table=t,
            )
            per_table.append(sk.select(*table_cols[t]))
        out = per_table[0]
        for p in per_table[1:]:
            out = out.unionByName(p)
        return out

    def process(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        # computed once per batch: candidate mine/intra sides, the
        # bucket-store write and the history join all reuse it
        bks = batch_buckets(batch).persist()
        hist_bks = read_earlier(sess, buckets_store, batch_id)
        hist_vecs = read_earlier(sess, vecs_store, batch_id)

        mine = bks.select(*mine_cols)
        intra = bks.select(*old_cols)
        cand = (
            mine.join(intra, ["__table", "bucket"])
            .filter(F.col("__old_id") < F.col("__new_id"))
            .select("__new_id", "__old_id")
        )
        if hist_bks is not None:
            hist = hist_bks.select(*old_cols)
            cand = cand.unionByName(
                mine.join(hist, ["__table", "bucket"]).select(
                    "__new_id", "__old_id")
            )
        cand = cand.distinct()

        new_vecs = batch.select(*new_vec_cols)
        old_vecs = (
            new_vecs if hist_vecs is None
            else new_vecs.unionByName(hist_vecs)
        )
        dup_ids = (
            cand.join(old_vecs.select(*va_cols), "__old_id")
            .join(new_vecs.select(*vb_cols), "__new_id")
            .filter(verify_pred)
            .select(dup_out_col)
            .distinct()
        )
        survivors = batch.join(dup_ids, [id_col], "left_anti").persist()
        try:
            # three independent idempotent __bid commits — overlapped
            # (guide §2.6); the index grows by EVERY seen vector (kept
            # or dropped)
            run_parallel(
                lambda: write_bid_partition(
                    survivors.select(*cols), out_dir, batch_id
                ),
                lambda: write_bid_partition(
                    bks, buckets_store, batch_id, ["__table"]
                ),
                lambda: write_bid_partition(new_vecs, vecs_store, batch_id),
            )
            if compact_every and batch_id % compact_every == compact_every - 1:
                fold_bid_partitions(
                    sess, buckets_store, ["__table"], batch_id)
                fold_bid_partitions(sess, vecs_store, [], batch_id)
                if persistent and has_parquet(out_dir):
                    fold_bid_partitions(sess, out_dir, [], batch_id)
        finally:
            survivors.unpersist()
            bks.unpersist()

    run_drain(stream, process, ckpt)
    return collect_out(spark, root, out_dir, cols, stream.schema,
                       persistent)
