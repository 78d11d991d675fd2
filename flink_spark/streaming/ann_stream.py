"""Streaming IVF index ingest: continuous ANN index maintenance.

The batch IVF path (llm/similarity.py ivf_topk) trains centroids and
assigns the whole corpus in one job. Production vector pipelines don't
get that luxury: embeddings arrive continuously, and each batch must be
indexed (assigned to cells) without retraining or re-scanning the
corpus — FAISS's add-after-train contract, here as a Structured
Streaming operator:

  - the FIRST micro-batch trains the codebook with the deterministic
    Lloyd's of llm/clustering.py (id-ordered init, sequential-fold
    distances, 9-digit-rounded means) and freezes it to a JSON sidecar
    under the root (atomic write; a replay retrains bit-identically, a
    resume reloads);
  - EVERY batch assigns its vectors to their nearest frozen centroid —
    a pure JVM argmin over inlined centroid literals (no crossJoin, no
    window, no Python) — and appends (cell, id, vec) rows to a
    cell-sub-partitioned parquet store under the storeutil
    replay-exactness discipline (idempotent ``__bid`` overwrites,
    crash-safe compaction folds);
  - queries probe the ``n_probe`` nearest cells of the ACCUMULATED
    store: cell ids come from the same ranking
    (``clustering.nearest_cells`` — still no crossJoin), the probe is an
    equality join on the cell id, and the store's cell sub-partitioning
    means a table-format store prunes unprobed cells entirely.

Scale shape (100 TB): per batch = one map-only assignment pass over the
delta + one partitioned append; a search touches ~n_probe/n_centroids
of the index via partition pruning. Index rows are fixed width; the
codebook is k×d floats on the driver and a literal in every plan.

Because every step is deterministic, the whole thing carries an exact
DuckDB oracle (queries/annsql.py ivf_ingest_oracle: the same unrolled
Lloyd's over the first batch's id-slice, assignment and probe over the
full corpus).

Reference parity: VECTOR_SEARCH index family
(StreamExecVectorSearchTableFunction) + FAISS IVF add-after-train;
state discipline shared with streaming/deltajoin.py and dedup_jvm.py.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_spark.exprutil import empty_frame
from flink_spark.llm.clustering import assign_clusters, kmeans
from flink_spark.streaming.storeutil import (
    fold_bid_partitions,
    has_parquet,
    prepare_root,
    read_store,
    recover_swap,
    run_drain,
    write_bid_partition,
)


def _load_centroids(path: str) -> list[list[float]] | None:
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _save_centroids(path: str, cents: list[list[float]]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cents, fh)
    os.replace(tmp, path)


def _store_key(kind: str, stream: DataFrame, id_col: str,
               vec_col: str) -> str:
    """The schema-memo key of an index store (``storeutil.read_store``):
    every ingest writes to a fresh root, but the store's schema follows
    from the stream's id and vector column types alone."""
    id_f, vec_f = stream.select(id_col, vec_col).schema
    return (f"{kind}:{id_col} {id_f.dataType.simpleString()},"
            f"{vec_col} {vec_f.dataType.simpleString()}")


class IvfStreamIndex:
    """Handle over an ingested IVF store: frozen centroids + the
    accumulated (cell, id, vec) rows; ``topk`` probes it."""

    def __init__(self, spark, root: str, id_col: str, vec_col: str,
                 persistent: bool, store_key: str | None = None):
        self.spark = spark
        self.root = root
        self.id_col = id_col
        self.vec_col = vec_col
        self.persistent = persistent
        self.store_key = store_key
        self.centroids = _load_centroids(f"{root}/centroids.json") or []

    def assigned(self) -> DataFrame:
        """The raw index rows (id, vec, __cell) — ``__bid`` dropped so
        the schema is identical on the empty and non-empty paths. An
        empty index (nothing ever drained) yields an empty frame WITHOUT
        writing anything — a flat bootstrap file under the partitioned
        store root would poison the __bid/__cell directory layout for
        later resumes. (The empty frame types the id column as long —
        the test-corpus id type; a non-long id only surfaces here when
        the index never saw a row.)"""
        if not has_parquet(f"{self.root}/cells"):
            return empty_frame(
                self.spark,
                f"`{self.id_col}` long, `{self.vec_col}` array<double>, "
                "__cell int",
            )
        return read_store(
            self.spark, f"{self.root}/cells", self.store_key
        ).select(self.id_col, self.vec_col, "__cell")

    def topk(self, queries: DataFrame, k: int = 5, n_probe: int = 2,
             query_id: str = "query_id", vec: str = "embedding",
             ) -> DataFrame:
        """Probed cosine top-k over the accumulated index, as the batch
        ``similarity.ivf_topk`` searches: each query's n_probe nearest
        cells, an equality join on the cell id (partition-prunable),
        exact cosine inside the probed cells, (cos DESC, id) tie-break."""
        from flink_spark.llm.similarity import _ivf_scored, _top_k

        if not self.centroids:  # empty index: no cells to probe
            return empty_frame(
                self.spark, f"`{query_id}` long, cand_id long, "
                            "cos_sim double, rank int")
        idx = self.assigned().select(
            F.col(self.id_col).alias("cand_id"),
            F.col(self.vec_col).alias("__cv"),
            "__cell",
        )
        q = queries.select(query_id, F.col(vec).alias("__qv"))
        scored = _ivf_scored(q, idx, self.centroids, n_probe, query_id,
                             "cand_id", spilled=False)
        return _top_k(scored, k, query_id, "cand_id")

    def close(self) -> None:
        if not self.persistent:
            shutil.rmtree(self.root, ignore_errors=True)


def ivf_ingest_stream(
    stream: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_iter: int = 3,
    prefix: str = "ivf_ingest",
    root: str | None = None,
    compact_every: int = 16,
) -> IvfStreamIndex:
    """Drain ``stream`` through the IVF ingest; return the index handle.

    The first NON-EMPTY batch trains and freezes the codebook
    (deterministic, so a crash-replay retrains the identical centroids;
    a resume with the same ``root`` reloads them — FAISS's train-once
    contract). The exact gate's oracle pins the batch-0 id-slice, which
    assumes batch 0 is non-empty — guaranteed by the id-ordered chunker
    over the test tables."""
    spark = stream.sparkSession
    root, persistent = prepare_root(prefix, root)
    cells_store, ckpt = f"{root}/cells", f"{root}/ckpt"
    cent_path = f"{root}/centroids.json"
    recover_swap(cells_store)

    def process(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        cents = _load_centroids(cent_path)
        if cents is None:
            # emptiness probe ONLY while untrained (never train a
            # codebook on nothing, and never bootstrap the store from an
            # empty drain — see the no-bootstrap note below). Once the
            # codebook is frozen the probe is a pure extra driver job
            # per batch: an empty batch's dynamic-partition overwrite
            # writes no partition at all, so writing unconditionally is
            # store-identical (r13).
            if batch.isEmpty():
                return
            base = batch.select(
                id_col, F.col(vec_col).cast("array<double>").alias("__dv")
            )
            _, cents = kmeans(
                base, k=n_centroids, n_iter=n_iter,
                id_col=id_col, vec_col="__dv",
            )
            _save_centroids(cent_path, cents)
        assigned = (
            assign_clusters(
                batch.select(
                    id_col,
                    F.col(vec_col).cast("array<double>").alias(vec_col),
                ),
                cents, vec_col,
            )
            .select(id_col, vec_col, F.col("cluster").alias("__cell"))
        )
        write_bid_partition(assigned, cells_store, batch_id, ["__cell"])
        if compact_every and batch_id % compact_every == compact_every - 1:
            fold_bid_partitions(sess, cells_store, ["__cell"], batch_id)

    run_drain(stream, process, ckpt)
    # NO bootstrap write on an empty drain: a flat part file under the
    # partitioned store root would conflict with later __bid=/__cell=
    # partition dirs on resume; assigned()/topk() handle the absent
    # store by returning empty frames instead
    return IvfStreamIndex(spark, root, id_col, vec_col, persistent,
                          _store_key("ivf_cells", stream, id_col, vec_col))


class PqStreamIndex:
    """Handle over an ingested PQ store: frozen m×ks codebooks + the
    accumulated (id, vec, code) rows; ``topk`` runs the two-stage
    ADC-shortlist + exact-rerank search over it."""

    def __init__(self, spark, root: str, id_col: str, vec_col: str,
                 persistent: bool, store_key: str | None = None):
        self.spark = spark
        self.root = root
        self.id_col = id_col
        self.vec_col = vec_col
        self.persistent = persistent
        self.store_key = store_key
        self.books = _load_centroids(f"{root}/codebooks.json") or []

    def encoded(self) -> DataFrame:
        """The raw index rows (id, vec, __code) — ``__bid`` dropped so
        the schema is identical on the empty and non-empty paths; empty
        frame when nothing was ever drained (no bootstrap file — see
        IvfStreamIndex)."""
        if not has_parquet(f"{self.root}/codes"):
            return empty_frame(
                self.spark,
                f"`{self.id_col}` long, `{self.vec_col}` array<double>, "
                "__code array<int>",
            )
        return read_store(
            self.spark, f"{self.root}/codes", self.store_key
        ).select(self.id_col, self.vec_col, "__code")

    def topk(self, queries: DataFrame, k: int = 5,
             shortlist: int | None = None,
             query_id: str = "query_id", vec: str = "embedding",
             ) -> DataFrame:
        """ADC shortlist + exact rerank over the accumulated index
        (similarity.pq_search): the vectors are rebuilt from the stored
        codes and the frozen books in the search kernel, so the store
        keeps m codes per vector and no reconstruction."""
        from flink_spark.llm.similarity import pq_search

        if not self.books:
            return empty_frame(
                self.spark, f"`{query_id}` long, cand_id long, "
                            "cos_sim double, rank int")
        enc = self.encoded().select(
            F.col(self.id_col).alias("cand_id"),
            F.col(self.vec_col).alias("__cv"),
            "__code",
        )
        # rows-independent default (r10): no count action over the
        # accumulated index per search call; see similarity.pq_topk's
        # docstring for when to pass an explicit corpus-fraction width
        if shortlist is None:
            shortlist = 30 * k
        q = queries.select(query_id, F.col(vec).alias("__qv"))
        return pq_search(q, enc, self.books, k, shortlist, query_id,
                         "PqStreamIndex.topk")

    def close(self) -> None:
        if not self.persistent:
            shutil.rmtree(self.root, ignore_errors=True)


def pq_ingest_stream(
    stream: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ks: int = 16,
    train_limit: int | None = 50_000,
    n_iter: int = 3,
    prefix: str = "pq_ingest",
    root: str | None = None,
    compact_every: int = 16,
) -> PqStreamIndex:
    """Streaming PQ index ingest — the compressed-index sibling of
    :func:`ivf_ingest_stream`: the first micro-batch trains the m×ks
    codebooks (llm/similarity.pq_train — md5-ordered deterministic
    sample, driver-side Lloyd's under the rows×dim byte budget) and
    freezes them; every batch encodes map-only against the frozen books
    (pq_encode's add-after-train path: a numpy argmin per subspace in
    the worker, zero shuffle) and appends (id, vec, code) to the store.
    Search runs similarity.pq_search over the store: one Arrow kernel
    pass rebuilds the vectors from the codes per the frozen books,
    shortlists by ADC cosine and exact-reranks — identical semantics to
    the batch pq_topk with training pinned to batch 0."""
    spark = stream.sparkSession
    root, persistent = prepare_root(prefix, root)
    codes_store, ckpt = f"{root}/codes", f"{root}/ckpt"
    books_path = f"{root}/codebooks.json"
    recover_swap(codes_store)

    def process(batch: DataFrame, batch_id: int) -> None:
        from flink_spark.llm.similarity import _pq_train, pq_encode

        sess = batch.sparkSession
        books = _load_centroids(books_path)
        if books is None:
            # one probe job, and ONLY while untrained — see ivf_ingest's
            # process(): after the books freeze, an empty batch's
            # dynamic-partition overwrite writes nothing, so a per-batch
            # probe is pure overhead. The first row shows both that the
            # batch is non-empty and the dimension training needs.
            head = batch.select(vec_col).first()
            if head is None:
                return
            books = _pq_train(
                batch, len(head[0]), id_col, vec_col, m, ks, train_limit,
                n_iter,
            )
            _save_centroids(books_path, books)
        enc, _ = pq_encode(
            batch, cand_id=id_col, vec=vec_col, m=m, ks=ks, books=books,
            recon=False,
        )
        write_bid_partition(
            enc.select(
                F.col(id_col),
                F.col("__cv").alias(vec_col),
                "__code",
            ),
            codes_store, batch_id,
        )
        if compact_every and batch_id % compact_every == compact_every - 1:
            fold_bid_partitions(sess, codes_store, [], batch_id)

    run_drain(stream, process, ckpt)
    # no bootstrap write on an empty drain (see ivf_ingest_stream)
    return PqStreamIndex(spark, root, id_col, vec_col, persistent,
                         _store_key("pq_codes", stream, id_col, vec_col))
