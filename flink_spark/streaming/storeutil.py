"""Shared machinery for foreachBatch parquet state stores.

The one replay-exactness discipline of every foreachBatch operator that
keeps durable state as a batch-id-partitioned parquet table (users:
streaming/deltajoin.py, dedup_jvm.py, curation_stream.py,
neardup_stream.py, ann_stream.py and ``core.side_output_late``):

  - writes are ``__bid``-keyed dynamic partition overwrites, so a
    re-delivered micro-batch overwrites its own partition with identical
    content instead of double-appending;
  - reads filter ``__bid < batch_id``, so a replayed batch can never
    observe its own earlier partial write;
  - every ``compact_every`` batches the strictly-earlier partitions fold
    into one ``__bid=-1`` partition (always < any real batch id) through
    a crash-safe ``.old`` swap — without folding, a long-running stream
    accumulates one partition per batch forever, and at 100 TB the
    file/partition count, not the row count, becomes the scan cost.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_spark.exprutil import empty_frame, memo

BID = "__bid"


def read_store(
    sess: SparkSession, store: str, key: str | None = None
) -> DataFrame:
    """Read a store directory with its memoized schema (metadata only —
    rows always come from disk). Every ``read.parquet`` without an
    explicit schema launches a driver-side footer-inference job; a
    store's schema is fixed for the life of the process (same writer,
    and compaction folds rewrite the same columns), so one inference per
    store suffices instead of one per micro-batch read. Keyed on the
    exact path: tmp roots are mkdtemp-unique and durable roots keep
    their schema across drains by the resume contract.

    The schema comes from the first, inferred read — the one a miss
    returns — not hand-built from the written DataFrame, so
    partition-column types match what discovery produces (``__bid=3``
    dirs infer back as int regardless of the literal's write-side
    type). ``key`` overrides the memo key for stores whose PATH rotates
    while the schema stays fixed (``idleness.aligned_union_trace``'s
    per-round buffer dirs, and the ANN index stores of
    ``ann_stream``, whose every ingest writes a fresh root)."""
    df = None

    def infer():
        nonlocal df
        df = sess.read.parquet(store)
        return df.schema

    schema = memo(("store_schema", key or store), infer)
    return df if df is not None else sess.read.schema(schema).parquet(store)


def run_parallel(*thunks) -> None:
    """Run independent per-batch store writes concurrently (guide §2.6:
    overlap independent jobs). Every caller's writes are idempotent
    per-store commits whose ORDER was never part of the crash contract —
    a replayed batch overwrites each store's own partition regardless of
    which subset a crashed attempt landed — so overlapping them turns
    the per-batch commit fixed cost from a sum into roughly a max. A
    failure in any write propagates after the in-flight ones finish,
    exactly like the sequential spelling's fail-fast-at-the-batch."""
    thunks = [t for t in thunks if t is not None]
    if len(thunks) <= 1:
        for t in thunks:
            t()
        return
    with ThreadPoolExecutor(max_workers=min(len(thunks), 4)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in futures:
            f.result()

#: Persisted-store layout version. History:
#:   1 — buckets derived from Spark's internal ``hash()`` (pre-r10);
#:   2 — buckets derived from :func:`portable_bucket` (md5) — the
#:       engine-version-stable layout every shipped caller writes.
#: Bumped whenever anything about the on-disk store layout (bucket
#: function, partition scheme, column contract) changes incompatibly.
LAYOUT_VERSION = 2

#: Marker filename under a durable store root. Underscore-prefixed so
#: Spark's file index ignores it (same convention as ``_SUCCESS``).
LAYOUT_MARKER = "_flink_spark_layout"


def portable_bucket(num_buckets: int, *cols):
    """Bucket id from a format-specified digest (md5, RFC 1321) instead
    of Spark's internal ``hash()``: buckets are PERSISTED in store
    partition layouts and join keys, so they must reproduce bit-for-bit
    across Spark versions/engines over a durable resume root — if the
    engine's hash seed or algorithm ever changed, stored buckets would
    silently stop matching recomputed ones and cross-run matches would
    be missed (ADVICE r9). The top 15 hex digits (60 bits) keep the
    conv() result positive in a signed long. Nulls hash as empty via
    concat_ws — a deterministic (if shared) bucket, and every caller
    also joins on the raw key columns, so bucket collisions only affect
    co-location, never results.

    Constraint: key columns must stringify session-independently —
    ids/strings/dates are fine, but a tz-aware TIMESTAMP key would make
    the persisted bucket depend on the session time zone (cast such a
    key to BIGINT micros first). The shipped callers key on ids and
    signature strings only."""
    payload = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in cols]
    )
    return F.pmod(
        F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long"),
        F.lit(num_buckets),
    )


def check_layout(root: str) -> None:
    """Fail fast when a durable store root was written by a different
    on-disk layout (ADVICE r10: the pmod(hash())→md5 bucket change would
    otherwise make a resumed v1 store silently stop matching — dedup's
    left_anti misses seen keys and re-emits duplicates, deltajoin misses
    cross-run matches). A fresh/empty root gets the current marker; a
    root with committed data but NO marker predates layout versioning
    and is ambiguous (v1 engine-hash or early-v2 md5 buckets), so it is
    rejected with the manual-acceptance escape hatch spelled out."""
    ver = BACKEND.read_marker(root, LAYOUT_MARKER)
    if ver is not None:
        if ver.strip() != str(LAYOUT_VERSION):
            raise ValueError(
                f"store root {root!r} has layout version {ver.strip()!r} "
                f"but this engine writes version {LAYOUT_VERSION}: "
                "resuming would silently mismatch persisted buckets. "
                "Start a fresh root, or migrate the store (rewrite with "
                "buckets recomputed by storeutil.portable_bucket)."
            )
        return
    if BACKEND.has_committed_data(root):
        raise ValueError(
            f"store root {root!r} holds committed data but no "
            f"{LAYOUT_MARKER} marker: it predates layout versioning, so "
            "its persisted buckets may be engine-hash derived (layout "
            "v1) and would silently stop matching this engine's md5 "
            "buckets (layout v2). Start a fresh root; if the store is "
            "KNOWN md5-bucketed (written by the r10+ engine), accept it "
            "with flink_spark.streaming.storeutil.accept_layout(root)."
        )
    BACKEND.write_marker(root, LAYOUT_MARKER, str(LAYOUT_VERSION))


def accept_layout(root: str) -> None:
    """Operator-invoked migration acceptance (ADVICE r11): stamp the
    current layout marker onto a marker-less durable root the operator
    KNOWS was written md5-bucketed (i.e. by the r10 engine, after the
    portable_bucket change but before markers existed). This is the
    supported spelling of the escape hatch — it refuses to overwrite an
    existing CONFLICTING marker (that store genuinely belongs to a
    different layout and needs a rewrite, not a stamp) and is a no-op
    on a root already carrying the current marker. The acceptance is
    deliberately explicit: nothing in the engine calls this; resuming a
    pre-marker root without it still fails fast in
    :func:`check_layout`."""
    ver = BACKEND.read_marker(root, LAYOUT_MARKER)
    if ver is not None:
        if ver.strip() != str(LAYOUT_VERSION):
            raise ValueError(
                f"store root {root!r} already carries layout marker "
                f"{ver.strip()!r}; accept_layout only stamps "
                "marker-less pre-versioning roots — a conflicting "
                "marker means the store needs a bucket rewrite, not "
                "an acceptance stamp."
            )
        return
    BACKEND.write_marker(root, LAYOUT_MARKER, str(LAYOUT_VERSION))


def prepare_root(prefix: str, root: str | None) -> tuple[str, bool]:
    """Resolve the operator's state root: a caller-provided durable root
    (resume contract) or a fresh tmpdir. Returns (root, persistent).
    Durable roots are layout-version checked (:func:`check_layout`) —
    every shipped caller resolves its root here, so the resume entry
    point is the single gate."""
    persistent = root is not None
    if root is None:
        root = tempfile.mkdtemp(prefix=f"flink_spark_{prefix}_")
    else:
        os.makedirs(root, exist_ok=True)
        check_layout(root)
    return root, persistent


#: Session conf every drain starts under. Spark's default checkpoint
#: file manager renames each state-store delta, checksum, offset, commit
#: and metadata file through ``FileContext.rename``, which on a local
#: disk without libhadoop asks ``RawLocalFileSystem.getFileLinkStatus``
#: and so forks a ``readlink`` per rename: most of the processes a drain
#: forks (``tools/spawn_audit.py`` lists them). The FileSystem-based
#: manager renames through ``File.renameTo``, one rename(2) that forks
#: nothing. Hadoop's ``.crc`` files and Spark's checkpoint checksums are
#: unchanged.
DRAIN_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


@contextmanager
def drain_conf(spark: SparkSession, extra: dict[str, str] | None = None):
    """Hold the drain confs on ``spark`` for the with-block: the
    streaming shuffle sizing (``SPARK_GRAFT_STREAM_SHUFFLE``, default 4;
    see ``core.run_to_memory``), :data:`DRAIN_CONF` and ``extra``.
    ``start()`` clones the session's conf, so the block must enclose it.
    Afterwards, also when the block raises, each key gets its previous
    value back, and a key the session never set is unset again."""
    confs = {
        "spark.sql.shuffle.partitions":
            os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "4"),
        **DRAIN_CONF,
        **(extra or {}),
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_drain(stream: DataFrame, process, ckpt: str) -> None:
    """Drain ``stream`` to completion through ``process`` (a
    foreachBatch(batch, batch_id) callable) under :func:`drain_conf`.

    The checkpoint is written through the FileSystem-based manager of
    :data:`DRAIN_CONF`, which forks no ``readlink`` per file rename. What
    the default FileContext manager adds is an atomic fail-if-exists
    rename, which only catches a second writer on the same checkpoint.
    ``ckpt`` has one writer by construction: it lives under a root from
    :func:`prepare_root` (a fresh tmpdir, or a durable root one resuming
    caller owns), and within one SparkContext Spark keeps at most one
    active run per checkpoint id (a second start either stops the first
    run or is rejected).

    (Measured and rejected, r13: disabling AQE inside the drain — the
    per-shuffle query-stage jobs looked like pure driver round-trip
    overhead at delta scale, but an interleaved same-process A/B over
    curation/delta-join-ttl/semantic-neardup measured no win outside
    box noise, so the conf stays at the session default.)"""
    with drain_conf(stream.sparkSession):
        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def collect_out(
    spark: SparkSession, root: str, out_dir: str, cols, schema,
    persistent: bool,
) -> DataFrame:
    """Hand back the drained ``out`` store as a batch DataFrame. A
    durable root stays on disk for resume; a tmp root is materialized
    eagerly (localCheckpoint) and pruned."""
    if not has_parquet(out_dir):
        if not persistent:
            shutil.rmtree(root, ignore_errors=True)
        return empty_frame(spark, schema)
    out = read_store(spark, out_dir).select(*cols)
    if persistent:
        return out
    result = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return result


class LocalFsStoreBackend:
    """Every filesystem assumption behind the store discipline, in one
    place — callers (``has_parquet`` / ``recover_swap`` /
    ``fold_bid_partitions``) go through ``BACKEND`` so the semantics
    (idempotent ``__bid`` overwrites, strictly-earlier reads, crash-safe
    compaction folds) stay portable while the primitives swap out.

    This implementation relies on POSIX directory rename being atomic,
    which is true on a local filesystem and HDFS but NOT on object
    stores (S3/GCS rename = copy+delete). A real 100-TB deployment rides
    the same discipline on a table format instead; the mapping is
    one-to-one:

    - ``write_bid_partition`` (dynamic partition overwrite of this
      batch's ``__bid``) → Iceberg/Delta ``INSERT OVERWRITE`` of the
      ``__bid=N`` partition (Delta ``replaceWhere``): the snapshot
      commit is atomic, so replay idempotence needs no rename at all.
    - ``fold_bid_partitions``'s read→rewrite→swap → a single-snapshot
      compaction commit (Iceberg ``rewrite_data_files`` /
      REPLACE-partition; Delta OPTIMIZE or an overwrite transaction
      folding ``__bid < batch_id`` into ``__bid=-1``).
    - ``replace_store``/``recover`` → unnecessary there: a crashed
      compaction leaves orphan files for vacuum, never a half-swapped
      store, because readers only see committed snapshots.
    - ``has_committed_data`` → "table exists and current snapshot is
      non-empty".
    """

    def has_committed_data(self, d: str) -> bool:
        if not os.path.isdir(d):
            return False
        for _cur, dirs, fs in os.walk(d):
            # partition dirs (name=value — e.g. __bid=3) stay visible
            # even underscore-prefixed, exactly as Spark's file index
            # treats them
            dirs[:] = [
                x for x in dirs if "=" in x or not x.startswith(("_", "."))
            ]
            if any(
                f.endswith(".parquet") and not f.startswith(("_", "."))
                for f in fs
            ):
                return True
        return False

    def partition_dir_count(self, store: str, prefix: str) -> int:
        return sum(1 for d in os.listdir(store) if d.startswith(prefix))

    def replace_store(self, store: str, tmp: str) -> None:
        """Atomically-enough replace ``store`` with ``tmp``: the only
        non-crash-safe instant is between the two renames, and
        ``recover`` repairs exactly that window."""
        old = store + ".old"
        os.rename(store, old)
        os.rename(tmp, store)
        shutil.rmtree(old, ignore_errors=True)

    def recover(self, store: str) -> None:
        """Crash recovery for a ``replace_store`` that died between
        renames: restore from ``.old`` if the swap-out happened but the
        swap-in didn't; clear leftovers otherwise."""
        old_d, tmp_d = store + ".old", store + ".compacting"
        if not os.path.isdir(store) and os.path.isdir(old_d):
            os.rename(old_d, store)  # crashed after store→.old swap-out
        elif os.path.isdir(store) and os.path.isdir(old_d):
            shutil.rmtree(old_d, ignore_errors=True)  # swap completed
        shutil.rmtree(tmp_d, ignore_errors=True)

    def read_marker(self, root: str, name: str) -> str | None:
        """Small metadata file under the root (layout-version marker),
        or None if absent. Table-format analog: a table property."""
        p = os.path.join(root, name)
        if not os.path.isfile(p):
            return None
        with open(p) as fh:
            return fh.read()

    def write_marker(self, root: str, name: str, content: str) -> None:
        p = os.path.join(root, name)
        with open(p + ".tmp", "w") as fh:
            fh.write(content)
        os.replace(p + ".tmp", p)  # atomic on POSIX


class NonAtomicRenameBackend(LocalFsStoreBackend):
    """Adversarial test backend with OBJECT-STORE rename semantics:
    directory "rename" is copy+delete (S3/GCS have no atomic directory
    rename, and a crashed copy leaves a PARTIAL destination). Driving
    the crash-exactness tests through this backend proves no caller
    secretly relies on LocalFs rename atomicity beyond what
    :meth:`recover` repairs (VERDICT r10 #4).

    Protocol: every directory copy writes a ``_copy_complete`` marker
    object into the destination as its last step (the standard
    object-store commit idiom — per-object puts are atomic, directory
    "renames" are not), so :meth:`recover` can always tell a complete
    copy from a torn one. ``replace_store``:

        copy store -> .old (+marker)   [crash: 'old_copy_partial'
                                        — .old torn, no marker;
                                        'old_copy_done']
        delete store                   [crash: 'swap_out']
        copy tmp -> store              [crash: 'store_copy_partial'
                                        — dst torn, no marker]
        write store marker             [crash: 'store_copy_done'
                                        — tmp and .old leftovers]
        delete tmp, delete .old

    Recovery invariant: a marked ``.old`` is always a full copy of the
    pre-compaction store, and an unmarked/absent ``store`` alongside a
    marked ``.old`` is either the untouched original (bitwise equal to
    ``.old``) or a torn second copy — restoring from ``.old`` is correct
    in every such window. ``crash_at`` is one-shot so the rerun
    proceeds."""

    COPY_MARK = "_copy_complete"

    def __init__(self, crash_at: str | None = None):
        self.crash_at = crash_at
        self.crashes = 0

    def _maybe_crash(self, step: str) -> None:
        if self.crash_at == step:
            self.crashes += 1
            self.crash_at = None  # one-shot: the rerun proceeds
            raise RuntimeError(f"injected object-store crash at {step}")

    def _marked(self, d: str) -> bool:
        return os.path.isfile(os.path.join(d, self.COPY_MARK))

    def _copy(self, src: str, dst: str, torn_at: str | None) -> None:
        """Object-by-object copy, marker last. ``torn_at`` injects a
        crash mid-copy: some objects landed, the marker did not."""
        shutil.copytree(
            src, dst,
            ignore=shutil.ignore_patterns(self.COPY_MARK),
        )
        if torn_at is not None and self.crash_at == torn_at:
            # tear the copy: drop one landed data object, no marker
            for cur, _dirs, fs in os.walk(dst):
                data = [f for f in fs if f.endswith(".parquet")]
                if data:
                    os.remove(os.path.join(cur, data[0]))
                    break
            self._maybe_crash(torn_at)
        self.write_marker(dst, self.COPY_MARK, "1")

    def replace_store(self, store: str, tmp: str) -> None:
        old = store + ".old"
        self._copy(store, old, torn_at="old_copy_partial")
        self._maybe_crash("old_copy_done")
        shutil.rmtree(store)
        self._maybe_crash("swap_out")
        self._copy(tmp, store, torn_at="store_copy_partial")
        self._maybe_crash("store_copy_done")
        shutil.rmtree(tmp)
        shutil.rmtree(old, ignore_errors=True)

    def recover(self, store: str) -> None:
        old_d, tmp_d = store + ".old", store + ".compacting"
        if os.path.isdir(old_d) and self._marked(old_d):
            if not (os.path.isdir(store) and self._marked(store)):
                # store is missing, torn, or the untouched original
                # (== .old content): restoring from .old is correct in
                # every window — see class docstring
                shutil.rmtree(store, ignore_errors=True)
                self._copy(old_d, store, torn_at=None)
            shutil.rmtree(old_d, ignore_errors=True)
        else:
            # no (complete) .old: the original store was never deleted
            # (store -> .old copy is the first step and swap_out only
            # fires after .old is marked); clear the torn leftover
            shutil.rmtree(old_d, ignore_errors=True)
        shutil.rmtree(tmp_d, ignore_errors=True)


BACKEND = LocalFsStoreBackend()


def has_parquet(d: str) -> bool:
    """True if any COMMITTED part file exists under ``d``: hidden dirs
    (``_temporary`` staging from a write that crashed mid-commit, Spark
    metadata dirs) must not count — read.parquet ignores them, so
    counting them would wedge a resume on 'unable to infer schema'."""
    return BACKEND.has_committed_data(d)


def recover_swap(store: str) -> None:
    """Crash recovery for a compaction swap that died between renames —
    delegates to the store backend (a table-format backend makes this a
    no-op; see :class:`LocalFsStoreBackend`)."""
    BACKEND.recover(store)


def read_earlier(
    sess: SparkSession, store: str, batch_id: int
) -> DataFrame | None:
    """The store's rows from STRICTLY earlier batches (``__bid`` dropped),
    or None if the store has no committed data yet."""
    if not has_parquet(store):
        return None
    return (
        read_store(sess, store)
        .filter(F.col(BID) < F.lit(batch_id))
        .drop(BID)
    )


def write_bid_partition(
    df: DataFrame, store: str, batch_id: int, part_cols: list[str] = ()
) -> None:
    """Idempotent store append: dynamic overwrite of this batch's own
    ``__bid`` partition (plus ``part_cols`` sub-partitions)."""
    (
        df.withColumn(BID, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BID, *part_cols)
        .parquet(store)
    )


def fold_bid_partitions(
    sess: SparkSession, store: str, part_cols: list[str], batch_id: int
) -> None:
    """Fold strictly-earlier partitions into ``__bid=-1`` (always < any
    real batch id, so both future batches and a replay of THIS batch keep
    reading them); this batch's partition carries over under its own bid.
    ``part_cols`` are the sub-partition columns below ``__bid`` (same as
    :func:`write_bid_partition`). Crash-safe ``.old`` swap via the store
    backend (a table format commits the fold as one snapshot instead —
    see :class:`LocalFsStoreBackend`)."""
    if BACKEND.partition_dir_count(store, f"{BID}=") <= 2:
        return
    tmp = store + ".compacting"
    (
        read_store(sess, store)
        .withColumn(
            BID,
            F.when(F.col(BID) < F.lit(batch_id), F.lit(-1))
            .otherwise(F.col(BID)),
        )
        .write.mode("overwrite")
        .partitionBy(BID, *part_cols)
        .parquet(tmp)
    )
    BACKEND.replace_store(store, tmp)
