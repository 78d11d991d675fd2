"""Streaming source/sink plumbing: file-source streams over the test
tables, watermarks, and a run-to-completion helper.

Reference surface: FLIP-27 sources + unified Sink V2 (reference
flink-core/.../api/connector/source/Source.java, .../sink2/Sink.java) map to
``spark.readStream`` / ``writeStream``. Flink's bounded-stream execution of
a batch table ("batch is a special case of streaming") is exactly
Structured Streaming's ``Trigger.AvailableNow`` over a file source: the
same operators run watermark-driven, then the query drains and stops.

``stream_table`` builds every test-table stream: ``_chunk_dir`` writes
each copy and ``_open_stream`` opens each source directory (the idleness
stream goes through both). All copies live under ``_STREAM_DIR_ROOT``,
read at call time, so rebinding it moves them all.

``run_to_memory`` is the test/driver bridge: execute a streaming plan to
completion on bounded input and hand back the result as a batch DataFrame —
which is what lets the DuckDB oracle gate value-check *streaming* operators.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_spark.session import prepare_session
from flink_spark.streaming import storeutil
from flink_spark.streaming.storeutil import drain_conf

_COUNTER = itertools.count()

_STREAM_DIR_ROOT = "/tmp/flink_spark_stream_src"

#: Event-time of the watermark-advancing sentinel row (see
#: ``stream_table(closed=True)``) and the cutoff that filters it back out.
#: Any real event-time in the test tables is < 2090; the sentinel sits at
#: 2100 so the final watermark passes every real window's end.
_SENTINEL_ISO = "2100-01-01 00:00:00"
_SENTINEL_CUTOFF_ISO = "2090-01-01 00:00:00"

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"

#: Analyzed-plan nodes that hold no streaming state, as ``treeString``
#: names them (``Relation`` is a batch ``LogicalRelation``).
_STATELESS_NODES = frozenset({
    "Project", "Filter", "EventTimeWatermark", "StreamingRelation",
    "StreamingRelationV2", "Relation", "SubqueryAlias", "ResolvedHint",
})


def emits_on_watermark_advance(tree: str) -> bool:
    """Whether a streaming plan may emit rows on a watermark advance
    alone. ``tree`` is the analyzed plan's ``treeString()``, one node per
    line. False only when every node is an inner ``Join`` (it emits when
    a row arrives; the watermark only evicts its state) or in
    :data:`_STATELESS_NODES`. Any other line, including an aggregate, an
    outer join, a stateful Python operator, an unknown node or a plan
    string cut at ``spark.sql.maxPlanStringLength``, answers True: a
    wrong answer can only cost a micro-batch, never rows."""
    if tree.endswith(" more characters"):
        return True
    for line in tree.splitlines():
        name, _, args = line.lstrip(" :+-").removeprefix("~").partition(" ")
        if name == "Join" and args.split(",", 1)[0] == "Inner":
            continue
        if name not in _STATELESS_NODES:
            return True
    return False


def _source_files(file_path: str) -> list[str]:
    """A table path is either one parquet file or a directory of
    part-files (the multi-file bench layout); list the actual files."""
    if os.path.isdir(file_path):
        return sorted(
            os.path.join(file_path, f)
            for f in os.listdir(file_path)
            if f.endswith(".parquet")
        )
    return [file_path]


def _stream_dir(file_path: str, suffix: str) -> str:
    """The source directory for one copy of ``file_path``, under the
    stream root as it is bound at call time."""
    key = file_path.strip("/").replace("/", "_") + suffix
    d = os.path.join(_STREAM_DIR_ROOT, key)
    os.makedirs(d, exist_ok=True)
    return d


def _sentinel(schema, wm_col: str):
    """One arrow row of ``schema``: ``wm_col`` at the year-2100 sentinel
    time, every other column NULL."""
    import datetime

    import pyarrow as pa

    ts_val = datetime.datetime.fromisoformat(_SENTINEL_ISO)
    arrays = []
    for field in schema:
        val = None
        if field.name == wm_col:
            val = ts_val
            if not pa.types.is_timestamp(field.type):
                # int64 epoch-nanos variant of the events table
                val = int(ts_val.timestamp() * 1_000_000_000)
        arrays.append(pa.array([val], type=field.type))
    return pa.table(arrays, schema=schema)


def _linked_dir(file_path: str, wm_col: str | None) -> str:
    """The file stream source requires a flat *directory*: expose the
    table's own file(s) through symlinks, plus, for ``wm_col``, a
    sentinel file of one row (see :func:`_sentinel`)."""
    d = _stream_dir(file_path, f"_closed_{wm_col}" if wm_col else "")
    for src in _source_files(file_path):
        link = os.path.join(d, os.path.basename(src))
        if not os.path.islink(link):
            try:
                os.symlink(src, link)
            except FileExistsError:
                pass
    sentinel = os.path.join(d, "zz_watermark_sentinel.parquet")
    if wm_col is not None and not os.path.exists(sentinel):
        import pyarrow.parquet as pq

        sch = pq.read_schema(_source_files(file_path)[0]).remove_metadata()
        pq.write_table(_sentinel(sch, wm_col), sentinel + ".tmp")
        os.replace(sentinel + ".tmp", sentinel)
    return d


def _chunk_dir(
    file_path: str, suffix: str, n_chunks: int, arrange,
    wm_col: str | None = None,
) -> str:
    """Copy ``file_path`` once into ``n_chunks`` parquet files
    ``part-<i>`` and return their directory.

    ns timestamps become µs first: truncation matches DuckDB's parquet
    ns→µs read exactly, and frees the stream from the session's
    nanosAsLong setting. ``arrange`` then orders (or filters, or tags)
    the µs rows, so sub-µs precision cannot produce a tie-break order a
    µs-reading oracle cannot reproduce. Chunk ``i`` holds rows
    ``[i*n//n_chunks, (i+1)*n//n_chunks)``, a floor split an oracle
    reproduces in SQL; for ``wm_col`` the last chunk ends with the
    sentinel row (see :func:`_sentinel`)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = _stream_dir(file_path, suffix)
    marker = os.path.join(d, "_done")
    if os.path.exists(marker):
        return d
    for f in os.listdir(d):
        os.remove(os.path.join(d, f))
    pdf = pd.read_parquet(file_path)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64[ns"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    tbl = pa.Table.from_pandas(arrange(pdf), preserve_index=False)
    n = tbl.num_rows
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        part = tbl.slice(lo, hi - lo)
        if wm_col is not None and i == n_chunks - 1:
            part = pa.concat_tables([part, _sentinel(tbl.schema, wm_col)])
        p = os.path.join(d, f"part-{i}.parquet")
        pq.write_table(part, p)
        # Spark's file stream source orders files by MODIFICATION TIME;
        # files written within the same instant tie, making batch order
        # nondeterministic. Pin strictly increasing mtimes.
        os.utime(p, (1_600_000_000 + i * 60,) * 2)
    with open(marker, "w") as fh:
        fh.write("ok")
    return d


def _open_stream(
    spark: SparkSession,
    name: str,
    src_dir: str,
    schema_path: str,
    n_chunks: int = 1,
    watermark: tuple[str, str] | None = None,
    closed: bool = False,
) -> DataFrame:
    """``readStream`` over ``src_dir``, one file per trigger when
    ``n_chunks > 1``. The schema is a batch read of ``schema_path``
    (schema inference is disabled for streaming file sources); the events
    table's nanos→TIMESTAMP_NTZ normalization matches sources/tables.py.
    See :func:`stream_table` for ``watermark`` and ``closed``."""
    prepare_session(spark)
    from flink_spark.sources.tables import table_schema

    reader = spark.readStream.schema(table_schema(spark, schema_path))
    if n_chunks > 1:
        reader = reader.option("maxFilesPerTrigger", 1)
    df = reader.parquet(src_dir)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    if watermark is None:
        return df
    col, delay = watermark
    # Spark watermarks require TIMESTAMP (LTZ). Session tz is pinned to
    # UTC (prepare_session), so the NTZ→LTZ cast is value-preserving;
    # window bounds are cast back to NTZ by ntz_windows() on output.
    df = df.withColumn(col, F.col(col).cast("timestamp")).withWatermark(
        col, delay
    )
    if closed:
        # The `spark_partition_id() >= -1` conjunct is always true; it
        # makes this filter NON-DETERMINISTIC so Catalyst cannot merge
        # later, caller-added filters into it nor push them below the
        # EventTimeWatermark node. Without the barrier, a filter like
        # `user_id <= 100` (NULL for the sentinel row → false) would be
        # pushed below the watermark and drop the sentinel *before*
        # event-time stats are collected, silencing the final flush.
        # (`rand() >= -1` doesn't work: the optimizer knows rand's
        # bounds and folds it away.)
        df = df.filter(
            (F.spark_partition_id() >= F.lit(-1))
            & (F.col(col) < F.lit(_SENTINEL_CUTOFF_ISO).cast("timestamp"))
        )
    return df


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    watermark: tuple[str, str] | None = None,
    closed: bool = False,
    n_chunks: int = 1,
    order: str | list[str] | None = None,
    order_hash: bool = False,
) -> DataFrame:
    """Open one test table as a *streaming* DataFrame (file source),
    delivered in ``n_chunks`` micro-batches.

    ``n_chunks=1`` streams the table's own files (symlinks, no copy), so
    a multi-file table streams one file per part. ``n_chunks > 1``
    streams a µs-normalized copy split into that many files, one per
    trigger, in ``order`` (a column or a list of columns; arrival order
    for None) — the harness for operators whose correctness must hold
    *across* micro-batch boundaries. ``order_hash=True`` orders by the
    md5 of the (unique) ``order`` column instead: a deterministic
    shuffle, uncorrelated with event time, that both engines reproduce
    (SQL: ``ORDER BY md5(CAST(col AS VARCHAR))``) — the
    out-of-order-delivery harness.

    ``watermark=(col, delay)`` applies ``withWatermark`` — the Spark
    surface of Flink's WATERMARK DDL (bounded out-of-orderness).

    ``closed=True`` (requires ``watermark``) adds a year-2100 sentinel row
    to the source (in the last chunk) and filters it back out *after* the
    watermark operator: the sentinel still raises the final watermark
    (event-time stats are collected as rows pass the EventTimeWatermark
    node, before the filter), so append-mode windows all close on the
    drain — the micro-batch analog of Flink's end-of-input MAX_WATERMARK
    flush (reference flink-core/.../eventtime/Watermark.java
    MAX_WATERMARK, emitted by SourceOperator on bounded input end) —
    without the sentinel polluting any result.
    """
    if closed and watermark is None:
        raise ValueError("closed=True requires a watermark")
    if order_hash and not isinstance(order, str):
        raise ValueError("order_hash=True requires one order column")
    path = os.path.join(sf_dir, f"{name}.parquet")
    wm_col = watermark[0] if closed else None
    if n_chunks == 1:
        src_dir, schema_path = _linked_dir(path, wm_col), path
    else:
        def arrange(pdf):
            if order_hash:
                import hashlib

                return pdf.assign(__o=[
                    hashlib.md5(str(v).encode()).hexdigest()
                    for v in pdf[order]
                ]).sort_values("__o").drop(columns="__o")
            return pdf if order is None else pdf.sort_values(order)

        cols = [order] if isinstance(order, str) else order or ["arrival"]
        suffix = (
            f"_chunks{n_chunks}_{'-'.join(cols)}"
            + ("_h" if order_hash else "")
            + (f"_closed_{wm_col}" if wm_col else "")
        )
        src_dir = schema_path = _chunk_dir(
            path, suffix, n_chunks, arrange, wm_col
        )
    return _open_stream(
        spark, name, src_dir, schema_path, n_chunks, watermark, closed
    )


def ntz_windows(df: DataFrame, *cols: str) -> DataFrame:
    """Cast LTZ window-bound columns back to TIMESTAMP_NTZ (UTC session)."""
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return df


def run_to_memory(
    sdf: DataFrame, output_mode: str = "append", prefix: str = "fs_stream"
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink; return the sink contents as a batch DataFrame.

    The drain runs under :func:`storeutil.drain_conf`, which restores
    the session's settings afterwards:

    - State-partition sizing: the number of state-store instances is
      fixed at query start from ``spark.sql.shuffle.partitions``, and
      each instance pays per-batch snapshot/commit overhead, so drains
      use their own partition count (``SPARK_GRAFT_STREAM_SHUFFLE``,
      default 4 for local runs, A/B-measured ~25% faster than 8 at
      sf0.1; on a cluster set it ~1-2x total cores, it bounds both state
      parallelism AND per-batch commit fan-out).
    - Checkpoint renames: Spark's default checkpoint file manager renames
      every state-store delta, checksum, offset, commit and metadata
      file through ``FileContext.rename``, which on a local disk without
      libhadoop forks a ``readlink`` per rename. The drain uses the
      FileSystem-based manager (``storeutil.DRAIN_CONF``), one rename(2)
      that forks nothing. The default manager adds only an atomic
      fail-if-exists rename, which catches a second writer on the same
      checkpoint. This checkpoint has one writer by construction: a
      fresh ``mkdtemp`` directory, and within one SparkContext Spark
      keeps at most one active run per checkpoint id (a second start
      either stops the first run or is rejected).
    - Trailing batch: after the last data batch, Spark runs one more
      micro-batch that reads no rows and only advances the watermark,
      which emits the final rows of window aggregates, outer joins,
      sessions and timers. A plan of inner joins over stateless nodes
      (:func:`emits_on_watermark_advance` is False) emits only when a
      row arrives, so that batch would only evict state from a
      checkpoint the drain deletes anyway: for such plans the drain
      turns ``spark.sql.streaming.noDataMicroBatches.enabled`` off.
    """
    import shutil
    import tempfile

    spark = sdf.sparkSession
    name = f"{prefix}_{next(_COUNTER)}"
    tree = sdf._jdf.queryExecution().analyzed().treeString()
    extra = {}
    if not emits_on_watermark_advance(tree):
        extra[_NO_DATA_BATCHES] = "false"
    # Explicit run-local checkpoint, deleted after the drain. Placed on
    # tmpfs when available (A/B-neutral vs page-cached /tmp locally, but
    # guarantees no disk churn). On a real cluster the checkpoint must be
    # durable shared storage — this helper is the local test/bench bridge,
    # not the production sink.
    ckpt_root = os.environ.get("SPARK_GRAFT_CKPT_ROOT") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    ckpt = tempfile.mkdtemp(prefix=f"flink_spark_ckpt_{name}_", dir=ckpt_root)
    try:
        with drain_conf(spark, extra):
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def with_current_watermark(
    stream: DataFrame, key_cols: list[str], out_col: str = "wm"
) -> DataFrame:
    """CURRENT_WATERMARK(rowtime) (reference SqlCurrentWatermarkFunction,
    FlinkSqlOperatorTable CURRENT_WATERMARK): annotate every row with the
    watermark in effect while it was processed.

    Spark exposes the running watermark to stateful processors via
    ``GroupState.getCurrentWatermarkMs`` — an Arrow-batched pass-through
    processor stamps it onto each row (ms resolution, Spark's watermark
    granularity; 1970-01-01 before the first watermark is computed)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    schema = StructType(
        list(stream.schema.fields) + [StructField(out_col, TimestampNTZType())]
    )
    state_schema = StructType([StructField("seen", LongType(), True)])

    def fn(key, pdfs, state):
        wm = pd.Timestamp(state.getCurrentWatermarkMs(), unit="ms")
        for pdf in pdfs:
            pdf = pdf.copy()
            pdf[out_col] = wm
            yield pdf

    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn, schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def side_output_late(
    stream: DataFrame,
    ts_col: str,
    delay: str,
    prefix: str = "late_split",
    root: str | None = None,
):
    """Late-data SIDE OUTPUT (reference WindowOperator.java:102
    sideOutput(lateDataOutputTag), OutputTag.java:47): drain the stream
    splitting every micro-batch into on-time vs late relative to the
    watermark frozen at batch start (max event time over all PRIOR
    batches minus ``delay`` — Spark's own between-batches watermark
    update cadence, which Flink's periodic generator also exhibits).
    Returns ``(on_time_df, late_df)`` batch DataFrames after the drain —
    the two OutputTag channels.

    Scale shape: the split is one JVM comparison per row against a
    literal; the only driver state is a single scalar max timestamp.

    The watermark SURVIVES RESTARTS (reference checkpointed watermarks —
    AbstractStreamOperator snapshots the current watermark; Spark persists
    ``withWatermark`` through the offset log): each batch writes its max
    event time to a one-line sidecar under the checkpoint root keyed by
    batch id, and every batch derives its frozen watermark from the
    sidecars of STRICTLY EARLIER batches — so a replayed batch after a
    crash recomputes the exact same split, and a second run against the
    same ``root`` (the restart path) classifies late data against the
    watermark the first run reached instead of silently resetting to
    None. Pass ``root`` to make the query restartable; the default keeps
    the one-shot tmp-dir behavior. Both channels are ``__bid``-partitioned
    stores (``storeutil.write_bid_partition``), so a replayed batch
    overwrites its own channel rows instead of appending them twice."""
    import shutil

    import pandas as pd

    spark = stream.sparkSession
    delay_td = pd.Timedelta(delay)
    root, persistent = storeutil.prepare_root(prefix, root)
    on_dir, late_dir, ckpt = f"{root}/on", f"{root}/late", f"{root}/ckpt"
    wm_dir = f"{root}/wm"
    os.makedirs(wm_dir, exist_ok=True)

    def _wm_before(batch_id: int):
        """Max event time over committed batches with id < batch_id (the
        checkpointed-watermark restore; excluding the batch's own id makes
        crash-replay exact)."""
        mx = None
        for f in os.listdir(wm_dir):
            if not f.startswith("batch-"):
                continue
            bid = int(f.split("-", 1)[1].split(".", 1)[0])
            if bid >= batch_id:
                continue
            with open(os.path.join(wm_dir, f)) as fh:
                t = pd.Timestamp(fh.read().strip())
            mx = t if mx is None or t > mx else mx
        return mx

    ntz = dict(stream.dtypes).get(ts_col) == "timestamp_ntz"

    def _wm_lit(wm):
        # an NTZ column must compare against an NTZ literal: F.lit(naive
        # datetime) builds an LTZ literal through the PYTHON process tz,
        # while the NTZ→LTZ comparison cast uses the SESSION tz — under a
        # non-UTC session the two disagree and the watermark skews
        if ntz:
            return F.expr(f"TIMESTAMP_NTZ '{wm.isoformat(sep=' ')}'")
        return F.lit(wm)

    def process(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            max_prev = _wm_before(batch_id)
            wm = max_prev - delay_td if max_prev is not None else None
            if wm is None:
                late = batch.filter(F.lit(False))
                on_time = batch
            else:
                late = batch.filter(F.col(ts_col) < _wm_lit(wm))
                on_time = batch.filter(~(F.col(ts_col) < _wm_lit(wm)))
            # the two channel writes and the batch-max aggregate are
            # independent jobs over the persisted batch — overlap them
            # (storeutil.run_parallel, guide §2.6) so the batch pays
            # ~max instead of 3 sequential job costs; the watermark
            # sidecar still commits strictly AFTER all three (a crashed
            # batch must never leave a sidecar ahead of its data)
            holder: dict = {}

            def _agg():
                holder["mx"] = (
                    batch.agg(F.max(ts_col).alias("m")).collect()[0].m
                )

            write = storeutil.write_bid_partition
            storeutil.run_parallel(
                lambda: write(on_time, on_dir, batch_id),
                lambda: write(late, late_dir, batch_id),
                _agg,
            )
            mx = holder["mx"]
            if mx is not None:
                tmp = os.path.join(wm_dir, f".batch-{batch_id}.tmp")
                with open(tmp, "w") as fh:
                    fh.write(pd.Timestamp(mx).isoformat())
                os.replace(tmp, os.path.join(wm_dir, f"batch-{batch_id}.txt"))
        finally:
            batch.unpersist()

    storeutil.run_drain(stream, process, ckpt)

    def channel(d: str) -> DataFrame:
        if not storeutil.has_parquet(d):
            return spark.createDataFrame([], stream.schema)
        rows = storeutil.read_store(spark, d).drop(storeutil.BID)
        return rows.localCheckpoint(eager=True)

    on_df, late_df = channel(on_dir), channel(late_dir)
    if not persistent:
        shutil.rmtree(root, ignore_errors=True)
    return on_df, late_df
