"""Source idleness for multi-source watermarks — the engine's analog of
``WatermarkStrategy.withIdleness`` (reference flink-core/.../eventtime/
WatermarkStrategy.java:147 and WatermarksWithIdleness.java): the combined
watermark of a multi-source stream is the MIN over ACTIVE sources' maxima;
a source that stops producing is marked idle after a timeout and stops
holding the watermark back, and a source that has produced NOTHING yet is
idle from the start (otherwise it would pin the watermark at -inf).

Spark has no per-source idleness hook, so the semantics are rebuilt at
micro-batch granularity: idleness is measured in BATCHES without rows
(deterministic — the property Flink's wall-clock timeout cannot give a
test), per-source maxima are one tiny aggregate per batch (#sources rows
collected, O(1)), and the emitted watermark is monotonic, exactly like
Flink's combined watermark tracker.

Scale shape: per batch, one groupBy(src).max(ts) over the batch (map-side
combined, #sources result rows) plus scalar driver state per source —
identical cost to Flink's per-source watermark bookkeeping.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_spark.streaming.core import _STREAM_DIR_ROOT
from flink_spark.streaming.storeutil import read_store, run_drain


def tagged_ts_chunk_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n_chunks: int = 4,
    where: str | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Open a table as a streaming DataFrame delivered in event-time order
    over ``n_chunks`` micro-batches, tagged with a two-source split: rows
    in the first half of the event-time order are source ``'a'`` (the
    backfill source that goes quiet), the rest source ``'b'`` — the
    harness for idleness semantics, where one source's silence must stop
    holding the watermark back. Split boundaries use the same floor
    arithmetic as ``chunked_table_stream`` so an oracle can reproduce the
    exact chunk and source of every row."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (
        path.strip("/").replace("/", "_")
        + f"_idle{n_chunks}_{(where or 'all').replace(' ', '')}"
    )
    d = os.path.join(_STREAM_DIR_ROOT, key)
    marker = os.path.join(d, "_done")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        for f in os.listdir(d):
            os.remove(os.path.join(d, f))
        pdf = pd.read_parquet(path)
        if where is not None:
            pdf = pdf.query(where)
        # µs-normalize BEFORE sorting: sub-µs precision must not produce a
        # tie-break order a µs-reading oracle cannot reproduce
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("datetime64[ns"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        pdf = pdf.sort_values([ts_col, id_col]).reset_index(drop=True)
        n = len(pdf)
        pdf["src"] = ["a" if i < 2 * n // 4 else "b" for i in range(n)]
        for i in range(n_chunks):
            part = pdf.iloc[i * n // n_chunks : (i + 1) * n // n_chunks]
            part.to_parquet(os.path.join(d, f"part-{i}.parquet"), index=False)
        with open(marker, "w") as fh:
            fh.write("ok")
    base = 1_600_000_000
    for i in range(n_chunks):
        p = os.path.join(d, f"part-{i}.parquet")
        if os.path.exists(p):
            os.utime(p, (base + i * 60, base + i * 60))
    from flink_spark.sources.tables import table_schema

    schema = table_schema(spark, d)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def combined_watermark_trace(
    stream: DataFrame,
    src_col: str,
    ts_col: str,
    delay: str,
    idle_batches: int = 2,
    sources: tuple = ("a", "b"),
) -> DataFrame:
    """Drain the tagged stream and return the per-batch combined-watermark
    trace ``(batch_id, <src>_active ..., wm)`` under the idleness rule:

    - a source is ACTIVE at batch ``b`` iff it produced rows in one of the
      last ``idle_batches`` batches (``last_seen > b - idle_batches``);
      a source never seen is idle (it cannot pin the watermark at -inf);
    - ``wm(b) = min over active sources of running-max event time``,
      minus ``delay``, monotonically non-decreasing; NULL while no source
      is active yet.

    Reference: WatermarksWithIdleness.java (timeout-based deactivation),
    StatusWatermarkValve.java (min over non-idle channels)."""
    spark = stream.sparkSession
    delay_td = pd.Timedelta(delay)
    state = {
        "last_seen": {s: None for s in sources},
        "max_ts": {s: None for s in sources},
        "wm": None,
        "trace": [],
    }

    def process(batch: DataFrame, batch_id: int) -> None:
        maxes = {
            r["s"]: r["m"]
            for r in batch.groupBy(F.col(src_col).alias("s"))
            .agg(F.max(ts_col).alias("m"))
            .collect()
        }
        for s, mx in maxes.items():
            if mx is None:
                continue
            state["last_seen"][s] = batch_id
            prev = state["max_ts"][s]
            state["max_ts"][s] = mx if prev is None else max(prev, mx)
        actives = {
            s: (
                state["last_seen"][s] is not None
                and state["last_seen"][s] > batch_id - idle_batches
            )
            for s in sources
        }
        live = [state["max_ts"][s] for s in sources if actives[s]]
        if live:
            cand = min(live) - delay_td
            state["wm"] = (
                cand if state["wm"] is None else max(state["wm"], cand)
            )
        state["trace"].append(
            (batch_id, *[actives[s] for s in sources], state["wm"])
        )

    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="flink_spark_idleness_ckpt_")
    try:
        run_drain(stream, process, ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    cols = ", ".join(f"{s}_active boolean" for s in sources)
    return spark.createDataFrame(
        state["trace"], f"batch_id long, {cols}, wm timestamp_ntz"
    )


def aligned_union_trace(
    stream: DataFrame,
    src_col: str,
    ts_col: str,
    max_drift: str,
    sources: tuple = ("a", "b"),
) -> DataFrame:
    """Watermark ALIGNMENT for a multi-source union — the engine's analog
    of ``WatermarkStrategy.withWatermarkAlignment`` (reference
    flink-core/.../eventtime/WatermarkStrategy.java:168,
    WatermarkAlignmentParams / SourceCoordinator alignment events): a
    source whose event-time frontier runs more than ``max_drift`` ahead
    of the group's combined (minimum) frontier is THROTTLED — its
    too-far-ahead rows are deferred to later batches — while a source at
    the minimum is never throttled (it is what advances the group).
    Deferred rows spill to a parquet buffer (distributed, not driver
    memory) and re-enter the next batch; after the input drains, extra
    rounds flush the buffer (the laggard-exemption rule guarantees each
    round advances the minimum, so the flush terminates).

    Returns the per-batch trace
    ``(batch_id, <src>_processed ..., combined_max timestamp)`` over all
    rounds including the post-drain flush — enough to assert both
    alignment invariants: every row is processed exactly once, and a
    throttled source never processes a row beyond combined+drift as of
    its batch start.

    Scale shape: per batch one gated per-(source, taken?) aggregate
    (≤ 2·#sources rows collected) plus the deferred-rows buffer write —
    two driver jobs per round. (r13, guide §1.2/§5: the earlier spelling
    paid ~4-5 jobs per round — an eager localCheckpoint to freeze the
    batch before the buffer overwrite, a defer-probe ``limit(1).count()``,
    separate take-stats, and a ``distinct()`` on flush rounds. The
    checkpoint job is gone via buffer ROTATION — the new buffer version
    is written while the old one still exists, so nothing read is ever
    overwritten in place; defer-presence, take-stats and flush liveness
    all come out of the single gated aggregate.)"""
    import shutil
    import tempfile

    spark = stream.sparkSession
    drift_td = pd.Timedelta(max_drift)
    root = tempfile.mkdtemp(prefix="flink_spark_alignment_")
    ckpt = os.path.join(root, "ckpt")
    state = {
        "max_ts": {s: None for s in sources},
        "trace": [],
        "bid": 0,
        # current deferred-rows buffer: (path, {src: n_buffered}) — the
        # buffered-source set replaces the flush rounds' distinct() job
        "buf": None,
    }

    def combined():
        seen = [v for v in state["max_ts"].values() if v is not None]
        return min(seen) if seen else None

    def run_round(batch: DataFrame) -> None:
        flush = batch is None
        if state["buf"] is not None:
            # memoized-schema read (key pinned to the root: the buffer
            # path rotates per round, the schema never changes)
            buffered = read_store(spark, state["buf"][0], key=root)
            batch = batch.unionByName(buffered) if batch is not None else buffered
        if batch is None:
            return
        if flush:
            # input exhausted: a source with nothing left is FINISHED and
            # its frontier is +inf (reference: sources emit MAX_WATERMARK
            # on end of input), so the group frontier is the min over
            # sources that still hold buffered rows — the min such source
            # is exempt and drains, which terminates the flush
            live_srcs = list(state["buf"][1])
            comb = min(
                (state["max_ts"][s] for s in live_srcs
                 if state["max_ts"][s] is not None),
                default=None,
            )
        else:
            comb = combined()
        if comb is None:
            allowed = None  # no frontier yet — nothing to align against
        else:
            allowed = comb + drift_td
        exempt = [
            s for s in sources
            if state["max_ts"][s] is None
            or (comb is not None and state["max_ts"][s] <= comb)
        ]
        if allowed is None:
            gate = F.lit(True)
        else:
            # NTZ literal via SQL text: F.lit(naive datetime) would build
            # an LTZ literal through the process tz (see core._wm_lit)
            allowed_lit = F.expr(
                f"TIMESTAMP_NTZ '{pd.Timestamp(allowed).isoformat(sep=' ')}'"
            )
            gate = F.col(src_col).isin(list(exempt)) | (
                F.col(ts_col) <= allowed_lit
            )
        # ONE aggregate drives everything: per-(source, taken?) counts and
        # the taken rows' max event time. Taken groups update frontiers and
        # the trace; deferred groups tell us whether (and for which
        # sources) a buffer write is needed, with no separate probe job.
        rows = (
            batch.withColumn("__take", gate)
            .groupBy(F.col(src_col).alias("s"), "__take")
            .agg(F.count("*").alias("n"), F.max(ts_col).alias("m"))
            .collect()
        )
        stats = {
            r["s"]: (r["n"], r["m"]) for r in rows if r["__take"] is True
        }
        deferred = {
            r["s"]: r["n"]
            for r in rows
            if r["__take"] is False and r["n"] > 0
        }
        prev_buf = state["buf"]
        if deferred:
            new_buf = os.path.join(root, f"buf_v{state['bid']}")
            batch.filter(~gate).write.mode("overwrite").parquet(new_buf)
            state["buf"] = (new_buf, deferred)
        else:
            state["buf"] = None
        if prev_buf is not None:
            shutil.rmtree(prev_buf[0], ignore_errors=True)
        for s, (_, mx) in stats.items():
            if mx is not None:
                prev = state["max_ts"][s]
                state["max_ts"][s] = mx if prev is None else max(prev, mx)
        state["trace"].append(
            (
                state["bid"],
                *[stats.get(s, (0, None))[0] for s in sources],
                combined(),
            )
        )
        state["bid"] += 1

    try:
        run_drain(stream, lambda b, _i: run_round(b), ckpt)
        flush_rounds = 0
        while state["buf"] is not None:
            flush_rounds += 1
            if flush_rounds > 1000:
                raise ValueError("alignment flush did not terminate")
            run_round(None)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    cols = ", ".join(f"{s}_processed long" for s in sources)
    return spark.createDataFrame(
        state["trace"], f"batch_id long, {cols}, combined_max timestamp_ntz"
    )
