"""Streaming semantics beyond the oracle gate: watermark late-data drop
across micro-batches, changelog emission over multiple batches, upsert
materialization, and the datagen/blackhole connector surface.

Modeled on the reference's stream ITCases (SURVEY §5.3): scripted
event-time inputs split into files → one file per micro-batch → assert on
the emitted rows.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from flink_spark.streaming import changelog as CL
from flink_spark.streaming.core import emits_on_watermark_advance, run_to_memory


def _write_batches(spark, tmp_path, batches, schema_cols):
    """Write each batch as one parquet file named/timestamped so the file
    stream source processes them in submission order."""
    import shutil

    d = str(tmp_path / "src")
    os.makedirs(d, exist_ok=True)
    now = time.time()
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"stage_{i}")
        df = spark.createDataFrame(rows, schema_cols)
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and f.startswith("part-")
        )
        dest = os.path.join(d, f"batch_{i:04d}.parquet")
        shutil.copyfile(os.path.join(stage, part), dest)
        os.utime(dest, (now + 10 * i, now + 10 * i))
    return d


def _stream_dir(spark, d, schema, files_per_trigger=100):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(d)
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode tumble agg late-data semantics (reference
    WindowOperator.java:102 drop-late; Spark watermark).

    Spark's guarantee is eviction-based: a late row is dropped once its
    window was emitted+evicted (end of the batch where the watermark passed
    the window end). A row arriving in the *same* batch as the eviction
    still merges — so the drop needs three batches: data → watermark
    advance (evicts the window) → late row (dropped, no duplicate window).
    """
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )
    import datetime as dt

    schema = StructType([
        StructField("id", LongType()),
        StructField("ts", TimestampType()),
        StructField("v", DoubleType()),
    ])

    def parse(s):
        return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    # The watermark used by batch N is computed from batches < N, and
    # eviction runs against that value — so the [10:00,10:10) window is
    # evicted during batch 2 (wm 10:49), and the late row must arrive in
    # batch 3 to hit the evicted-window drop path.
    batches = [
        [(1, parse("2024-01-01 10:05:00"), 1.0)],   # window [10:00,10:10)
        [(2, parse("2024-01-01 10:59:00"), 1.0)],   # raises max event time
        [(3, parse("2024-01-01 11:10:00"), 1.0)],   # wm=10:49 → evicts 10:00
        [(4, parse("2024-01-01 10:07:00"), 100.0),  # late: dropped
         (5, parse("2024-01-01 11:30:00"), 1.0)],
    ]
    d = _write_batches(spark, tmp_path, batches, schema)
    src = _stream_dir(spark, d, schema, files_per_trigger=1).withWatermark(
        "ts", "10 minutes"
    )
    agg = src.groupBy(F.window("ts", "10 minutes")).agg(
        F.sum("v").alias("sv"), F.count("*").alias("n")
    )
    out = run_to_memory(agg, "append", "late")
    got = {
        (r["window"].start.strftime("%H:%M"), r["sv"]) for r in out.collect()
    }
    # the late 10:07 row (v=100) must not appear: the 10:00 window was
    # already finalized with sv=1.0 and no duplicate window may follow
    assert ("10:00", 1.0) in got, got
    assert not any(sv > 1.0 for _, sv in got), got


def test_changelog_normalize_across_batches(spark, tmp_path):
    """-U must carry the version from the *previous batch* (state carry)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("k", LongType()), StructField("seq", LongType()),
        StructField("val", LongType()),
    ])
    batches = [[(1, 1, 10)], [(1, 2, 20), (1, 3, 30)]]
    d = _write_batches(spark, tmp_path, batches, schema)
    src = _stream_dir(spark, d, schema, files_per_trigger=1)
    out = run_to_memory(
        CL.changelog_normalize(src, ["k"], ["seq"]), "append", "cnorm_t"
    ).collect()
    ops = [(r.op, r.seq, r.val) for r in sorted(out, key=lambda r: (r.seq, r.op))]
    assert ("+I", 1, 10) in ops
    # version 2 retracts version 1 (cross-batch state), then asserts itself
    assert ("-U", 1, 10) in ops and ("+U", 2, 20) in ops
    assert ("-U", 2, 20) in ops and ("+U", 3, 30) in ops


def test_streaming_topn_rank_movement(spark, tmp_path):
    """Ranks shifting across batches emit -D / -U/+U retractions
    (reference RetractableTopNFunction semantics)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("g", LongType()), StructField("score", LongType()),
        StructField("id", LongType()),
    ])
    batches = [
        [(1, 50, 1), (1, 40, 2)],            # top2 = [50, 40]
        [(1, 60, 3)],                         # top2 = [60, 50]; 40 drops out
    ]
    d = _write_batches(spark, tmp_path, batches, schema)
    src = _stream_dir(spark, d, schema, files_per_trigger=1)
    out = run_to_memory(
        CL.streaming_topn(src, ["g"], ["score", "id"], n=2, ascending=[False, True]),
        "append",
        "topn_t",
    ).collect()
    ops = {(r.op, r.rank, r.score) for r in out}
    assert ("+I", 1, 50) in ops and ("+I", 2, 40) in ops  # batch 1
    assert ("+I", 1, 60) in ops                            # batch 2 insert
    assert ("-D", 2, 40) in ops                            # 40 leaves top-2
    assert ("-U", 1, 50) in ops and ("+U", 2, 50) in ops   # 50 slides to rank 2


def test_materialize_folds_changelog(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("k", LongType()), StructField("seq", LongType()),
        StructField("val", LongType()),
    ])
    batches = [[(1, 1, 10), (2, 1, 5)], [(1, 2, 20)]]
    d = _write_batches(spark, tmp_path, batches, schema)
    src = _stream_dir(spark, d, schema, files_per_trigger=1)
    cl = run_to_memory(CL.changelog_normalize(src, ["k"], ["seq"]), "append", "mat_t")
    final = {
        (r.k, r.val) for r in CL.materialize(cl, ["k"], ["seq"]).collect()
    }
    assert final == {(1, 20), (2, 5)}
    # a -D after the key's last +I removes it, as the upsert sink's MERGE
    # would; -U rows never count as a version
    deleted = cl.unionByName(
        spark.createDataFrame(
            [(CL.OP_DELETE, 2, 2, 5)], "op string, k long, seq long, val long"
        )
    )
    final = {
        (r.k, r.val)
        for r in CL.materialize(deleted, ["k"], ["seq"]).collect()
    }
    assert final == {(1, 20)}


def test_datagen_and_blackhole(spark):
    from flink_spark.sources.datagen import (
        blackhole_sink, choice_field, datagen, random_double_field,
        sequence_field,
    )

    df = datagen(
        spark,
        rows_per_second=1000,
        fields=[
            sequence_field("id"),
            random_double_field("value", 0.0, 1.0),
            choice_field("kind", ["a", "b", "c"]),
        ],
    )
    q = blackhole_sink(df)
    try:
        time.sleep(2.0)
        assert q.isActive
        progress = q.recentProgress
    finally:
        q.stop()
    # rate source produced batches; schema synthesized as declared
    assert dict(df.dtypes)["id"] == "bigint"
    assert dict(df.dtypes)["kind"] == "string"


def test_dedup_keep_first_across_batches(spark, tmp_path):
    """A key seen in batch 1 must be suppressed in batch 2 (state carry)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("k", LongType()), StructField("seq", LongType()),
    ])
    batches = [[(1, 1), (2, 7)], [(1, 99), (3, 3)]]
    d = _write_batches(spark, tmp_path, batches, schema)
    src = _stream_dir(spark, d, schema, files_per_trigger=1)
    out = run_to_memory(
        CL.dedup_keep_first(src, ["k"], ["seq"]), "append", "dedup_t"
    ).collect()
    assert {(r.k, r.seq) for r in out} == {(1, 1), (2, 7), (3, 3)}


def test_rocksdb_state_store_provider(spark):
    """The at-scale state backend (reference flink-statebackend-rocksdb):
    Spark's RocksDB state store provider must carry our stateful operators
    with identical results to the default HDFS-backed store."""
    from pyspark.sql import functions as F

    from flink_spark.streaming import changelog as CL
    from flink_spark.streaming.core import run_to_memory, stream_table
    from tests.conftest import SMOKE_SF_DIR

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = stream_table(spark, SMOKE_SF_DIR, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        out = CL.dedup_keep_first(ev, ["user_id"], ["ts", "event_id"])
        got = {r["user_id"]: r["event_id"]
               for r in run_to_memory(out, "append", "rocks").collect()}
    finally:
        spark.conf.set(key, saved)

    import duckdb

    exp = dict(
        duckdb.sql(
            f"""SELECT user_id, event_id FROM (
              SELECT user_id, event_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM read_parquet('{SMOKE_SF_DIR}/events.parquet')) t
            WHERE rn = 1"""
        ).fetchall()
    )
    assert got == exp


def test_canal_json_decode(spark):
    """Canal envelope decode: INSERT/UPDATE (old merged over data)/DELETE
    produce the same RowKinds as the debezium path."""
    from flink_spark.streaming.cdc import decode_canal

    rows = [
        ('{"type":"INSERT","data":[{"id":1,"v":10}],"old":null}',),
        ('{"type":"UPDATE","data":[{"id":1,"v":20}],"old":[{"id":null,"v":10}]}',),
        ('{"type":"DELETE","data":[{"id":1,"v":20}],"old":null}',),
    ]
    df = spark.createDataFrame(rows, "envelope string")
    got = sorted(
        (r["op"], r["id"], r["v"])
        for r in decode_canal(df, "envelope", "id int, v int").collect()
    )
    assert got == [
        ("+I", 1, 10), ("+U", 1, 20), ("-D", 1, 20), ("-U", 1, 10),
    ]


def test_maxwell_json_decode(spark):
    """Maxwell envelope decode parity with the canal/debezium paths."""
    from flink_spark.streaming.cdc import decode_maxwell

    rows = [
        ('{"type":"insert","data":{"id":1,"v":10},"old":null}',),
        ('{"type":"update","data":{"id":1,"v":20},"old":{"v":10}}',),
        ('{"type":"delete","data":{"id":1,"v":20},"old":null}',),
    ]
    df = spark.createDataFrame(rows, "envelope string")
    got = sorted(
        (r["op"], r["id"], r["v"])
        for r in decode_maxwell(df, "envelope", "id int, v int").collect()
    )
    assert got == [
        ("+I", 1, 10), ("+U", 1, 20), ("-D", 1, 20), ("-U", 1, 10),
    ]


def test_cdc_decimal_payload_schema(spark):
    """Payload DDL types containing commas — decimal(p,s), map<k,v> —
    must parse with the depth-aware splitter (ROADMAP known gap)."""
    from decimal import Decimal

    from flink_spark.streaming.cdc import decode_canal, decode_maxwell

    canal = spark.createDataFrame(
        [(
            '{"type":"UPDATE",'
            '"data":[{"id":1,"amt":12.30,"tags":{"a":2}}],'
            '"old":[{"amt":10.00}]}',
        )],
        "envelope string",
    )
    rows = {
        (r.op, r.id, r.amt)
        for r in decode_canal(
            canal, "envelope", "id int, amt decimal(10,2), tags map<string,int>"
        ).collect()
    }
    assert (("-U", 1, Decimal("10.00")) in rows
            and ("+U", 1, Decimal("12.30")) in rows)

    mx = spark.createDataFrame(
        [(
            '{"type":"update","data":{"id":1,"amt":5.50},"old":{"amt":4.25}}',
        )],
        "envelope string",
    )
    rows = {
        (r.op, r.id, r.amt)
        for r in decode_maxwell(
            mx, "envelope", "id int, amt decimal(6,2)"
        ).collect()
    }
    assert rows == {("-U", 1, Decimal("4.25")), ("+U", 1, Decimal("5.50"))}


def test_streaming_topn_ttl_islands(spark):
    """TTL expiry clears the board without retractions: two activity
    islands separated by a > ttl quiet gap each keep their own final
    top-2; rank movements inside an island still retract."""
    import pandas as pd

    rows = [
        # island 1 (t=0..2min): values 5, 9, 7 → final top2 = 9, 7
        ("a", 1, 5.0, "2024-01-01 00:00:00"),
        ("a", 2, 9.0, "2024-01-01 00:01:00"),
        ("a", 3, 7.0, "2024-01-01 00:02:00"),
        # > 1h gap → island 2: values 1, 3 → final top2 = 3, 1
        ("a", 4, 1.0, "2024-01-01 02:00:00"),
        ("a", 5, 3.0, "2024-01-01 02:01:00"),
    ]
    pdf = pd.DataFrame(rows, columns=["k", "event_id", "value", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    import tempfile

    d = tempfile.mkdtemp()
    # two micro-batches: the 7.0 row arrives after the 9/5 board exists,
    # so its entry must evict the 5.0 row with a real -D
    pdf.iloc[:2].to_parquet(f"{d}/part-0.parquet", index=False)
    pdf.iloc[2:].to_parquet(f"{d}/part-1.parquet", index=False)
    schema = spark.read.parquet(d).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    cl = CL.streaming_topn(
        src, ["k"], ["value", "event_id"], n=2, ascending=[False, True],
        ttl=("ts", "1 hour"),
    )
    from flink_spark.streaming.core import run_to_memory

    res = run_to_memory(cl, "append", "topn_ttl_unit")
    ops = [(r.op, r.event_id, r.rank) for r in res.collect()]
    # island 1: +I 5@1, +I 9@1 / -U,+U move of 5 to rank2, -D 5 when 7 enters
    assert ("-D", 1, 2) in ops  # value-5 row evicted by 7
    # island 2 entries appear fresh, no -D for island-1 rows at the gap
    assert ("+I", 5, 1) in ops and ("+I", 4, 2) in ops
    deletes_at_gap = [o for o in ops if o[0] == "-D" and o[1] in (2, 3)]
    assert deletes_at_gap == []
    # final membership = union of island finals
    import collections

    m = collections.Counter()
    for op, eid, _ in ops:
        m[eid] += 1 if op in ("+I", "+U") else (-1 if op in ("-U", "-D") else 0)
    assert sorted(eid for eid, v in m.items() if v == 1) == [2, 3, 4, 5]


def test_idle_source_watermark_policy(spark, tmp_path):
    """Source idleness (reference WatermarkStrategy.withIdleness:147):
    Spark has no per-source idle markers, but the documented workaround —
    spark.sql.streaming.multipleWatermarkPolicy=max — lets an idle input
    stop holding back the union's watermark. min policy (default,
    Flink-aligned): windows past the idle source's last watermark never
    close; max policy: the active source drives eviction."""
    import pandas as pd

    def mk(dirname, hours):
        d = tmp_path / dirname
        d.mkdir()
        rows = [
            ("k", h, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h))
            for h in hours
        ]
        pdf = pd.DataFrame(rows, columns=["k", "v", "ts"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # parquet nanos → bigint
        pdf.to_parquet(d / "part-0.parquet", index=False)
        return str(d)

    active = mk("src_active", [0.5, 1.5, 2.5, 3.5, 4.5, 5.5])
    idle = mk("src_idle", [0.25, 0.75])  # stops after the first hour

    def run(policy):
        from flink_spark.streaming.core import run_to_memory

        saved = spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy")
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
        try:
            schema = spark.read.parquet(active).schema

            def src(path):
                return (
                    spark.readStream.schema(schema).parquet(path)
                    .withColumn("ts", F.col("ts").cast("timestamp"))
                    .withWatermark("ts", "1 minute")
                )

            agg = (
                src(active).unionByName(src(idle))
                .groupBy(F.window("ts", "1 hour"), "k")
                .agg(F.count("*").alias("n"))
                .select(F.col("window.start").alias("ws"), "n")
            )
            out = run_to_memory(agg, "append", f"idle_{policy}")
            return sorted(r.ws.hour for r in out.collect())
        finally:
            spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", saved)

    # min (default): watermark stuck at the idle source's 00:45-1min,
    # which never passes any window end → nothing ever closes
    assert run("min") == []
    # max: the active source's watermark (05:30-1min) closes everything
    # except the still-open 05:00 window
    assert run("max") == [0, 1, 2, 3, 4]


def test_cdc_ogg_decode(spark):
    """ogg-json envelope (reference OggJsonDeserializationSchema):
    op_type I/U/D with before/after images → the debezium RowKind set."""
    from flink_spark.streaming.cdc import decode_ogg

    rows = [
        ('{"op_type":"I","before":null,"after":{"id":1,"v":10}}',),
        ('{"op_type":"U","before":{"id":1,"v":10},"after":{"id":1,"v":11}}',),
        ('{"op_type":"D","before":{"id":1,"v":11},"after":null}',),
    ]
    df = spark.createDataFrame(rows, "envelope string")
    got = sorted(
        (r.op, r.id, r.v)
        for r in decode_ogg(df, "envelope", "id int, v int").collect()
    )
    assert got == sorted(
        [("+I", 1, 10), ("-U", 1, 10), ("+U", 1, 11), ("-D", 1, 11)]
    )


def test_async_lookup_retry_strategy(spark):
    """Fixed-delay retry (reference ResultRetryStrategy / RetryPredicates):
    a lookup that fails transiently succeeds within max_attempts; an
    empty result retries under retry_on_empty and null-pads when
    exhausted."""
    from flink_spark.operators.joins import async_lookup_join

    df = spark.createDataFrame([(1,), (2,), (3,)], "k int").coalesce(1)

    fail_once: dict = {}

    async def flaky(k):
        if k == 2 and not fail_once.get(k):
            fail_once[k] = True
            raise RuntimeError("transient")
        if k == 3:
            return {}  # permanently empty — dim row never arrives
        return {"name": f"dim_{k}"}

    out = async_lookup_join(
        df, flaky, "k", "name string",
        retry_max_attempts=3, retry_delay_sec=0.0, retry_on_empty=True,
    )
    got = sorted((r.k, r.name) for r in out.collect())
    assert got == [(1, "dim_1"), (2, "dim_2"), (3, None)]


def test_async_lookup_retry_exhausted_raises(spark):
    """A lookup that raises on EVERY attempt must surface the error after
    retries are exhausted (not be silently null-padded) — consistent with
    the single-attempt path; null-pad stays reserved for genuinely empty
    results (reference AsyncRetryStrategy exhaustion → job failure)."""
    from flink_spark.operators.joins import async_lookup_join

    df = spark.createDataFrame([(1,), (2,)], "k int").coalesce(1)

    async def always_down(k):
        raise RuntimeError("service down")

    out = async_lookup_join(
        df, always_down, "k", "name string",
        retry_max_attempts=3, retry_delay_sec=0.0,
    )
    with pytest.raises(Exception, match="service down"):
        out.collect()


def test_chunk_split_closed_form_matches_iloc():
    """The SQL oracle's closed-form chunk assignment (sum of rn >= i*n//4)
    must equal chunked_table_stream's pandas floor split
    iloc[i*n//4:(i+1)*n//4] for EVERY row count — including counts not
    divisible by 4, where the old rn*4//n formula diverged."""
    for n in list(range(1, 66)) + [999, 1001, 10001]:
        bounds = [i * n // 4 for i in range(5)]
        for rn in range(n):
            iloc_chunk = next(
                i for i in range(4) if bounds[i] <= rn < bounds[i + 1]
            )
            closed = sum(rn >= i * n // 4 for i in (1, 2, 3))
            assert closed == iloc_chunk, (n, rn)


def test_side_output_late_partitions_stream(spark, tmp_path):
    """on_time ∪ late == input, disjoint; batch-1 rows are never late
    (no prior watermark); a row behind the frozen watermark lands on the
    late channel (reference OutputTag late-data side output)."""
    import pandas as pd

    from flink_spark.streaming.core import side_output_late

    base = pd.Timestamp("2024-01-01 10:00:00")
    chunks = [
        [(1, base + pd.Timedelta(minutes=50))],              # wm := 10:50
        [(2, base + pd.Timedelta(minutes=10)),               # late (< 10:40)
         (3, base + pd.Timedelta(minutes=45))],              # on time
    ]
    d = tmp_path / "late_src"
    d.mkdir()
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(rows, columns=["id", "ts"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(d / f"part-{i}.parquet", index=False)
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    on_time, late = side_output_late(stream, "ts", "10 minutes")
    assert sorted(r.id for r in late.collect()) == [2]
    assert sorted(r.id for r in on_time.collect()) == [1, 3]


def test_side_output_late_watermark_survives_restart(spark, tmp_path):
    """The frozen watermark must survive a stop/restart (reference
    checkpointed watermarks: AbstractStreamOperator snapshots the current
    watermark; Spark persists withWatermark through the offset log): a
    run-2 row behind the watermark run 1 reached is classified LATE, not
    silently on-time via a reset-to-None watermark."""
    import os
    import time

    import pandas as pd

    from flink_spark.streaming.core import side_output_late

    base = pd.Timestamp("2024-01-01 10:00:00")
    d = tmp_path / "late_restart_src"
    d.mkdir()
    root = str(tmp_path / "late_restart_root")

    def land(rows, name, mtime):
        pdf = pd.DataFrame(rows, columns=["id", "ts"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = d / f"{name}.parquet"
        pdf.to_parquet(p, index=False)
        os.utime(p, (mtime, mtime))

    def run():
        schema = spark.read.parquet(str(d)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        return side_output_late(stream, "ts", "10 minutes", root=root)

    # run 1: drives the watermark to 10:30 − 10 min = 10:20, then stops
    land([(1, base + pd.Timedelta(minutes=30))], "r1", 1_600_000_000)
    on1, late1 = run()
    assert sorted(r.id for r in on1.collect()) == [1]
    assert late1.count() == 0

    # restart: a 09:00 row is far behind run 1's watermark → late; a
    # 10:40 row is ahead of it → on time
    land(
        [(2, base - pd.Timedelta(hours=1)), (3, base + pd.Timedelta(minutes=40))],
        "r2",
        1_600_000_060,
    )
    on2, late2 = run()
    assert sorted(r.id for r in late2.collect()) == [2]
    assert sorted(r.id for r in on2.collect()) == [1, 3]  # dirs accumulate


def test_side_output_late_exact_after_crash(spark, tmp_path, monkeypatch):
    """A batch whose channel writes landed but whose checkpoint commit
    did not is re-delivered on resume; it must overwrite its own channel
    rows, not append them a second time."""
    import pandas as pd
    from pyspark.sql.readwriter import DataFrameWriter

    from flink_spark.streaming.core import side_output_late

    base = pd.Timestamp("2024-01-01 10:00:00")
    chunks = [
        [(1, base + pd.Timedelta(minutes=30))],              # wm := 10:20
        [(2, base + pd.Timedelta(minutes=40)),               # on time
         (3, base - pd.Timedelta(hours=1))],                 # late
    ]
    d = tmp_path / "late_crash_src"
    d.mkdir()
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(rows, columns=["id", "ts"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = d / f"part-{i}.parquet"
        pdf.to_parquet(p, index=False)
        os.utime(p, (1_600_000_000 + 60 * i,) * 2)
    root = str(tmp_path / "late_crash_root")

    def run():
        schema = spark.read.parquet(str(d)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        return side_output_late(stream, "ts", "10 minutes", root=root)

    real = DataFrameWriter.parquet
    on_writes = []

    def crash_after_second_on_write(self, path, *a, **k):
        out = real(self, path, *a, **k)
        if path.endswith("/on"):
            on_writes.append(path)
            if len(on_writes) == 2:  # batch 1's on-time rows have landed
                raise RuntimeError("injected crash after channel write")
        return out

    monkeypatch.setattr(
        DataFrameWriter, "parquet", crash_after_second_on_write
    )
    with pytest.raises(Exception, match="injected crash"):
        run()
    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    on_time, late = run()  # resume: batch 1 is re-delivered
    assert sorted(r.id for r in on_time.collect()) == [1, 2]
    assert sorted(r.id for r in late.collect()) == [3]


def test_watermark_alignment_throttles_fast_source(spark, tmp_path):
    """Watermark alignment (reference withWatermarkAlignment): a source
    ahead of the group frontier by more than max_drift defers its rows;
    the minimum source is never throttled; a finished source's frontier
    is +inf so the flush drains. Hand-computed 4-round trace."""
    import os

    import pandas as pd

    from flink_spark.streaming.idleness import aligned_union_trace

    t = lambda s: pd.Timestamp(f"2024-01-01 {s}")
    batches = [
        [("a", t("10:00"), 1), ("b", t("10:00"), 2)],
        [("a", t("12:00"), 3), ("b", t("10:05"), 4)],
        [("a", t("12:30"), 5), ("b", t("10:20"), 6)],
    ]
    d = tmp_path / "align_src"
    d.mkdir()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["src", "ts", "id"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        p = d / f"part-{i}.parquet"
        pdf.to_parquet(p, index=False)
        os.utime(p, (1_600_000_000 + i * 60,) * 2)
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    trace = aligned_union_trace(stream, "src", "ts", "30 minutes")
    rows = [
        (r.batch_id, r.a_processed, r.b_processed, r.combined_max)
        for r in sorted(trace.collect())
    ]
    assert rows == [
        # round 0: no frontier yet — everything processes
        (0, 1, 1, t("10:00")),
        # round 1: both AT the min (exempt) — a's 12:00 jump processes
        (1, 1, 1, t("10:05")),
        # round 2: a is 12:00 vs comb 10:05 (+30m allowed 10:35) —
        # a's 12:30 row is THROTTLED; b (the min) processes
        (2, 0, 1, t("10:20")),
        # flush: b is finished (frontier +inf) — group frontier becomes
        # a's own 12:00, a is exempt and drains its buffered row
        (3, 1, 0, t("10:20")),
    ]


# -- trailing watermark-only micro-batch ------------------------------------

_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
_CKPT_MGR = "spark.sql.streaming.checkpointFileManagerClass"
_MGR_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
_FS_MGR = _MGR_PKG + "FileSystemBasedCheckpointFileManager"
_FC_MGR = _MGR_PKG + "FileContextBasedCheckpointFileManager"


@pytest.fixture(scope="module")
def ev_stream(spark, tmp_path_factory):
    """Factory of streaming DataFrames over a one-file event source."""
    import datetime as dt

    rows = [(i, dt.datetime(2024, 1, 1, 0, i), i % 3, "click" if i % 2
             else "purchase") for i in range(20)]
    d = _write_batches(spark, tmp_path_factory.mktemp("ev"), [rows],
                       ["event_id", "ts", "user_id", "event_type"])
    schema = spark.read.parquet(d).schema

    def make():
        return _stream_dir(spark, d, schema).withWatermark("ts", "1 minute")

    return make


def _interval_join(mk, how="inner"):
    a = mk().filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("a_ts"))
    b = mk().filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    return a.join(b, (F.col("user_id") == F.col("b_user"))
                  & F.col("b_ts").between(F.col("a_ts"),
                                          F.col("a_ts") + F.expr(
                                              "INTERVAL 5 minutes")), how)


def _pandas_state(mk):
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        yield pd.DataFrame({"user_id": [key[0]],
                            "n": [sum(len(p) for p in pdfs)]})

    return mk().groupBy("user_id").applyInPandasWithState(
        fn, "user_id long, n long", "n long", "append",
        GroupStateTimeout.NoTimeout)


@pytest.mark.parametrize("build,emits", [
    pytest.param(_interval_join, False, id="inner_join"),
    pytest.param(lambda mk: mk().filter("user_id > 0").select("event_id"),
                 False, id="stateless"),
    pytest.param(lambda mk: _interval_join(mk, "left_outer"), True,
                 id="left_outer_join"),
    pytest.param(lambda mk: mk().groupBy(F.window("ts", "5 minutes"))
                 .count(), True, id="append_aggregate"),
    pytest.param(_pandas_state, True, id="pandas_with_state"),
    pytest.param(lambda mk: _interval_join(mk).dropDuplicates(["user_id"]),
                 True, id="join_then_dedup"),
])
def test_trailing_batch_classifier(ev_stream, build, emits):
    """Only inner joins over stateless nodes may skip the trailing
    watermark-only batch; every other stateful node keeps it."""
    sdf = build(ev_stream)
    tree = sdf._jdf.queryExecution().analyzed().treeString()
    assert emits_on_watermark_advance(tree) is emits, tree


@pytest.mark.parametrize("tree", [
    "~Project [a#1]\n+- ~SomeFutureNode x\n   +- ~StreamingRelation s\n",
    "~Project [a#1]\n+- ~Join Inner, (a#1 = b#2)\n   :- ~Project ... 9"
    " more characters",
    "~Join Cross\n:- ~StreamingRelation s\n+- ~StreamingRelation t\n",
], ids=["unknown_node", "truncated_plan", "cross_join"])
def test_trailing_batch_classifier_unknown_keeps(tree):
    assert emits_on_watermark_advance(tree)


@pytest.fixture
def drain_batches(spark):
    """Executed micro-batches per drain: ``{query name: [input rows of
    each batch]}``, read from a StreamingQueryListener once every drain
    started meanwhile has reported its termination."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    lock = threading.Lock()
    events = {"started": set(), "ended": set(), "batches": {}}

    class Counter(StreamingQueryListener):
        def onQueryStarted(self, event):
            with lock:
                events["started"].add(event.id)

        def onQueryProgress(self, event):
            p = event.progress
            if "addBatch" in p.durationMs:  # an executed batch
                with lock:
                    events["batches"].setdefault(p.name, {})[p.batchId] = (
                        p.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with lock:
                events["ended"].add(event.id)

    listener = Counter()
    spark.streams.addListener(listener)

    def read():
        deadline = time.time() + 30
        while time.time() < deadline:
            with lock:
                if events["started"] <= events["ended"]:
                    break
            time.sleep(0.05)
        with lock:
            return {name: [rows for _, rows in sorted(b.items())]
                    for name, b in events["batches"].items()}

    yield read
    spark.streams.removeListener(listener)


@pytest.mark.parametrize("name,prefix,skips", [
    ("stream_interval_join", "ijoin", True),
    ("stream_tumble_agg", "tumble", False),
    ("stream_interval_join_left", "lojoin", False),
])
def test_drain_trailing_batch(spark, sf_dir, drain_batches, name, prefix,
                              skips):
    """An inner interval join drains in one micro-batch; append window
    aggregates and outer joins still run the trailing watermark batch,
    which reads no rows but emits the final windows / null rows."""
    from flink_spark.queries.registry import QUERIES

    QUERIES[name].fn(spark, sf_dir).collect()
    (batches,) = [b for n, b in drain_batches().items()
                  if n.startswith(prefix + "_")]
    if skips:
        assert len(batches) == 1 and batches[0] > 0, batches
    else:
        assert len(batches) >= 2 and batches[-1] == 0, batches
    assert spark.conf.get(_NO_DATA) == "true"


def test_drain_restores_no_data_batches_conf(spark, ev_stream,
                                             monkeypatch):
    """A skipping drain restores the session's setting afterwards, also
    when the drain raises, and never overrides a session that turned the
    trailing batch off itself. Every drain starts on the FileSystem-based
    checkpoint manager; afterwards the key is unset again when the
    session never had it and gets back a value the session set."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def spy(self, *args, **kwargs):
        started.append(self._spark.conf.get(_CKPT_MGR, None))
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", spy)
    ok = ev_stream().select("event_id")
    bad = ev_stream().select(
        F.when(F.col("event_id") == 3, F.raise_error(F.lit("boom")))
        .otherwise(F.col("event_id")).alias("event_id"))
    assert not emits_on_watermark_advance(
        bad._jdf.queryExecution().analyzed().treeString())
    assert spark.conf.get(_NO_DATA) == "true"
    assert spark.conf.get(_CKPT_MGR, None) is None
    assert run_to_memory(ok, "append", "nodata_ok").count() == 20
    assert spark.conf.get(_NO_DATA) == "true"
    assert spark.conf.get(_CKPT_MGR, None) is None
    with pytest.raises(Exception, match="boom"):
        run_to_memory(bad, "append", "nodata_bad")
    assert spark.conf.get(_NO_DATA) == "true"
    assert spark.conf.get(_CKPT_MGR, None) is None
    spark.conf.set(_NO_DATA, "false")
    spark.conf.set(_CKPT_MGR, _FC_MGR)
    try:
        agg = ev_stream().groupBy(F.window("ts", "5 minutes")).count()
        run_to_memory(agg, "append", "nodata_off").count()
        assert spark.conf.get(_NO_DATA) == "false"
        assert spark.conf.get(_CKPT_MGR) == _FC_MGR
        with pytest.raises(Exception, match="boom"):
            run_to_memory(bad, "append", "nodata_bad_set")
        assert spark.conf.get(_CKPT_MGR) == _FC_MGR
    finally:
        spark.conf.set(_NO_DATA, "true")
        spark.conf.unset(_CKPT_MGR)
    assert started == [_FS_MGR] * 4


@pytest.mark.parametrize("before", [None, _FC_MGR], ids=["unset", "set"])
def test_run_drain_checkpoint_manager_conf(spark, ev_stream, tmp_path,
                                           before):
    """foreachBatch drains run on the FileSystem-based checkpoint manager
    (the batch's session shows it), and the session's own setting comes
    back afterwards, also when the callback raises."""
    from flink_spark.streaming.storeutil import run_drain

    if before:
        spark.conf.set(_CKPT_MGR, before)
    seen = []

    def record(batch, _bid):
        seen.append(batch.sparkSession.conf.get(_CKPT_MGR))

    def fail(batch, _bid):
        raise RuntimeError("boom")

    try:
        run_drain(ev_stream(), record, str(tmp_path / "ok"))
        assert seen and set(seen) == {_FS_MGR}
        assert spark.conf.get(_CKPT_MGR, None) == before
        with pytest.raises(Exception, match="boom"):
            run_drain(ev_stream(), fail, str(tmp_path / "bad"))
        assert spark.conf.get(_CKPT_MGR, None) == before
    finally:
        spark.conf.unset(_CKPT_MGR)


# -- one drain path ----------------------------------------------------------

#: (module under flink_spark/, enclosing function) of every
#: ``availableNow`` trigger. Drains go through ``run_drain`` (foreachBatch)
#: or ``run_to_memory`` (memory sink), which start them under
#: ``storeutil.drain_conf``; ``start_stream`` is the user-facing trigger
#: API, and ``stream_state_reader`` needs an update-mode sink (it holds
#: ``drain_conf`` itself).
_DRAIN_SITES = [
    ("queries/streaming_suite.py", "stream_state_reader"),
    ("streaming/core.py", "run_to_memory"),
    ("streaming/storeutil.py", "run_drain"),
    ("streaming/triggers.py", "start_stream"),
]


def _available_now_sites(root):
    """Sorted (relpath, innermost function) of every ``availableNow=``
    keyword argument in the .py files under ``root``."""
    import ast

    sites = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            funcs = [
                n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if not (isinstance(node, ast.keyword)
                        and node.arg == "availableNow"):
                    continue
                inner = [
                    f for f in funcs
                    if f.lineno <= node.value.lineno <= f.end_lineno
                ]
                innermost = max(inner, key=lambda f: f.lineno, default=None)
                sites.append((rel, innermost and innermost.name))
    return sorted(sites)


def test_drains_start_only_through_drain_helpers():
    """A new AvailableNow drain must go through run_drain/run_to_memory
    (and so through drain_conf), not start its own writeStream."""
    import flink_spark

    pkg = os.path.dirname(flink_spark.__file__)
    assert _available_now_sites(pkg) == _DRAIN_SITES


def test_drain_site_scan_flags_new_site(tmp_path):
    """The scan sees a direct drain (also nested in a callback), and not
    a mention in a comment or docstring."""
    (tmp_path / "op.py").write_text(
        "def op(df):\n"
        "    \"\"\"Drains with trigger(availableNow=True).\"\"\"\n"
        "    def go():\n"
        "        # .trigger(availableNow=True)\n"
        "        return df.writeStream.trigger(availableNow=True).start()\n"
        "    return go()\n"
    )
    assert _available_now_sites(str(tmp_path)) == [("op.py", "go")]
