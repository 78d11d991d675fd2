"""Checkpoint-stop-resume tests, second batch (reference restore-tests/
breadth, RestoreTestBase.java:107): window TVF aggregate, session-window
aggregate, changelog normalize and stream-stream interval join each hold
state a restart must carry — a straddling tumble window's partial
accumulator, an open session, the per-key previous version, the buffered
join side. Pattern as in test_restore_stateful.py: drain half the input,
STOP, land the rest, resume a NEW query from the same checkpoint, assert
the combined output equals the batch oracle / uninterrupted run exactly.
"""

from __future__ import annotations

import pytest

import datetime
import glob
import shutil

from pyspark.sql import functions as F

from flink_spark.sources.tables import load_table
from flink_spark.streaming import changelog as CL

# Exhaustive tier (VERDICT r12 #2 / r13 durations trim): this whole module is
# an exhaustive re-run sweep; it runs under --runslow / SPARK_GRAFT_RUNSLOW=1.
pytestmark = pytest.mark.slow



def _land(df, tmp_path, src, stage: str) -> None:
    staging = tmp_path / f"stage_{stage}"
    df.coalesce(1).write.mode("overwrite").parquet(str(staging))
    (part,) = glob.glob(str(staging / "part-*.parquet"))
    shutil.move(part, str(src / f"{stage}.parquet"))


def _split_by_ts(ev):
    cut = ev.selectExpr(
        "percentile(CAST(CAST(ts AS TIMESTAMP) AS LONG), 0.5) AS c"
    ).collect()[0]["c"]
    early = ev.filter(F.col("ts").cast("timestamp").cast("long") <= cut)
    late = ev.filter(F.col("ts").cast("timestamp").cast("long") > cut)
    return early, late, cut


def _ts_stream(spark, src, schema, delay: str):
    df = spark.readStream.schema(schema).parquet(str(src))
    return df.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", delay
    )


def _drain(out, sink, ckpt) -> None:
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_restore_window_tumble_agg(spark, sf_dir, tmp_path):
    """Tumble window aggregate (WindowAggOperator state = open-window
    accumulators): the window straddling the stop must combine run-1 and
    run-2 rows in ONE accumulator — a lost store would emit the window
    with only run-2 counts (or twice). A far-future sentinel row plays
    the reference's end-of-input MAX_WATERMARK to flush tail windows."""
    src = tmp_path / "src"
    src.mkdir()
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type", "value")
    )
    schema = ev.schema
    early, late, cut = _split_by_ts(ev)
    # the hour containing the cut must have rows on both sides — the
    # accumulator that proves the restore (data property of the pinned
    # testdata, asserted so a future regeneration can't silently turn
    # this into a no-op test)
    hour = 3600
    straddle = (
        ev.withColumn("b", (F.col("ts").cast("timestamp").cast("long") / hour)
          .cast("long"))
        .withColumn("late", (F.col("ts").cast("timestamp").cast("long") > cut)
          .cast("int"))
        .groupBy("b").agg(F.countDistinct("late").alias("sides"))
        .filter(F.col("sides") == 2).count()
    )
    assert straddle >= 1
    sentinel_ts = datetime.datetime(2030, 1, 1)
    sentinel = spark.createDataFrame(
        [(-1, sentinel_ts, "zz_sentinel", 0.0)], schema
    )

    def run_once():
        stream = _ts_stream(spark, src, schema, "1 minute")
        agg = (
            stream.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(30,6)"))
                .cast("double").alias("sv"),
            )
            .select(
                F.col("window.start").alias("ws"),
                "event_type", "n", "sv",
            )
        )
        _drain(agg, tmp_path / "sink", tmp_path / "ckpt")

    _land(early, tmp_path, src, "batch1")
    run_once()
    _land(late, tmp_path, src, "batch2")
    run_once()  # NEW query from the same checkpoint
    _land(sentinel, tmp_path, src, "batch3")
    run_once()  # sentinel watermark flushes the tail windows

    got = spark.read.parquet(str(tmp_path / "sink")).filter(
        F.col("event_type") != "zz_sentinel"
    )
    expected = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double").alias("sv"),
        )
        .select(F.col("window.start").alias("ws"), "event_type", "n", "sv")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_restore_session_window_agg(spark, sf_dir, tmp_path):
    """Session-window aggregate (merging window state): a session OPEN at
    the stop must merge with run-2 rows into one emitted session. An
    injected user with one row on each side of the cut (10 minutes apart,
    30-minute gap) makes the cross-restart merge deterministic."""
    src = tmp_path / "src"
    src.mkdir()
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 50)
        .select("user_id", "ts", "value")
    )
    schema = base.schema
    early, late, cut = _split_by_ts(base)
    probe_uid = 10**9
    t0 = datetime.datetime.utcfromtimestamp(cut - 300)
    t1 = datetime.datetime.utcfromtimestamp(cut + 300)
    probe_early = spark.createDataFrame([(probe_uid, t0, 1.0)], schema)
    probe_late = spark.createDataFrame([(probe_uid, t1, 2.0)], schema)
    ev = base.unionByName(probe_early).unionByName(probe_late)
    sentinel = spark.createDataFrame(
        [(-1, datetime.datetime(2030, 1, 1), 0.0)], schema
    )

    def run_once():
        stream = _ts_stream(spark, src, schema, "1 minute")
        agg = (
            stream.groupBy(
                F.session_window("ts", "30 minutes"), "user_id"
            )
            .agg(F.count("*").alias("n"))
            .select(
                F.col("session_window.start").alias("ss"),
                F.col("session_window.end").alias("se"),
                "user_id", "n",
            )
        )
        _drain(agg, tmp_path / "sink", tmp_path / "ckpt")

    _land(early.unionByName(probe_early), tmp_path, src, "batch1")
    run_once()
    _land(late.unionByName(probe_late), tmp_path, src, "batch2")
    run_once()  # resumed
    _land(sentinel, tmp_path, src, "batch3")
    run_once()  # flush open sessions

    got = spark.read.parquet(str(tmp_path / "sink")).filter(
        F.col("user_id") != -1
    )
    # the probe user's two rows — one per run, 10 min apart — must be ONE
    # merged session of n=2: a lost session store would emit two n=1
    # sessions
    probe = got.filter(F.col("user_id") == probe_uid).collect()
    assert len(probe) == 1 and probe[0]["n"] == 2
    expected = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("session_window.start").alias("ss"),
            F.col("session_window.end").alias("se"),
            "user_id", "n",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_restore_changelog_normalize(spark, sf_dir, tmp_path):
    """Changelog normalize (state = last version per key): the first
    run-2 version of a key seen in run 1 must emit -U of the RUN-1 row —
    a lost store would emit it as a fresh +I. Two-run output equals the
    uninterrupted run exactly."""
    src = tmp_path / "src"
    src.mkdir()
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 100)
        .select("user_id", "ts", "event_id", "value")
    )
    schema = ev.schema
    early, late, _ = _split_by_ts(ev)

    def run(sink, ckpt):
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = CL.changelog_normalize(stream, ["user_id"], ["ts", "event_id"])
        _drain(out, sink, ckpt)

    _land(early, tmp_path, src, "batch1")
    run(tmp_path / "sink", tmp_path / "ckpt")
    _land(late, tmp_path, src, "batch2")
    run(tmp_path / "sink", tmp_path / "ckpt")  # resumed

    run(tmp_path / "sink_solid", tmp_path / "ckpt_solid")  # uninterrupted

    got = spark.read.parquet(str(tmp_path / "sink"))
    solid = spark.read.parquet(str(tmp_path / "sink_solid"))
    assert got.count() > 0
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, solid.collect())
    )
    # keys present in both runs emitted exactly ONE +I (the run-1 first
    # version); a lost store re-inserts at the run boundary
    both = early.select("user_id").intersect(late.select("user_id"))
    ins = got.filter(F.col("op") == CL.OP_INSERT).groupBy("user_id").count()
    assert ins.join(both, "user_id").filter(F.col("count") != 1).count() == 0


def test_restore_stream_interval_join(spark, sf_dir, tmp_path):
    """Stream-stream interval join (join state = buffered rows per side):
    a click landed in run 1 must still match a purchase landing in run 2
    inside the 30-minute band — that pair only exists if the restored
    state carries the run-1 click buffer."""
    src = tmp_path / "src"
    src.mkdir()
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
    )
    schema = ev.schema
    # cut INSIDE a matched pair's band (click ≤ cut < purchase), so at
    # least one pair is guaranteed to straddle the restart — the median
    # cut of the other tests lands between pairs in this dataset
    b0 = ev.withColumn("tl", F.col("ts").cast("timestamp").cast("long"))
    pair = (
        b0.filter(F.col("event_type") == "click")
        .select("user_id", F.col("tl").alias("c_tl"))
        .join(
            b0.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_uid"),
                    F.col("tl").alias("p_tl")),
            (F.col("user_id") == F.col("p_uid"))
            & (F.col("p_tl") > F.col("c_tl"))
            & (F.col("p_tl") <= F.col("c_tl") + 1800),
        )
        .orderBy(F.desc(F.col("p_tl") - F.col("c_tl")), "user_id", "c_tl")
        .first()
    )
    assert pair is not None, "testdata has no strict click→purchase pair"
    cut = pair["c_tl"]
    early = ev.filter(F.col("ts").cast("timestamp").cast("long") <= cut)
    late = ev.filter(F.col("ts").cast("timestamp").cast("long") > cut)

    def run_once():
        stream = _ts_stream(spark, src, schema, "10 seconds")
        clicks = stream.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        stream2 = _ts_stream(spark, src, schema, "10 seconds")
        purchases = stream2.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts")
               <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
            "inner",
        ).select("click_id", "purchase_id", "user_id",
                 "click_ts", "purchase_ts")
        _drain(joined, tmp_path / "sink", tmp_path / "ckpt")

    _land(early, tmp_path, src, "batch1")
    run_once()
    n_run1 = spark.read.parquet(str(tmp_path / "sink")).count()
    _land(late, tmp_path, src, "batch2")
    run_once()  # resumed: run-1 click buffer must survive

    got = spark.read.parquet(str(tmp_path / "sink"))
    b = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    bc = b.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    bp = b.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    expected = bc.join(
        bp,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
        "inner",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    exp_rows = sorted(map(tuple, expected.collect()))
    assert sorted(map(tuple, got.collect())) == exp_rows
    # the restart genuinely exercised cross-run matching
    assert n_run1 < len(exp_rows)
    cross = expected.filter(
        (F.col("click_ts").cast("long") <= cut)
        & (F.col("purchase_ts").cast("long") > cut)
    ).count()
    assert cross > 0


@pytest.mark.parametrize(
    "ttl", [None, ("ts", "12 hours")], ids=["untimed", "ttl"]
)
def test_restore_group_agg_retract(spark, sf_dir, tmp_path, ttl):
    """Retracting group aggregation (reference
    restore-tests/stream-exec-group-aggregate; GroupAggFunction state =
    the per-key accumulator row): the first run-2 row of a key seen in
    run 1 must emit -U of the RUN-1 aggregate value — a lost accumulator
    would restart the count at +I(1). The combined two-run retraction
    sequence equals the uninterrupted run exactly — with ``ttl`` too,
    whose state row also carries the key's last sighting."""
    src = tmp_path / "src"
    src.mkdir()
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 50)
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
            "ts", "event_id",
        )
    )
    schema = ev.schema
    early, late, _ = _split_by_ts(ev)

    def run(sink, ckpt):
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = CL.group_agg_retract(
            stream, ["event_type"], "cents", ["ts", "event_id"], ttl=ttl
        )
        _drain(out, sink, ckpt)

    _land(early, tmp_path, src, "batch1")
    run(tmp_path / "sink", tmp_path / "ckpt")
    _land(late, tmp_path, src, "batch2")
    run(tmp_path / "sink", tmp_path / "ckpt")  # resumed

    run(tmp_path / "sink_solid", tmp_path / "ckpt_solid")  # uninterrupted

    got = spark.read.parquet(str(tmp_path / "sink"))
    solid = spark.read.parquet(str(tmp_path / "sink_solid"))
    assert got.count() > 0
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, solid.collect())
    )
    if ttl is not None:
        return  # TTL expiry legitimately re-inserts
    # every key appears in both halves (5 event types x thousands of
    # rows), so each key must emit exactly ONE +I across the restart —
    # a lost accumulator re-inserts at the run boundary; and the run-2
    # head must retract the run-1 tail: for each key there is a -U whose
    # cnt equals the key's run-1 row count (the restored accumulator)
    ins = got.filter(F.col("op") == CL.OP_INSERT).groupBy("event_type").count()
    assert ins.filter(F.col("count") != 1).count() == 0
    run1_cnt = early.groupBy("event_type").count()
    bridge = (
        got.filter(F.col("op") == CL.OP_UPDATE_BEFORE)
        .join(
            run1_cnt.withColumnRenamed("count", "r1"),
            "event_type",
        )
        .filter(F.col("cnt") == F.col("r1"))
    )
    assert bridge.count() >= run1_cnt.count()
