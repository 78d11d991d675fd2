"""Cross-micro-batch correctness for the buffered stateful operators
(temporal sort, streaming CEP): input split into time-ordered files,
streamed one file per trigger, so watermarks advance BETWEEN batches and
matches/emissions must span buffer state carried across batches."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF_DIR


def _stream_chunks(spark, watermark, pre_filter=None):
    """sf0.001 events in 4 ``ts``-ordered micro-batches. ``pre_filter``
    is applied BEFORE withWatermark, so the watermark stats
    deterministically reflect the filtered rows — whether Catalyst
    pushes a post-watermark filter below the EventTimeWatermark node is
    version/plan dependent, and the test model must not hinge on it."""
    from flink_spark.streaming.core import stream_table

    df = stream_table(spark, SMOKE_SF_DIR, "events", n_chunks=4, order="ts")
    if pre_filter is not None:
        df = df.filter(pre_filter)
    col, delay = watermark
    return df.withColumn(col, F.col(col).cast("timestamp")).withWatermark(col, delay)


def test_temporal_sort_across_batches(spark):
    from flink_spark.streaming.core import run_to_memory
    from flink_spark.streaming.temporal_sort import temporal_sort

    ev = _stream_chunks(
        spark, ("ts", "5 seconds"), pre_filter=F.col("user_id") <= 20,
    )
    out = temporal_sort(
        ev.select("event_id", "user_id", "ts"),
        key_cols=["user_id"], ts_col="ts", tiebreak_cols=["event_id"],
    )
    got = run_to_memory(out, "append", "tsort_mb").toPandas()

    # model: emitted = rows with ts_ms <= final wm (max filtered ts − 5 s),
    # seq = per-user rank by (ts, event_id)
    pdf = pd.read_parquet(f"{SMOKE_SF_DIR}/events.parquet")
    pdf["ts"] = pd.to_datetime(pdf.ts)
    sub = pdf[pdf.user_id <= 20].copy()
    ts_ms = sub.ts.astype("datetime64[ns]").astype("int64") // 1_000_000
    wm = ts_ms.max() - 5000
    exp = sub[ts_ms <= wm].sort_values(["user_id", "ts", "event_id"])
    exp["seq"] = exp.groupby("user_id").cumcount() + 1
    assert len(got) == len(exp)
    mg = got[["event_id", "seq"]].merge(
        exp[["event_id", "seq"]], on="event_id", suffixes=("_got", "_exp")
    )
    assert len(mg) == len(exp)
    assert (mg.seq_got == mg.seq_exp).all()


def test_stream_cep_across_batches(spark):
    from flink_spark.operators.cep import Pattern, match_pattern
    from flink_spark.sources.tables import load_table
    from flink_spark.streaming.cep_stream import stream_match_pattern
    from flink_spark.streaming.core import run_to_memory

    pat = (
        Pattern.begin("A", lambda r: r["event_type"] == "click")
        .next("B", lambda r: r["event_type"] == "purchase")
        .within("30 minutes")
    )
    ev = _stream_chunks(spark, ("ts", "10 seconds"))
    m = stream_match_pattern(
        ev.select("user_id", "ts", "event_id", "event_type"),
        pat, key_cols=["user_id"], ts_col="ts", order_cols=["ts", "event_id"],
    )
    got = run_to_memory(m, "append", "cep_mb").toPandas()

    # batch reference restricted to closed windows at the final watermark
    batch = match_pattern(
        load_table(spark, SMOKE_SF_DIR, "events").select(
            "user_id", "ts", "event_id", "event_type"
        ),
        pat, key_cols=["user_id"], ts_col="ts", order_cols=["ts", "event_id"],
    ).toPandas()
    pdf = pd.read_parquet(f"{SMOKE_SF_DIR}/events.parquet")
    wm_ms = (pd.to_datetime(pdf.ts).astype("datetime64[ns]").astype("int64").max()
             // 1_000_000 - 10_000)
    batch_ts_us = (pd.to_datetime(batch.ts).astype("datetime64[ns]")
                   .astype("int64") // 1000)
    start_us = batch.groupby(["user_id", "match_id"]).ts.transform("min")
    start_us = (pd.to_datetime(start_us).astype("datetime64[ns]")
                .astype("int64") // 1000)
    closed = batch[start_us + 30 * 60 * 1_000_000 <= wm_ms * 1000]
    assert sorted(got.event_id.tolist()) == sorted(closed.event_id.tolist())
    assert len(got) > 0


class TestChangelogPtfs:
    """FROM_CHANGELOG / TO_CHANGELOG PTFs (reference changelog.md):
    defaults round-trip, FAIL vs SKIP error handling, ORDER BY reorder,
    upsert-shaped mapping validation."""

    def _cdc(self, spark):
        rows = [
            (1, "INSERT", "Alice"), (2, "INSERT", "Bob"),
            (1, "UPDATE_BEFORE", "Alice"), (1, "UPDATE_AFTER", "Alice2"),
            (2, "DELETE", "Bob"),
        ]
        return spark.createDataFrame(rows, "id INT, op STRING, name STRING")

    def test_defaults_round_trip(self, spark):
        from flink_spark.streaming.changelog_ptf import (
            from_changelog,
            to_changelog,
        )

        cl = from_changelog(self._cdc(spark))
        assert cl.columns == ["op", "id", "name"]
        assert sorted((r.op, r.id, r.name) for r in cl.collect()) == sorted([
            ("+I", 1, "Alice"), ("+I", 2, "Bob"), ("-U", 1, "Alice"),
            ("+U", 1, "Alice2"), ("-D", 2, "Bob"),
        ])
        back = to_changelog(cl)
        orig = sorted(map(tuple, self._cdc(spark).select(
            "op", "id", "name").collect()))
        assert sorted(map(tuple, back.collect())) == orig

    def test_fail_on_unmapped_code(self, spark):
        import pytest
        from py4j.protocol import Py4JJavaError

        from flink_spark.streaming.changelog_ptf import from_changelog

        bad = spark.createDataFrame(
            [(1, "weird", "x")], "id INT, op STRING, name STRING"
        )
        with pytest.raises(Exception, match="unmapped op code 'weird'"):
            try:
                from_changelog(bad).collect()
            except Py4JJavaError as e:  # surface the JVM message
                raise RuntimeError(str(e)) from e

    def test_skip_drops_unmapped_and_null(self, spark):
        from flink_spark.streaming.changelog_ptf import from_changelog

        rows = [(1, "c", "a"), (2, "zz", "b"), (3, None, "c")]
        df = spark.createDataFrame(rows, "id INT, op STRING, name STRING")
        out = from_changelog(
            df, op_mapping={"c": "INSERT"}, error_handling="SKIP"
        )
        assert [(r.op, r.id) for r in out.collect()] == [("+I", 1)]

    def test_partition_by_moves_keys_front(self, spark):
        from flink_spark.streaming.changelog_ptf import from_changelog

        df = spark.createDataFrame(
            [("n", 7, "INSERT", "d")], "name STRING, id INT, op STRING, doc STRING"
        )
        out = from_changelog(df, partition_by=["id"])
        assert out.columns == ["op", "id", "name", "doc"]

    def test_order_by_requires_partition_by(self, spark):
        import pytest

        from flink_spark.streaming.changelog_ptf import from_changelog

        with pytest.raises(ValueError, match="ORDER BY requires PARTITION"):
            from_changelog(self._cdc(spark), order_by=["id"])

    def test_duplicate_operation_rejected(self, spark):
        import pytest

        from flink_spark.streaming.changelog_ptf import from_changelog

        with pytest.raises(ValueError, match="mapped more than once"):
            from_changelog(
                self._cdc(spark),
                op_mapping={"c": "INSERT", "r": "INSERT"},
            )

    def test_to_changelog_partial_deletes_needs_keys(self, spark):
        import pytest

        from flink_spark.streaming.changelog_ptf import (
            from_changelog,
            to_changelog,
        )

        cl = from_changelog(self._cdc(spark))
        with pytest.raises(ValueError, match="requires\\s+PARTITION BY"):
            to_changelog(cl, produces_full_deletes=False)
        out = to_changelog(
            cl, partition_by=["id"], produces_full_deletes=False
        )
        dels = [r for r in out.collect() if r.op == "DELETE"]
        assert dels and all(r.name is None and r.id is not None for r in dels)

    def test_to_changelog_insert_only_input(self, spark):
        from flink_spark.streaming.changelog_ptf import to_changelog

        df = spark.createDataFrame([(1, "a")], "id INT, v STRING")
        out = to_changelog(df)
        assert out.columns == ["op", "id", "v"]
        assert out.collect()[0].op == "INSERT"
