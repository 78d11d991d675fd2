"""Streaming operator coverage (SURVEY §2.5, §2.7, §2.13, M2/M3): the same
operators as the batch windows suite, executed through Structured Streaming
(file source → watermark → stateful operator → AvailableNow drain → memory
sink), value-checked against DuckDB.

Because the input is bounded and the processors order rows by event time
(not arrival), every emitted row — including changelog op sequences — is
deterministic, so even the retraction operators get *exact* SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_spark.operators import windows as W
from flink_spark.queries.registry import query
from flink_spark.queries.util import DEC, dsum
from flink_spark.streaming import changelog as CL
from flink_spark.sources.tables import load_table
from flink_spark.streaming.core import ntz_windows, run_to_memory, stream_table


@query(
    "stream_tumble_agg",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumble_agg(spark, sf_dir):
    """Streaming TUMBLE agg (reference StreamExecWindowAggregate.java:92,
    WindowAggOperator.java:96 fire-and-purge): groups on the native window
    struct so append mode evicts each window from the state store the
    moment the watermark passes its end — state is bounded by the number
    of *open* windows, matching Flink. The closed-source sentinel plays
    the role of Flink's end-of-input MAX_WATERMARK so the drain flushes
    the tail windows."""
    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "1 minute"), closed=True
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return ntz_windows(run_to_memory(agg, "append", "tumble"),
                       "window_start", "window_end")


@query(
    "stream_hop_agg",
    oracle=f"""
    WITH k AS (SELECT unnest([0, 1]) AS i)
    SELECT time_bucket(INTERVAL '30 minutes', ts) - i * INTERVAL '30 minutes'
             AS window_start,
           time_bucket(INTERVAL '30 minutes', ts) - i * INTERVAL '30 minutes'
             + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN k
    GROUP BY 1, 2
    """,
)
def stream_hop_agg(spark, sf_dir):
    """Streaming HOP agg (slice sharing: SliceAssigners.java): Spark's
    expand node assigns each row its size/slide covering windows; grouping
    on the window struct keeps append-mode watermark eviction (each slide
    purged at watermark ≥ end, as WindowAggOperator.java:96 does)."""
    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "1 minute"), closed=True
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )
    return ntz_windows(run_to_memory(agg, "append", "hop"),
                       "window_start", "window_end")


@query(
    "stream_session_agg",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id <= 100
    ), numbered AS (
      SELECT *, SUM(new_session) OVER
                (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_session_agg(spark, sf_dir):
    """Streaming SESSION agg (merging assigner, reference
    .../groupwindow/assigners/): gap-merged per-key sessions."""
    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "1 minute"), closed=True
    ).filter(F.col("user_id") <= 100)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return ntz_windows(run_to_memory(agg, "append", "session"),
                       "session_start", "session_end")


@query(
    "stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
    """,
)
def stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (reference StreamExecIntervalJoin.java:86,
    TimeIntervalJoin.java:53): native Structured Streaming join — watermarks
    + the time-band condition bound state retention on both sides."""
    ev1 = stream_table(spark, sf_dir, "events", watermark=("ts", "1 hour"))
    ev2 = stream_table(spark, sf_dir, "events", watermark=("ts", "1 hour"))
    clicks = ev1.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev2.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
        "inner",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    return ntz_windows(run_to_memory(joined, "append", "ijoin"),
                       "click_ts", "purchase_ts")


@query(
    "stream_dedup_first",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT event_id, ts, user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def stream_dedup_first(spark, sf_dir):
    """Streaming keep-first dedup (reference StreamExecDeduplicate.java:94,
    RowTimeDeduplicateKeepFirstRow): first row per user by event time —
    deterministic, unlike arrival-order dropDuplicates. r9: runs the
    JVM-only foreachBatch plan (streaming/dedup_jvm.py — per-batch native
    window + anti-join against the seen-keys store; zero Python in the
    row path, retiring the 4.28× sf1 flag of the applyInPandasWithState
    path, which remains as stream_dedup_first_tws/_ttl)."""
    from flink_spark.streaming.dedup_jvm import dedup_keep_first_jvm

    ev = stream_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return dedup_keep_first_jvm(ev, ["user_id"], ["ts", "event_id"])


@query(
    "stream_changelog_normalize",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p_ts,
             LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p_eid,
             LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p_val
      FROM events WHERE user_id <= 200)
    SELECT '+I' AS op, user_id, ts, event_id, value FROM v WHERE rn = 1
    UNION ALL
    SELECT '-U', user_id, p_ts, p_eid, p_val FROM v WHERE rn > 1
    UNION ALL
    SELECT '+U', user_id, ts, event_id, value FROM v WHERE rn > 1
    """,
)
def stream_changelog_normalize(spark, sf_dir):
    """Changelog normalize (reference StreamExecChangelogNormalize.java:81):
    upsert stream keyed by user_id → retract stream. Each version emits the
    -U of its predecessor; the whole op sequence is deterministic (event-time
    ordering) so the oracle reconstructs it with LAG."""
    ev = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 200).select(
        "user_id", "ts", "event_id", "value"
    )
    out = CL.changelog_normalize(ev, ["user_id"], ["ts", "event_id"])
    return run_to_memory(out, "append", "cnorm")


@query(
    "stream_topn_changelog",
    oracle=f"""
    WITH agg AS (
      SELECT user_id, event_type, value, event_id FROM events
      WHERE user_id <= 200)
    SELECT '+I' AS op, rank, user_id, event_type, value, event_id FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                         ORDER BY value DESC, event_id) AS INT) AS rank
      FROM agg) t
    WHERE rank <= 5
    """,
)
def stream_topn_changelog(spark, sf_dir):
    """Streaming Top-N (reference StreamExecRank.java:93,
    RetractableTopNFunction.java:56): per event_type top-5 by value. On
    bounded single-batch input the emitted changelog is exactly the +I rows
    of the final ranking (rank shifts would add -U/+U pairs)."""
    ev = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 200).select(
        "user_id", "event_type", "value", "event_id"
    )
    out = CL.streaming_topn(
        ev, ["event_type"], ["value", "event_id"], n=5, ascending=[False, True]
    )
    return run_to_memory(out, "append", "topn")


@query(
    "stream_group_agg_retract",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             ROW_NUMBER() OVER w AS rn,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
                  AS BIGINT) AS run
      FROM events WHERE user_id <= 50
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT '+I' AS op, event_type, CAST(1 AS BIGINT) AS cnt, run AS total
    FROM v WHERE rn = 1
    UNION ALL
    SELECT '-U', event_type, rn - 1, run - cents FROM v WHERE rn > 1
    UNION ALL
    SELECT '+U', event_type, rn, run FROM v WHERE rn > 1
    """,
)
def stream_group_agg_retract(spark, sf_dir):
    """Retracting streaming group aggregation (reference
    StreamExecGroupAggregate.java / GroupAggFunction.java:140): per-key
    COUNT/SUM accumulators, each arriving row emitting +I or the
    -U(old)/+U(new) retraction pair of the AGGREGATE row — the operator
    the changelog layer previously only covered implicitly. Event-time
    processing order makes the full emission sequence deterministic, so
    the oracle reconstructs it with prefix sums (integer cents keep it
    exact)."""
    ev = stream_table(spark, sf_dir, "events").filter(
        F.col("user_id") <= 50
    ).select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        "ts", "event_id",
    )
    out = CL.group_agg_retract(ev, ["event_type"], "cents", ["ts", "event_id"])
    return run_to_memory(out, "append", "gaggr")


@query(
    "stream_group_agg_retract_ttl",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             LAG(ts) OVER w AS pts
      FROM events WHERE user_id <= 50
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
      SELECT *, SUM(CASE WHEN pts IS NULL OR ts - pts > INTERVAL 12 HOUR
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id) AS island
      FROM v
    ),
    r AS (
      SELECT user_id, cents,
             ROW_NUMBER() OVER wi AS rn,
             CAST(SUM(cents) OVER wi AS BIGINT) AS run
      FROM i
      WINDOW wi AS (PARTITION BY user_id, island ORDER BY ts, event_id)
    )
    SELECT '+I' AS op, user_id, CAST(1 AS BIGINT) AS cnt, run AS total
    FROM r WHERE rn = 1
    UNION ALL
    SELECT '-U', user_id, rn - 1, run - cents FROM r WHERE rn > 1
    UNION ALL
    SELECT '+U', user_id, rn, run FROM r WHERE rn > 1
    """,
)
def stream_group_agg_retract_ttl(spark, sf_dir):
    """Retracting group aggregation with state TTL (reference
    StateTtlConfig OnReadAndWrite on StreamExecGroupAggregate /
    `table.exec.state.ttl`): a >12h event-time quiet gap expires the
    key's accumulator SILENTLY (no retraction — Flink's TTL semantics)
    and the next row re-inserts with a restarted count. The oracle
    splits each key's timeline into TTL islands with LAG and replays the
    prefix-sum emission sequence per island — exact, like the dedup and
    Top-N TTL queries. Input arrives over three ts-ordered micro-batches,
    so accumulators and expiry cross batch boundaries."""
    from flink_spark.streaming.core import chunked_table_stream

    ev = chunked_table_stream(spark, sf_dir, "events", 3, "ts").filter(
        F.col("user_id") <= 50
    ).select(
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        "ts", "event_id",
    )
    out = CL.group_agg_retract(
        ev, ["user_id"], "cents", ["ts", "event_id"], ttl=("ts", "12 hours")
    )
    return run_to_memory(out, "append", "gaggrt")


@query(
    "stream_upsert_materialize",
    oracle=f"""
    SELECT user_id, ts, event_id, value FROM (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE user_id <= 200) t
    WHERE rn = 1
    """,
)
def stream_upsert_materialize(spark, sf_dir):
    """Changelog → upsert sink fold (reference StreamExecSink.java:137 upsert
    materialization): normalize to a retract stream, keep +I/+U, fold to the
    latest version per key — the foreachBatch MERGE pattern, batch-checked."""
    ev = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 200).select(
        "user_id", "ts", "event_id", "value"
    )
    cl = CL.changelog_normalize(ev, ["user_id"], ["ts", "event_id"])
    collected = run_to_memory(cl, "append", "upsert")
    return CL.materialize(collected, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "ts", "event_id", "value"
    )


@query(
    "stream_over_rows",
    oracle=f"""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS running_cnt,
           CAST(SUM(CAST(value AS {DEC})) OVER w AS DOUBLE) AS running_sum
    FROM events WHERE user_id <= 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def stream_over_rows(spark, sf_dir):
    """Streaming OVER aggregate (reference StreamExecOverAggregate.java:105,
    RowTimeRowsUnboundedPrecedingFunction): running count + exact sum per
    user through the real streaming path — keyed accumulator state carried
    across micro-batches (see streaming/overagg.py)."""
    from flink_spark.streaming.overagg import streaming_over_rows

    ev = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    out = streaming_over_rows(
        ev.select("event_id", "user_id", "ts", "value"),
        key_cols=["user_id"],
        seq_cols=["ts", "event_id"],
        value_col="value",
    )
    res = run_to_memory(out, "append", "over_rows")
    return ntz_windows(res, "ts").select(
        "event_id", "user_id", "ts", "running_cnt", "running_sum"
    )


@query(
    "ptf_event_gaps",
    oracle="""
    SELECT event_id, user_id, ts,
           date_diff('microsecond',
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_us
    FROM events WHERE user_id <= 40
    """,
)
def ptf_event_gaps(spark, sf_dir):
    """ProcessTableFunction (reference ProcessTableFunction.java, exec
    StreamExecProcessTableFunction): user stateful table-in/table-out —
    per-user gap since the previous event, the last-seen timestamp carried
    in keyed state across micro-batches. SQL-expressible as LAG, which is
    exactly what makes it oracle-checkable."""
    from flink_spark.functions.udf import ProcessTableFunction, apply_ptf

    class EventGaps(ProcessTableFunction):
        result_schema = (
            "event_id bigint, user_id bigint, ts timestamp, gap_us bigint"
        )

        def process(self, key, rows, state):
            import pandas as pd

            prev = state.get("prev_ts")
            gaps = []
            for ts in rows["ts"]:
                # exact integer microseconds (pandas ns // 1000) — matches
                # DuckDB date_diff('microsecond', ...) bit-for-bit
                gaps.append((ts - prev).value // 1000 if prev is not None else None)
                prev = ts
            state["prev_ts"] = prev
            return pd.DataFrame(
                {
                    "event_id": rows["event_id"].values,
                    "user_id": rows["user_id"].values,
                    "ts": rows["ts"].values,
                    "gap_us": gaps,
                }
            )

    ev = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 40)
    out = apply_ptf(
        ev.select("event_id", "user_id", "ts"),
        EventGaps(),
        key_cols=["user_id"],
        seq_cols=["ts", "event_id"],
    )
    res = run_to_memory(out, "append", "ptf_gaps")
    return ntz_windows(res, "ts").select("event_id", "user_id", "ts", "gap_us")


@query(
    "stream_temporal_sort",
    oracle="""
    WITH m AS (SELECT MAX(epoch_us(ts)) // 1000 - 5000 AS wm
               FROM events WHERE user_id <= 20)
    SELECT event_id, user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM events, m
    WHERE user_id <= 20 AND epoch_us(ts) // 1000 <= wm
    """,
)
def stream_temporal_sort(spark, sf_dir):
    """Streaming temporal sort (reference StreamExecTemporalSort.java,
    RowTimeSortOperator.java): per-user event-time ordering with rows held
    until the watermark passes them; ``seq`` is the per-key emission index,
    which equals ROW_NUMBER over (ts, event_id) on the emitted subset.
    Rows inside the final 5 s watermark horizon stay buffered at stream
    end — the oracle applies the same cutoff (max ts − delay in watermark
    ms units, over the *filtered* subset: Catalyst pushes the user_id
    filter below the EventTimeWatermark node, so the watermark tracks the
    filtered stream's max event time)."""
    from flink_spark.streaming.temporal_sort import temporal_sort

    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "5 seconds"))
    out = temporal_sort(
        ev.select("event_id", "user_id", "ts", "value").filter(
            F.col("user_id") <= 20
        ),
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    res = run_to_memory(out, "append", "tsort")
    return ntz_windows(res, "ts")


@query(
    "stream_late_side_output",
    oracle="""
    WITH r AS (SELECT user_id, event_id, ts,
                      ROW_NUMBER() OVER (ORDER BY md5(CAST(event_id AS VARCHAR)))
                        - 1 AS rn,
                      COUNT(*) OVER () AS n
               FROM events),
    c AS (SELECT user_id, event_id, ts,
                 CAST(rn >= 1 * n // 4 AS INT) + CAST(rn >= 2 * n // 4 AS INT)
                   + CAST(rn >= 3 * n // 4 AS INT) AS chunk
          FROM r),
    cm AS (SELECT chunk, MAX(ts) AS mx FROM c GROUP BY chunk),
    pv AS (SELECT chunk, MAX(mx) OVER (ORDER BY chunk
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev
           FROM cm)
    SELECT c.user_id, c.event_id, c.ts
    FROM c JOIN pv USING (chunk)
    WHERE pv.max_prev IS NOT NULL
      AND c.ts < pv.max_prev - INTERVAL 10 MINUTE
    """,
)
def stream_late_side_output(spark, sf_dir):
    """Late-data SIDE OUTPUT (reference WindowOperator.java:102
    sideOutput(lateDataOutputTag), OutputTag.java:47 — Flink's channel
    for rows behind the watermark, which Spark only DROPS): events arrive
    md5-shuffled (deterministic, uncorrelated with event time) over four
    micro-batches; each batch's rows older than the watermark frozen at
    batch start (max prior event time − 10 min) land on the late channel.
    The oracle reproduces the exact chunk assignment (same md5 order,
    same ¼ splits) and the per-chunk running-max watermark in SQL."""
    from flink_spark.streaming.core import chunked_table_stream, side_output_late

    ev = chunked_table_stream(
        spark, sf_dir, "events", 4, "event_id", order_hash=True
    ).select("user_id", "event_id", "ts")
    _on_time, late = side_output_late(ev, "ts", "10 minutes")
    return late.select("user_id", "event_id", "ts")


@query(
    "stream_cep_timeout",
    oracle="""
    WITH m AS (SELECT MAX(epoch_us(ts)) // 1000 AS mx FROM events)
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
    FROM events c, m
    WHERE c.event_type = 'click' AND c.user_id <= 300
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND p.user_id <= 300
          AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
          AND p.ts <= c.ts + INTERVAL '30 minutes')
      AND epoch_us(c.ts) + 1800000000 <= (m.mx - 10000) * 1000
    """,
)
def stream_cep_timeout(spark, sf_dir):
    """STREAMING timeout / absence pattern — click notFollowedBy(purchase)
    WITHIN 30m through Structured Streaming (reference CepOperator
    watermark timers + TimedOutPartialMatchHandler; Pattern.java:336
    trailing ``notFollowedBy`` requires a window). The absence of B is
    decidable only once the watermark proves the 30-minute window closed
    with no purchase inside it — the NFA emits the timeout match exactly
    then, never early (a purchase arriving late-but-in-window kills the
    pending match first). Oracle: the NOT-EXISTS closed form restricted
    to windows closed by the final watermark."""
    from flink_spark.operators.cep import Pattern
    from flink_spark.streaming.cep_stream import stream_match_pattern

    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "10 seconds")
    ).filter(F.col("user_id") <= 300)
    pat = (
        Pattern.begin("A", lambda r: r["event_type"] == "click")
        .not_followed_by("NP", lambda r: r["event_type"] == "purchase")
        .within("30 minutes")
    )
    m = stream_match_pattern(
        ev.select("user_id", "ts", "event_id", "event_type"),
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
    )
    res = run_to_memory(m, "append", "cep_stream_timeout")
    return res.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )


@query(
    "stream_cep_click_purchase",
    oracle="""
    WITH m AS (SELECT MAX(epoch_us(ts)) // 1000 AS mx FROM events),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             LEAD(event_type) OVER w AS nxt_type,
             LEAD(ts) OVER w AS nxt_ts,
             LEAD(event_id) OVER w AS nxt_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id AS click_id, nxt_id AS purchase_id,
           ts AS click_ts, nxt_ts AS purchase_ts
    FROM s, m
    WHERE event_type = 'click' AND nxt_type = 'purchase'
      AND nxt_ts <= ts + INTERVAL '30 minutes'
      AND epoch_us(ts) + 1800000000 <= (mx - 10000) * 1000
    """,
)
def stream_cep_click_purchase(spark, sf_dir):
    """Streaming CEP (reference CepOperator watermark timers): the
    click→purchase adjacency pattern through Structured Streaming — NFA
    run incrementally per user, matches emitted once the 30-minute match
    window is provably closed by the watermark (10 s delay). The oracle is
    the batch LEAD formulation restricted to the same closed-window cutoff
    (click_ts + 30 min ≤ final watermark)."""
    from flink_spark.operators.cep import Pattern
    from flink_spark.streaming.cep_stream import stream_match_pattern

    ev = stream_table(spark, sf_dir, "events", watermark=("ts", "10 seconds"))
    pat = (
        Pattern.begin("A", lambda r: r["event_type"] == "click")
        .next("B", lambda r: r["event_type"] == "purchase")
        .within("30 minutes")
    )
    m = stream_match_pattern(
        ev.select("user_id", "ts", "event_id", "event_type"),
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
    )
    res = run_to_memory(m, "append", "cep_stream")
    agg = (
        res.groupBy("user_id", "match_id")
        .agg(
            F.max(F.when(F.col("var") == "A", F.col("event_id"))).alias("click_id"),
            F.max(F.when(F.col("var") == "B", F.col("event_id"))).alias("purchase_id"),
            F.max(F.when(F.col("var") == "A", F.col("ts"))).alias("click_ts"),
            F.max(F.when(F.col("var") == "B", F.col("ts"))).alias("purchase_ts"),
        )
        .select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    )
    return ntz_windows(agg, "click_ts", "purchase_ts")


@query(
    "stream_multiway_join",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id,
           p.event_id AS purchase_id, v.user_id,
           v.ts AS view_ts, c.ts AS click_ts, p.ts AS purchase_ts
    FROM events v
    JOIN events c
      ON c.user_id = v.user_id AND v.event_type = 'view'
     AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '6 hours'
    JOIN events p
      ON p.user_id = v.user_id AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '6 hours'
    """,
)
def stream_multiway_join(spark, sf_dir):
    """Multi-way streaming join (reference StreamExecMultiJoin /
    FLIP-516 — n-way streaming join without intermediate-state blowup):
    Spark expresses it as chained stream-stream interval joins; the time
    bands bound each pairwise state store exactly as the two-way case,
    so the chain's state is the sum of the pairwise states, not a
    product. view→click→purchase funnel within 6-hour hops."""
    v = stream_table(spark, sf_dir, "events", watermark=("ts", "1 hour"))
    c = stream_table(spark, sf_dir, "events", watermark=("ts", "1 hour"))
    p = stream_table(spark, sf_dir, "events", watermark=("ts", "1 hour"))
    views = v.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = c.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = p.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    vc = views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 6 hours")),
        "inner",
    )
    # a stream may carry at most ONE event-time column into the next
    # stateful operator: demote view_ts to a plain value (alias-of-cast
    # drops the watermark metadata) and keep click_ts as the event time
    vc = vc.select(
        "view_id", "click_id", "user_id", "click_ts",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
    )
    vcp = vc.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 6 hours")),
        "inner",
    ).select(
        "view_id", "click_id", "purchase_id", "user_id",
        "view_ts", "click_ts", "purchase_ts",
    )
    return ntz_windows(run_to_memory(vcp, "append", "mwjoin"),
                       "view_ts", "click_ts", "purchase_ts")


@query(
    "stream_static_lookup_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, e.value,
           c.c_name, n.n_name AS nation
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_lookup_join(spark, sf_dir):
    """Stream-static (lookup) join — reference StreamExecLookupJoin.java /
    FLIP-486 delta join's no-state pattern: the streaming side probes a
    bounded dimension re-read per micro-batch; no stream state at all, and
    Spark broadcasts the dim when it fits. Enriches purchase events with
    customer + nation."""
    ev = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        "c_custkey", "c_name", F.col("n_name").alias("nation")
    )
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey).select(
        "event_id", "user_id", "ts", "value", "c_name", "nation"
    )
    return run_to_memory(joined, "append", "slookup")


@query(
    "stream_coprocess_threshold",
    oracle="""
    WITH c AS (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, event_id, value FROM events
          WHERE event_type = 'purchase'),
    mx AS (SELECT p.event_id,
                  MAX(c.value) AS max_click
           FROM p JOIN c
             ON c.user_id = p.user_id
            AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
           GROUP BY p.event_id)
    SELECT p.user_id, p.event_id, p.ts, p.value
    FROM p JOIN mx ON mx.event_id = p.event_id
    WHERE p.value > mx.max_click
    """,
)
def stream_coprocess_threshold(spark, sf_dir):
    """Co-process / connected streams (reference CoProcessFunction,
    DataStream.connect): clicks and purchases of the same user flow into
    one keyed two-input processor; a purchase is emitted when its value
    exceeds the max click value seen earlier in event time. The running
    max is keyed state carried across micro-batches."""
    from flink_spark.streaming.coprocess import co_process

    ev = stream_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts", "event_id", "value")

    def fn(key, clicks_pdf, purchases_pdf, state):
        import pandas as pd

        mx = state.get("mx")
        rows = []
        merged = []
        for _, r in clicks_pdf.iterrows():
            merged.append((r["ts"], r["event_id"], "c", r["value"]))
        for _, r in purchases_pdf.iterrows():
            merged.append((r["ts"], r["event_id"], "p", r["value"]))
        merged.sort(key=lambda t: (t[0], t[1]))
        for ts, eid, side, val in merged:
            if side == "c":
                mx = val if mx is None else max(mx, val)
            elif mx is not None and val > mx:
                rows.append((key[0], eid, ts, val))
        state["mx"] = mx
        if not rows:
            return None
        return pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts", "value"]
        )

    out = co_process(
        clicks, purchases,
        key_cols=["user_id"],
        fn=fn,
        out_schema="user_id bigint, event_id bigint, ts timestamp_ntz, value double",
        left_seq=["ts", "event_id"],
        right_seq=["ts", "event_id"],
    )
    return run_to_memory(out, "append", "coproc")


@query(
    "stream_cumulate_agg",
    oracle=f"""
    WITH base AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, ts, value FROM events
    ), k AS (SELECT unnest([1, 2, 3, 4]) AS i)
    SELECT ws AS window_start,
           ws + i * INTERVAL '15 minutes' AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_value
    FROM base CROSS JOIN k
    WHERE ts < ws + i * INTERVAL '15 minutes'
    GROUP BY 1, 2
    """,
)
def stream_cumulate_agg(spark, sf_dir):
    """Streaming CUMULATE agg (reference CumulativeWindowAssigner,
    SliceAssigners.java cumulate slices): the expanding-window explode
    emits an event-time-tagged window struct (W.cumulate_stream), so the
    append-mode aggregation purges each expanding window at watermark ≥
    window.end — fire-and-purge, bounded state, Flink semantics."""
    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "1 minute"), closed=True
    )
    agg = (
        W.cumulate_stream(ev, "ts", step="15 minutes", size="1 hour",
                          delay="1 minute")
        .groupBy("window")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )
    return ntz_windows(run_to_memory(agg, "append", "cumulate"),
                       "window_start", "window_end")


@query(
    "stream_over_rows_bounded",
    oracle=f"""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS frame_cnt,
           CAST(SUM(CAST(value AS {DEC})) OVER w AS DOUBLE) AS frame_sum
    FROM events WHERE user_id <= 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def stream_over_rows_bounded(spark, sf_dir):
    """Streaming bounded-frame OVER agg (reference
    RowTimeRowsBoundedPrecedingFunction): sliding 4-row sum/count per
    user through keyed state that retains only the frame."""
    from flink_spark.streaming.overagg import streaming_over_rows_bounded

    ev = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    out = streaming_over_rows_bounded(
        ev.select("event_id", "user_id", "ts", "value"),
        key_cols=["user_id"],
        seq_cols=["ts", "event_id"],
        value_col="value",
        n_preceding=3,
    )
    res = run_to_memory(out, "append", "over_bounded")
    return ntz_windows(res, "ts").select(
        "event_id", "user_id", "ts", "frame_cnt", "frame_sum"
    )


@query(
    "stream_over_range_bounded",
    oracle=f"""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS frame_cnt,
           CAST(SUM(CAST(value AS {DEC})) OVER w AS DOUBLE) AS frame_sum
    FROM events WHERE user_id <= 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '2 hours' PRECEDING AND CURRENT ROW)
    """,
)
def stream_over_range_bounded(spark, sf_dir):
    """Streaming RANGE-bounded OVER agg (reference
    RowTimeRangeBoundedPrecedingFunction): per-user 2-hour sliding
    sum/count; keyed state holds only the rows inside the horizon."""
    from flink_spark.streaming.overagg import streaming_over_range_bounded

    ev = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    out = streaming_over_range_bounded(
        ev.select("event_id", "user_id", "ts", "value"),
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_cols=["event_id"],
        value_col="value",
        preceding="2 hours",
    )
    res = run_to_memory(out, "append", "over_range")
    return ntz_windows(res, "ts").select(
        "event_id", "user_id", "ts", "frame_cnt", "frame_sum"
    )


@query(
    "cdc_debezium_materialize",
    oracle="""
    WITH e AS (SELECT user_id, ts, event_id, value FROM events
               WHERE user_id <= 100),
    last AS (SELECT user_id, event_id, value,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
             FROM e)
    SELECT user_id, event_id, value
    FROM last WHERE rn = 1 AND user_id % 10 <> 0
    """,
)
def cdc_debezium_materialize(spark, sf_dir):
    """CDC ingestion end-to-end (reference flink-formats/flink-json
    debezium-json, DebeziumJsonDeserializationSchema): each user's event
    history is encoded as Debezium envelopes (first=c, rest=u with
    before/after, every 10th user ends with d), decoded back into
    +I/-U/+U/-D changelog rows, and folded to the final row per key —
    deleted keys absent, survivors hold their last payload."""
    from pyspark.sql import Window

    from flink_spark.streaming.cdc import decode_debezium

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w)
    payload = lambda seq: F.struct(  # noqa: E731
        F.col("user_id"), seq.alias("seq_no"), F.col("event_id"), F.col("value")
    )
    base = ev.select(
        "user_id", "ts", "event_id", "value", rn.alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("n"),
    )
    rows_env = base.select(
        F.to_json(
            F.struct(
                F.when(F.col("rn") == 1, "c").otherwise("u").alias("op"),
                F.when(F.col("rn") > 1,
                       F.lag(payload(F.col("rn"))).over(
                           Window.partitionBy("user_id").orderBy("ts", "event_id")
                       )).alias("before"),
                payload(F.col("rn")).alias("after"),
            )
        ).alias("envelope")
    )
    del_env = (
        base.filter((F.col("rn") == F.col("n")) & (F.col("user_id") % 10 == 0))
        .select(
            F.to_json(
                F.struct(
                    F.lit("d").alias("op"),
                    payload(F.col("rn") + 1).alias("before"),
                    F.lit(None).cast(
                        "struct<user_id:bigint,seq_no:int,event_id:bigint,value:double>"
                    ).alias("after"),
                )
            ).alias("envelope")
        )
    )
    envelopes = rows_env.unionByName(del_env)
    changelog = decode_debezium(
        envelopes, "envelope",
        "user_id bigint, seq_no int, event_id bigint, value double",
    )
    final = CL.materialize(changelog, ["user_id"], ["seq_no"])
    return final.select("user_id", "event_id", "value")


@query(
    "cdc_ogg_materialize",
    oracle="""
    WITH e AS (SELECT user_id, ts, event_id, value FROM events
               WHERE user_id BETWEEN 101 AND 200),
    last AS (SELECT user_id, event_id, value,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
             FROM e)
    SELECT user_id, event_id, value
    FROM last WHERE rn = 1 AND user_id % 10 <> 0
    """,
)
def cdc_ogg_materialize(spark, sf_dir):
    """ogg-json CDC end-to-end (reference flink-formats/flink-json
    ogg-json, OggJsonDeserializationSchema): the same history→envelope→
    changelog→materialize circuit as the debezium query, through the
    GoldenGate op_type I/U/D envelope shape — proving the decoder feeds
    the identical downstream changelog machinery."""
    from pyspark.sql import Window

    from flink_spark.streaming.cdc import decode_ogg

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").between(101, 200)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w)
    payload = lambda seq: F.struct(  # noqa: E731
        F.col("user_id"), seq.alias("seq_no"), F.col("event_id"), F.col("value")
    )
    base = ev.select(
        "user_id", "ts", "event_id", "value", rn.alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("n"),
    )
    rows_env = base.select(
        F.to_json(
            F.struct(
                F.when(F.col("rn") == 1, "I").otherwise("U").alias("op_type"),
                F.when(F.col("rn") > 1,
                       F.lag(payload(F.col("rn"))).over(
                           Window.partitionBy("user_id").orderBy("ts", "event_id")
                       )).alias("before"),
                payload(F.col("rn")).alias("after"),
            )
        ).alias("envelope")
    )
    del_env = (
        base.filter((F.col("rn") == F.col("n")) & (F.col("user_id") % 10 == 0))
        .select(
            F.to_json(
                F.struct(
                    F.lit("D").alias("op_type"),
                    payload(F.col("rn") + 1).alias("before"),
                    F.lit(None).cast(
                        "struct<user_id:bigint,seq_no:int,event_id:bigint,value:double>"
                    ).alias("after"),
                )
            ).alias("envelope")
        )
    )
    envelopes = rows_env.unionByName(del_env)
    changelog = decode_ogg(
        envelopes, "envelope",
        "user_id bigint, seq_no int, event_id bigint, value double",
    )
    final = CL.materialize(changelog, ["user_id"], ["seq_no"])
    return final.select("user_id", "event_id", "value")


@query(
    "stream_window_join",
    oracle="""
    WITH c AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS window_start,
                      event_id AS click_id
               FROM events WHERE event_type = 'click' AND user_id <= 300),
         p AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS window_start,
                      event_id AS purchase_id
               FROM events WHERE event_type = 'purchase' AND user_id <= 300)
    SELECT c.user_id, c.window_start,
           c.window_start + INTERVAL '1 hour' AS window_end,
           c.click_id, p.purchase_id
    FROM c JOIN p USING (user_id, window_start)
    """,
)
def stream_window_join(spark, sf_dir):
    """Streaming window join (reference StreamExecWindowJoin.java:70):
    both streams windowed first, joined on the window STRUCT + user key —
    Spark's documented stream-stream window-join shape, where the
    event-time window in the join key is what lets the watermark evict
    pairwise state window-by-window."""
    ev1 = stream_table(spark, sf_dir, "events", watermark=("ts", "1 hour"))
    ev2 = stream_table(spark, sf_dir, "events", watermark=("ts", "1 hour"))
    clicks = ev1.filter(
        (F.col("event_type") == "click") & (F.col("user_id") <= 300)
    ).select(
        F.window("ts", "1 hour").alias("w"), "user_id",
        F.col("event_id").alias("click_id"),
    )
    purchases = ev2.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") <= 300)
    ).select(
        F.window("ts", "1 hour").alias("pw"),
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
    )
    joined = clicks.join(
        purchases,
        (F.col("w") == F.col("pw")) & (F.col("user_id") == F.col("p_user_id")),
        "inner",
    ).select(
        "user_id",
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "click_id", "purchase_id",
    )
    return ntz_windows(
        run_to_memory(joined, "append", "wjoin"), "window_start", "window_end"
    )


@query(
    "stream_interval_join_left",
    oracle="""
    WITH m AS (SELECT MAX(epoch_us(ts)) // 1000 - 10000 AS wm FROM events),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
          WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
          FROM events WHERE event_type = 'purchase')
    SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL '30 minutes'
    CROSS JOIN m
    WHERE p.purchase_id IS NOT NULL
       OR epoch_us(c.click_ts + INTERVAL '30 minutes') // 1000 <= m.wm
    """,
)
def stream_interval_join_left(spark, sf_dir):
    """LEFT OUTER stream-stream interval join (reference
    StreamExecIntervalJoin outer variants, TimeIntervalJoin.java): matched
    pairs emit immediately; an unmatched click emits its null row only
    once the watermark proves no purchase can still arrive (the state
    eviction point). The oracle applies the same cutoff: null rows only
    for clicks whose whole join window is below the final watermark."""
    ev1 = stream_table(spark, sf_dir, "events", watermark=("ts", "10 seconds"))
    ev2 = stream_table(spark, sf_dir, "events", watermark=("ts", "10 seconds"))
    clicks = ev1.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev2.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    return ntz_windows(run_to_memory(joined, "append", "lojoin"),
                       "click_ts", "purchase_ts")


@query(
    "stream_drop_update_before",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id <= 200)
    SELECT '+I' AS op, user_id, ts, event_id, value FROM v WHERE rn = 1
    UNION ALL
    SELECT '+U', user_id, ts, event_id, value FROM v WHERE rn > 1
    """,
)
def stream_drop_update_before(spark, sf_dir):
    """Drop update-before (reference StreamExecDropUpdateBefore,
    DropUpdateBeforeFunction.java): strips -U rows from a retract stream
    for upsert-capable sinks — the retract stream minus its -U images."""
    ev = stream_table(spark, sf_dir, "events").filter(F.col("user_id") <= 200).select(
        "user_id", "ts", "event_id", "value"
    )
    out = CL.drop_update_before(
        CL.changelog_normalize(ev, ["user_id"], ["ts", "event_id"])
    )
    return run_to_memory(out, "append", "dropub")


@query(
    "stream_dedup_first_ttl",
    oracle="""
    SELECT event_id, ts, user_id, value FROM (
      SELECT event_id, ts, user_id, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p_ts
      FROM events WHERE user_id <= 100) t
    WHERE p_ts IS NULL OR ts - p_ts > INTERVAL '6 hours'
    """,
)
def stream_dedup_first_ttl(spark, sf_dir):
    """Keep-first dedup with 6-hour state TTL (reference StateTtlConfig
    OnReadAndWrite + table.exec.state.ttl): a user's first event emits,
    later events refresh the state silently, and after a 6-hour quiet gap
    the next event re-emits as a fresh first. Input arrives over three
    ts-ordered micro-batches, so the state and expiry cross batch
    boundaries."""
    from flink_spark.streaming.core import chunked_table_stream

    ev = chunked_table_stream(spark, sf_dir, "events", 3, "ts").filter(
        F.col("user_id") <= 100
    ).select("event_id", "ts", "user_id", "value")
    out = CL.dedup_keep_first(
        ev, ["user_id"], ["ts", "event_id"], ttl=("ts", "6 hours")
    )
    return run_to_memory(out, "append", "dedupttl")


@query(
    "stream_session_dynamic_gap",
    oracle=f"""
    WITH e AS (SELECT user_id, ts, value,
                      CASE WHEN event_type = 'error' THEN INTERVAL '10 minutes'
                           ELSE INTERVAL '30 minutes' END AS gap
               FROM events WHERE user_id <= 100),
    m AS (SELECT *, MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS prev_end FROM e),
    f AS (SELECT *, CASE WHEN prev_end IS NULL OR ts >= prev_end
                         THEN 1 ELSE 0 END AS new_s FROM m),
    n AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS sid FROM f)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts + gap) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_value
    FROM n GROUP BY user_id, sid
    """,
)
def stream_session_dynamic_gap(spark, sf_dir):
    """Dynamic session gap (reference session gap extractor,
    SessionWindowTimeGapExtractor): each event carries its own gap —
    error events close after 10 minutes, others after 30 — and sessions
    merge while the intervals [ts, ts+gap) overlap. The oracle replays
    the merge with a running MAX(ts+gap) interval-union."""
    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "1 minute"), closed=True
    ).filter(F.col("user_id") <= 100)
    # session_window's per-row gap must be CalendarIntervalType: a
    # duration-string column satisfies it (cast internally)
    gap = F.when(
        F.col("event_type") == "error", F.lit("10 minutes")
    ).otherwise(F.lit("30 minutes"))
    agg = (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return ntz_windows(run_to_memory(agg, "append", "dynsession"),
                       "session_start", "session_end")


@query(
    "stream_temporal_sort_ttl",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL '6 hours'
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM events WHERE user_id <= 20),
    isl AS (
      SELECT *, SUM(new_island) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS island
      FROM s)
    SELECT event_id, user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, island
                              ORDER BY ts, event_id) AS seq
    FROM isl
    """,
)
def stream_temporal_sort_ttl(spark, sf_dir):
    """Temporal sort with state TTL (reference StateTtlConfig /
    `table.exec.state.ttl` on StreamExecTemporalSort): the per-key seq
    counter expires after a 6-hour event-time quiet gap — the next row
    restarts at seq=1 — and the idle key's state row is deleted by an
    event-time timer, so keys seen once don't occupy the store forever.
    Expiry is defined on event-time gaps (arrival-independent), which is
    what makes the LAG-islands oracle exact; the closed drain emits every
    row."""
    from flink_spark.streaming.temporal_sort import temporal_sort

    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "5 seconds"), closed=True
    )
    out = temporal_sort(
        ev.select("event_id", "user_id", "ts", "value").filter(
            F.col("user_id") <= 20
        ),
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_cols=["event_id"],
        state_ttl="6 hours",
    )
    res = run_to_memory(out, "append", "tsort_ttl")
    return ntz_windows(res, "ts")


@query(
    "stream_cep_ttl",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             LEAD(event_type) OVER w AS nxt_type,
             LEAD(ts) OVER w AS nxt_ts,
             LEAD(event_id) OVER w AS nxt_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL '6 hours'
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_island
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    isl AS (
      SELECT *, SUM(new_island) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS island
      FROM s),
    pairs AS (
      SELECT user_id, island, ts, event_id AS click_id, nxt_id AS purchase_id
      FROM isl
      WHERE event_type = 'click' AND nxt_type = 'purchase'
        AND nxt_ts <= ts + INTERVAL '30 minutes')
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, island
                              ORDER BY ts, click_id) AS match_id,
           click_id, purchase_id
    FROM pairs
    """,
)
def stream_cep_ttl(spark, sf_dir):
    """Streaming CEP with state TTL (reference StateTtlConfig on
    StreamExecMatch): match numbering restarts after a 6-hour event-time
    quiet gap and the idle key's NFA state row is timer-deleted. A match
    (within 30 min) can never span a TTL gap, so the oracle re-numbers
    the LEAD-pairs within LAG-islands. The closed drain decides every
    match window."""
    from flink_spark.operators.cep import Pattern
    from flink_spark.streaming.cep_stream import stream_match_pattern

    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "10 seconds"), closed=True
    )
    pat = (
        Pattern.begin("A", lambda r: r["event_type"] == "click")
        .next("B", lambda r: r["event_type"] == "purchase")
        .within("30 minutes")
    )
    m = stream_match_pattern(
        ev.select("user_id", "ts", "event_id", "event_type"),
        pat,
        key_cols=["user_id"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
        state_ttl="6 hours",
    )
    res = run_to_memory(m, "append", "cep_ttl")
    # (user_id, match_id) is NOT unique across TTL resets — numbering
    # restarts per island — so pair each A with its adjacent B row in the
    # matched-rows relation instead of grouping by match_id.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        res.withColumn("purchase_id", F.lead("event_id").over(w))
        .filter(F.col("var") == "A")
        .select(
            "user_id",
            F.col("match_id").cast("bigint").alias("match_id"),
            F.col("event_id").alias("click_id"),
            "purchase_id",
        )
    )


@query(
    "stream_session_window_join",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events
      WHERE user_id <= 100 AND event_type IN ('click', 'error')
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM base),
    sessions AS (
      SELECT user_id, sid, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL '30 minutes' AS session_end
      FROM numbered GROUP BY user_id, sid)
    SELECT s.user_id, s.session_start, s.session_end,
           c.event_id AS click_id, e.event_id AS error_id
    FROM sessions s
    JOIN numbered c ON c.user_id = s.user_id AND c.sid = s.sid
                   AND c.event_type = 'click'
    JOIN numbered e ON e.user_id = s.user_id AND e.sid = s.sid
                   AND e.event_type = 'error'
    """,
)
def stream_session_window_join(spark, sf_dir):
    """Fully streaming session-window join (reference session window join,
    WindowJoinOperator.java with merging session assigner): Flink
    sessionizes the UNION of both inputs — elements of either side merge
    the same session — then pairs left×right within each session. Spark
    lowering: one native session_window aggregation over the tagged union
    (append mode, watermark-evicted — the only stateful operator),
    collecting per-side element lists; the pair expansion is a stateless
    explode of the emitted final sessions. State is bounded by open
    sessions; the cross product runs per-session on closed output."""
    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "1 minute"), closed=True
    ).filter(
        (F.col("user_id") <= 100) & F.col("event_type").isin("click", "error")
    )
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("event_id"))
            ).alias("clicks"),
            F.collect_list(
                F.when(F.col("event_type") == "error", F.col("event_id"))
            ).alias("errors"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "clicks",
            "errors",
        )
    )
    sessions = run_to_memory(agg, "append", "sessjoin")
    pairs = (
        sessions.withColumn("click_id", F.explode("clicks"))
        .withColumn("error_id", F.explode("errors"))
        .select(
            "user_id", "session_start", "session_end", "click_id", "error_id"
        )
    )
    return ntz_windows(pairs, "session_start", "session_end")


@query(
    "stream_delta_join",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority,
           l_linenumber, l_quantity, l_extendedprice
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '1-URGENT' AND l_quantity > 40
    """,
)
def stream_delta_join(spark, sf_dir):
    """Delta join (FLIP-486; reference StreamingDeltaJoinOperator.java,
    planner StreamExecDeltaJoin): a streaming equi-join whose state is the
    *stored side tables themselves*, not twin operator state stores. Each
    micro-batch joins only its deltas against the compacted opposite side
    (ΔL ⋈ R ∪ L ⋈ ΔR), so every orders×lineitem pair is produced exactly
    once across arbitrary batch placements — both inputs arrive chunked
    over two micro-batches here to prove the cross-batch algebra. Store
    tables are key-hash-bucket partitioned (the parquet analog of the
    reference's source-index lookup)."""
    from flink_spark.streaming.core import chunked_table_stream
    from flink_spark.streaming.deltajoin import delta_join, tag_union

    o = chunked_table_stream(spark, sf_dir, "orders", 2, "o_orderkey").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = chunked_table_stream(spark, sf_dir, "lineitem", 2, "l_orderkey").filter(
        F.col("l_quantity") > 40
    )
    left_cols = ["o_orderkey", "o_custkey", "o_orderpriority"]
    right_cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    tagged = tag_union(o.select(*left_cols), li.select(*right_cols),
                       left_cols, right_cols)
    joined = delta_join(
        tagged, left_cols, right_cols,
        left_keys=["o_orderkey"], right_keys=["l_orderkey"],
    )
    return joined.select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        "l_linenumber", "l_quantity", "l_extendedprice",
    )


@query(
    "stream_topn_ttl",
    oracle="""
    WITH e AS (SELECT event_type, event_id, value, ts FROM events
               WHERE user_id <= 20),
    g AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 28800
                         THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    i AS (SELECT *, SUM(brk) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS island
          FROM g),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, island
                      ORDER BY value DESC, event_id) AS rn
          FROM i)
    SELECT event_type, event_id, value, ts FROM r WHERE rn <= 5
    """,
)
def stream_topn_ttl(spark, sf_dir):
    """Streaming Top-N with state TTL (reference StateTtlConfig on
    StreamExecRank, `table.exec.state.ttl`): an event-time quiet gap
    > 8h expires a partition's leaderboard silently (no retractions,
    as in Flink's TTL expiry), so the materialized changelog equals the
    union over TTL islands of each island's final top-5. The oracle computes
    exactly that closed form (gap → island → per-island ROW_NUMBER);
    input arrives over three micro-batches so boards and expiry cross
    batch boundaries."""
    from flink_spark.streaming.core import chunked_table_stream

    ev = (
        chunked_table_stream(spark, sf_dir, "events", 3, "ts")
        .filter(F.col("user_id") <= 20)
        .select("event_type", "event_id", "value", "ts")
    )
    cl = CL.streaming_topn(
        ev,
        partition_cols=["event_type"],
        order_cols=["value", "event_id"],
        n=5,
        ascending=[False, True],
        ttl=("ts", "8 hours"),
    )
    res = run_to_memory(cl, "append", "topn_ttl")
    member = F.sum(
        F.when(F.col("op").isin("+I", "+U"), 1)
        .when(F.col("op").isin("-U", "-D"), -1)
        .otherwise(0)
    )
    return (
        res.groupBy("event_type", "event_id", "value", "ts")
        .agg(member.alias("m"))
        .filter(F.col("m") == 1)
        .drop("m")
    )


@query(
    "stream_delta_join_ttl",
    oracle="""
    SELECT c.user_id AS user_id,
           c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND c.user_id <= 100
      AND abs(epoch(c.ts) - epoch(p.ts)) <= 3600
    """,
)
def stream_delta_join_ttl(spark, sf_dir):
    """Delta join with state TTL (reference StreamingDeltaJoinOperator +
    `table.exec.state.ttl`): store rows older than the batch's event-time
    low-water mark minus the TTL are skipped at lookup — bounding state
    the way Flink's regular-join TTL does — and under in-order delivery
    the joinable pairs are exactly the |Δts| ≤ ttl interval band, which
    is the exact oracle here (clicks × purchases per user within 1h,
    streamed over three micro-batches each side)."""
    from flink_spark.streaming.core import chunked_table_stream
    from flink_spark.streaming.deltajoin import delta_join, tag_union

    base = lambda: chunked_table_stream(spark, sf_dir, "events", 3, "ts").filter(
        F.col("user_id") <= 100
    )
    clicks = base().filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    buys = base().filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    lc = ["c_user", "click_id", "click_ts"]
    rc = ["p_user", "purchase_id", "purchase_ts"]
    tagged = tag_union(clicks, buys, lc, rc)
    joined = delta_join(
        tagged, lc, rc, ["c_user"], ["p_user"],
        ttl="1 hour", left_ts="click_ts", right_ts="purchase_ts",
        prefix="delta_join_ttl",
        # compact every 2nd batch so the external row also proves the r5
        # store-compaction path (rewrites drop only rows the TTL already
        # excludes from reads → result invariant)
        compact_every=2,
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id", "purchase_id", "click_ts", "purchase_ts",
    )


@query(
    "stream_delta_join_left",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, l.l_linenumber, l.l_quantity
    FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 49) l
      ON o.o_orderkey = l.l_orderkey
    """,
)
def stream_delta_join_left(spark, sf_dir):
    """LEFT OUTER delta join with changelog emission for late-arriving
    matches (reference StreamingDeltaJoinOperator.java inner path +
    OuterJoinRecordStateView null-row protocol): an urgent order with no
    heavy lineitem yet emits a null-padded +I; when the match arrives in
    a later micro-batch the null row is retracted (-D) and the real pair
    emitted. The right side streams in l_extendedprice order (uncorrelated
    with the join key) so retractions genuinely cross batch boundaries;
    the materialized net changelog must equal the batch LEFT JOIN."""
    from flink_spark.streaming.core import chunked_table_stream
    from flink_spark.streaming.deltajoin import (
        apply_changelog,
        delta_join,
        tag_union,
    )

    o = chunked_table_stream(spark, sf_dir, "orders", 2, "o_orderkey").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = chunked_table_stream(
        spark, sf_dir, "lineitem", 2, "l_extendedprice"
    ).filter(F.col("l_quantity") > 49)
    lc = ["o_orderkey", "o_custkey"]
    rc = ["l_orderkey", "l_linenumber", "l_quantity"]
    tagged = tag_union(o.select(*lc), li.select(*rc), lc, rc)
    cl = delta_join(
        tagged, lc, rc, ["o_orderkey"], ["l_orderkey"],
        prefix="delta_join_left", how="left",
    )
    return apply_changelog(cl, lc + rc).select(
        "o_orderkey", "o_custkey", "l_linenumber", "l_quantity"
    )


@query(
    "stream_delta_join_full",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
    FULL JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
      ON c.c_custkey = o.o_custkey
    """,
)
def stream_delta_join_full(spark, sf_dir):
    """FULL OUTER delta join: each side's null-padded emission is
    retracted when its first opposite-side match arrives (reference
    StreamingDeltaJoinOperator + the two-sided OuterJoinRecordStateView),
    both derived from the side stores. Sides stream in orders uncorrelated
    with the key so both sides see cross-batch retraction traffic; net
    changelog equals the batch FULL JOIN exactly (BUILDING customers
    without urgent orders and urgent orders of non-BUILDING customers
    both survive as null-padded rows)."""
    from flink_spark.streaming.core import chunked_table_stream
    from flink_spark.streaming.deltajoin import (
        apply_changelog,
        delta_join,
        tag_union,
    )

    c = chunked_table_stream(spark, sf_dir, "customer", 2, "c_name").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = chunked_table_stream(spark, sf_dir, "orders", 3, "o_totalprice").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lc = ["c_custkey", "c_name"]
    rc = ["o_orderkey", "o_custkey", "o_totalprice"]
    tagged = tag_union(c.select(*lc), o.select(*rc), lc, rc)
    cl = delta_join(
        tagged, lc, rc, ["c_custkey"], ["o_custkey"],
        prefix="delta_join_full", how="full",
    )
    return apply_changelog(cl, lc + rc).select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "stream_window_dedup",
    oracle="""
    SELECT window_start, user_id, event_id, ts FROM (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, user_id,
             event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts),
                                             user_id
                                ORDER BY ts, event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def stream_window_dedup(spark, sf_dir):
    """Streaming window deduplication (reference
    StreamExecWindowDeduplicate.java:69): first row per key per tumbling
    window as a native windowed MIN over the (ts, event_id) struct —
    append mode, watermark-evicted, state bounded by open windows (no
    per-row keep-first state at all; the keep-first row IS the window's
    running minimum)."""
    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "1 minute"), closed=True
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("first"))
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            F.col("first.event_id").alias("event_id"),
            F.col("first.ts").alias("ts"),
        )
    )
    out = run_to_memory(agg, "append", "wdedup")
    return ntz_windows(out, "window_start", "ts")


@query(
    "stream_window_topn",
    oracle=f"""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, user_id,
             CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS user_sum
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, user_id, user_sum, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY user_sum DESC, user_id) AS rn
      FROM agg) t
    WHERE rn <= 3
    """,
)
def stream_window_topn(spark, sf_dir):
    """Streaming window Top-N (reference StreamExecWindowRank.java:77,
    WindowRankOperator): per-window per-user sums aggregate in the
    stream (append mode, watermark-evicted — the only stateful step);
    ranking runs on each window's rows AS THEY CLOSE, i.e. a stateless
    pass over the emitted output, exactly when the reference's window
    rank fires. State never holds more than the open windows' partial
    sums."""
    ev = stream_table(
        spark, sf_dir, "events", watermark=("ts", "1 minute"), closed=True
    )
    agg = (
        ev.groupBy(F.window("ts", "6 hours"), "user_id")
        .agg(dsum("value", "user_sum"))
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "user_sum",
        )
    )
    from pyspark.sql import Window

    closed_windows = ntz_windows(
        run_to_memory(agg, "append", "wtopn"), "window_start"
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("user_sum"), "user_id"
    )
    return (
        closed_windows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@query(
    "stream_current_watermark",
    oracle="""
    WITH allr AS (SELECT event_id, user_id, ts,
                         ROW_NUMBER() OVER (ORDER BY ts) - 1 AS rn,
                         COUNT(*) OVER () AS n
                  FROM events),
    ch AS (SELECT *, CASE WHEN rn < n // 3 THEN 0
                          WHEN rn < (2 * n) // 3 THEN 1 ELSE 2 END AS chunk
           FROM allr),
    mx AS (SELECT chunk, MAX(ts) AS mxts FROM ch GROUP BY chunk),
    wm AS (SELECT c.chunk,
                  (SELECT make_timestamp((epoch_ms(MAX(m.mxts)) - 60000) * 1000)
                   FROM mx m WHERE m.chunk < c.chunk) AS w
           FROM (SELECT DISTINCT chunk FROM ch) c)
    SELECT ch.event_id, ch.user_id, ch.ts,
           COALESCE(wm.w, TIMESTAMP '1970-01-01 00:00:00') AS wm
    FROM ch JOIN wm ON ch.chunk = wm.chunk
    """,
)
def stream_current_watermark(spark, sf_dir):
    """CURRENT_WATERMARK(rowtime) (reference SqlCurrentWatermarkFunction,
    FlinkSqlOperatorTable CURRENT_WATERMARK): every row stamped with the
    watermark in effect while it was processed, surfaced through
    GroupState.getCurrentWatermarkMs in an Arrow-batched pass-through
    processor. Delivery is chunked into three deterministic micro-batches,
    so the exact oracle reconstructs each batch's watermark as the
    ms-truncated max event time of all prior batches minus the 1-minute
    delay (epoch 1970 before the first watermark)."""
    from flink_spark.streaming.core import (
        chunked_table_stream,
        with_current_watermark,
    )

    ev = chunked_table_stream(spark, sf_dir, "events", 3, "ts")
    ev = ev.select("event_id", "user_id", "ts").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", "1 minute")
    out = run_to_memory(
        with_current_watermark(ev, ["user_id"]), "append", "curwm"
    )
    return ntz_windows(out, "ts")


@query(
    "hybrid_source_backfill",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'bounded' ELSE 'live' END AS phase,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
)
def hybrid_source_backfill(spark, sf_dir):
    """Hybrid source (reference flink-connector-base HybridSource.java:
    bounded backfill source, then switch to the live source): even-keyed
    orders play the historical backfill, odd-keyed the live feed; one
    unified stream drains the backfill first (mtime-pinned sequence =
    HybridSourceEnumeratorState), phase-tagged at the SwitchSourceEvent
    boundary. The per-phase totals must equal the batch split exactly —
    every row crosses the handoff exactly once."""
    import os
    import tempfile

    from flink_spark.sources.hybrid import hybrid_stream

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    key = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(tempfile.gettempdir(), f"flink_spark_hybrid_q_{key}")
    marker = os.path.join(root, "_ready")
    if not os.path.exists(marker):
        orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(2).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "bounded"))
        orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "live"))
        with open(marker, "w") as fh:
            fh.write("ok")
    df = hybrid_stream(
        spark, os.path.join(root, "bounded"), os.path.join(root, "live"),
        with_phase=True,
    )
    rows = run_to_memory(
        df.select(
            F.col("__hybrid_phase").alias("phase"), "o_orderkey", "o_totalprice"
        ),
        "append",
        "hybrid_backfill",
    )
    return rows.groupBy("phase").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
    )


@query(
    "stream_state_reader",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE user_id <= 50
    GROUP BY event_type
    """,
)
def stream_state_reader(spark, sf_dir):
    """Offline state reading (reference flink-state-processor-api
    SavepointReader.readKeyedState): drain an update-mode grouped
    aggregation to a checkpoint, then read the checkpoint's STATE STORE
    back as a bounded DataFrame — the state's internal sum/count buffers
    must equal the batch GROUP BY exactly (cents-integer sums so the
    state bytes are integer-exact across engines)."""
    import os
    import shutil
    import tempfile

    from flink_spark.streaming.core import stream_table
    from flink_spark.streaming.state_reader import read_keyed_state
    from flink_spark.streaming.storeutil import drain_conf

    ev = stream_table(spark, sf_dir, "events").filter(
        F.col("user_id") <= 50
    ).select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    agg = ev.groupBy("event_type").agg(
        F.sum("cents").alias("s"), F.count("*").alias("c")
    )
    ckpt = tempfile.mkdtemp(prefix="flink_spark_statereader_")
    try:
        # an update-mode sink, which run_drain's foreachBatch does not
        # give: start under the drain confs directly
        with drain_conf(spark):
            q = (
                agg.writeStream.outputMode("update").format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        st = read_keyed_state(spark, ckpt)
        return st.select(
            F.col("key_event_type").alias("event_type"),
            F.col("sum").alias("cents_sum"),
            F.col("count").alias("n"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@query(
    "stream_source_idleness",
    oracle="""
    WITH r AS (SELECT ts, event_id,
                      ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn,
                      COUNT(*) OVER () AS n
               FROM events WHERE user_id <= 200),
    c AS (SELECT ts,
                 CAST(rn >= 1 * n // 4 AS INT) + CAST(rn >= 2 * n // 4 AS INT)
                   + CAST(rn >= 3 * n // 4 AS INT) AS chunk,
                 CASE WHEN rn < 2 * n // 4 THEN 'a' ELSE 'b' END AS src
          FROM r),
    b AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(batch_id)),
    s AS (SELECT * FROM (VALUES ('a'),('b')) t(src)),
    agg AS (SELECT b.batch_id, s.src,
                   (SELECT MAX(c.ts) FROM c
                    WHERE c.src = s.src AND c.chunk <= b.batch_id) AS runmax,
                   (SELECT MAX(c.chunk) FROM c
                    WHERE c.src = s.src AND c.chunk <= b.batch_id) AS last_seen
            FROM b, s),
    act AS (SELECT batch_id, src, runmax,
                   (last_seen IS NOT NULL AND last_seen > batch_id - 2) AS active
            FROM agg),
    wm0 AS (SELECT batch_id,
                   MIN(runmax) FILTER (WHERE active)
                     - INTERVAL 10 MINUTE AS cand
            FROM act GROUP BY batch_id),
    wm AS (SELECT batch_id, MAX(cand) OVER (ORDER BY batch_id) AS wmv FROM wm0)
    SELECT CAST(w.batch_id AS BIGINT) AS batch_id,
           BOOL_OR(a.active) FILTER (WHERE a.src = 'a') AS a_active,
           BOOL_OR(a.active) FILTER (WHERE a.src = 'b') AS b_active,
           w.wmv AS wm
    FROM wm w JOIN act a USING (batch_id)
    GROUP BY w.batch_id, w.wmv
    """,
)
def stream_source_idleness(spark, sf_dir):
    """Source IDLENESS / combined multi-source watermark (reference
    WatermarkStrategy.withIdleness, WatermarksWithIdleness.java,
    StatusWatermarkValve.java min-over-non-idle) — previously documented
    as a platform limitation, now rebuilt at micro-batch granularity with
    batch-count idleness (deterministic where Flink's wall-clock timeout
    is not): a backfill source 'a' (first half of event time) and a live
    source 'b' stream in event-time-ordered quartile batches; 'b' is idle
    until its first row (it must not pin the watermark at -inf), 'a'
    holds the watermark back while active, and after two silent batches
    'a' is deactivated and the watermark jumps to 'b' − delay. The oracle
    reproduces the exact chunk/source assignment and the monotonic
    min-over-active rule in SQL."""
    from flink_spark.streaming.idleness import (
        combined_watermark_trace,
        tagged_ts_chunk_stream,
    )

    ev = tagged_ts_chunk_stream(
        spark, sf_dir, "events", 4, where="user_id <= 200"
    )
    return combined_watermark_trace(
        ev.select("src", "ts"), "src", "ts", "10 minutes", idle_batches=2
    )


@query(
    "stream_watermark_alignment",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
           TRUE AS all_processed, TRUE AS throttled
    FROM events WHERE user_id <= 150
    """,
)
def stream_watermark_alignment(spark, sf_dir):
    """Watermark ALIGNMENT (reference WatermarkStrategy
    .withWatermarkAlignment:168, SourceCoordinator alignment events):
    md5-shuffled arrival means both sources carry event-time jumps, so
    the drift gate genuinely engages (throttled=TRUE is a data-verified
    fact, not an assumption); deferred rows spill to a distributed buffer
    and re-enter later rounds, the minimum source is never throttled, and
    finished sources release the group frontier — so every input row is
    processed exactly once (all_processed). The value-checked contract is
    the invariant triple, same discipline as the ANN recall gates; the
    exact per-round semantics are pinned by the hand-computed trace in
    tests/test_streaming.py."""
    from flink_spark.streaming.core import chunked_table_stream
    from flink_spark.streaming.idleness import aligned_union_trace

    ev = (
        chunked_table_stream(spark, sf_dir, "events", 4, "event_id",
                             order_hash=True)
        .filter(F.col("user_id") <= 150)
        .select(
            F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("src"),
            "ts",
            "event_id",
        )
    )
    trace = aligned_union_trace(ev, "src", "ts", "2 minutes")
    n_input = (
        load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 150).count()
    )
    agg = trace.agg(
        F.sum(F.col("a_processed") + F.col("b_processed")).alias("done"),
        F.count("*").alias("rounds"),
    ).collect()[0]
    throttled = bool(agg.rounds > 4)  # flush rounds exist ⇔ deferral happened
    return spark.createDataFrame(
        [(n_input, int(agg.done) == n_input, throttled)],
        "n_input long, all_processed boolean, throttled boolean",
    )


@query(
    "stream_dedup_first_tws",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT event_id, ts, user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id <= 200) t
    WHERE rn = 1
    """,
)
def stream_dedup_first_tws(spark, sf_dir):
    """Keep-first dedup on Spark 4's transformWithStateInPandas — the
    engine API that mirrors the reference KeyedProcessFunction contract
    (typed state handles + timers, RocksDB-backed) most directly.
    CAPABILITY-GATED like the avro JVM reader: transformWithState needs
    google.protobuf (its state-server protocol), absent in this
    container, so the gate falls back to the changelog-layer
    dedup_keep_first (same semantics on applyInPandasWithState) — on any
    standard cluster `tws_available()` is True and this query runs the
    new engine API against the same exact oracle. The processor's
    batch-level logic is unit-tested engine-free in
    tests/test_twstate.py."""
    from flink_spark.streaming import changelog as CL
    from flink_spark.streaming.core import run_to_memory
    from flink_spark.streaming.idleness import tagged_ts_chunk_stream
    from flink_spark.streaming.twstate import dedup_keep_first_tws, tws_available

    ev = tagged_ts_chunk_stream(
        spark, sf_dir, "events", 4, where="user_id <= 200"
    ).select("event_id", "ts", "user_id", "event_type", "value")
    if tws_available():
        out = dedup_keep_first_tws(ev, ["user_id"], ["ts", "event_id"])
    else:
        out = CL.dedup_keep_first(ev, ["user_id"], ["ts", "event_id"])
    return run_to_memory(out, "append", "dedupf_tws")


@query(
    "changelog_from_changelog",
    oracle="""
    WITH coded AS (
      SELECT event_id, user_id, event_type,
             CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'r'
                             WHEN 'purchase' THEN 'ua' WHEN 'signup' THEN 'd'
                             ELSE 'junk' END AS src_op
      FROM events WHERE event_id < 2000)
    SELECT CASE src_op WHEN 'c' THEN '+I' WHEN 'r' THEN '+I'
                       WHEN 'ua' THEN '+U' WHEN 'd' THEN '-D' END AS op,
           user_id, event_id, event_type
    FROM coded
    WHERE src_op IN ('c', 'r', 'ua', 'd')
    """,
)
def changelog_from_changelog(spark, sf_dir):
    """FROM_CHANGELOG PTF (reference changelog.md §FROM_CHANGELOG): an
    append-only table with user op codes ('c,r'→INSERT, 'ua'→
    UPDATE_AFTER, 'd'→DELETE) becomes a changelog relation; unmapped
    codes ('junk' from 'error' events) are dropped under
    error_handling => 'SKIP'; PARTITION BY user_id moves the key to the
    front of the output schema, the op-code column is interpreted and
    removed."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    ev.select(
        "event_id", "user_id", "event_type",
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "r")
        .when(F.col("event_type") == "purchase", "ua")
        .when(F.col("event_type") == "signup", "d")
        .otherwise("junk").alias("src_op"),
    ).createOrReplaceTempView("__fc_coded")
    return env.execute_sql("""
        SELECT * FROM FROM_CHANGELOG(
          input => TABLE __fc_coded PARTITION BY user_id,
          op => DESCRIPTOR(src_op),
          op_mapping => MAP['c, r', 'INSERT', 'ua', 'UPDATE_AFTER',
                            'd', 'DELETE'],
          error_handling => 'SKIP')
    """)


@query(
    "changelog_to_changelog",
    oracle="""
    WITH cl AS (
      SELECT CASE event_type WHEN 'click' THEN '+I' WHEN 'view' THEN '-U'
                             WHEN 'purchase' THEN '+U' ELSE '-D' END AS op,
             event_id, user_id, value
      FROM events WHERE event_id < 2000 AND event_type <> 'error')
    SELECT CASE op WHEN '+I' THEN 'add' WHEN '+U' THEN 'add'
                   WHEN '-D' THEN 'del' END AS kind,
           event_id,
           CASE WHEN op = '-D' THEN NULL ELSE user_id END AS user_id,
           CASE WHEN op = '-D' THEN NULL ELSE value END AS value
    FROM cl
    WHERE op IN ('+I', '+U', '-D')
    """,
)
def changelog_to_changelog(spark, sf_dir):
    """TO_CHANGELOG PTF (reference changelog.md §TO_CHANGELOG): a
    changelog relation folds to append-only rows with custom op codes
    ('INSERT, UPDATE_AFTER'→'add', 'DELETE'→'del'); UPDATE_BEFORE is
    unmapped → dropped; produces_full_deletes => false keeps only the
    PARTITION BY key (event_id) on deletes, nulling the payload."""
    from flink_spark.catalog import TableEnvironment

    env = TableEnvironment(spark)
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") < 2000) & (F.col("event_type") != "error")
    )
    ev.select(
        F.when(F.col("event_type") == "click", "+I")
        .when(F.col("event_type") == "view", "-U")
        .when(F.col("event_type") == "purchase", "+U")
        .otherwise("-D").alias("op"),
        "event_id", "user_id", "value",
    ).createOrReplaceTempView("__tc_cl")
    return env.execute_sql("""
        SELECT * FROM TO_CHANGELOG(
          input => TABLE __tc_cl PARTITION BY event_id,
          op => DESCRIPTOR(kind),
          op_mapping => MAP['INSERT, UPDATE_AFTER', 'add', 'DELETE', 'del'],
          produces_full_deletes => false)
    """)


# shared with llm_suite: the deterministic MinHash construction both
# engines reproduce bitwise (portable 60-bit md5 hash, shared params)
from flink_spark.queries.llm_suite import _MINHASH_SQL, _SHINGLES_SQL  # noqa: E402
from flink_spark.llm import dedup as _D  # noqa: E402


@query(
    "stream_minhash_neardup",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_MINHASH_SQL},
    bands AS (SELECT doc_id, i // {_D.MH_BAND_ROWS} AS band,
                     string_agg(mh::VARCHAR, ',' ORDER BY i) AS bsig
              FROM sig GROUP BY doc_id, i // {_D.MH_BAND_ROWS}),
    cand AS (SELECT DISTINCT a.doc_id AS old_id, b.doc_id AS new_id
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
    agree AS (SELECT c.new_id,
                     SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS n_agree
              FROM cand c
              JOIN sig x ON x.doc_id = c.old_id
              JOIN sig y ON y.doc_id = c.new_id AND y.i = x.i
              GROUP BY c.old_id, c.new_id),
    dup AS (SELECT DISTINCT new_id FROM agree
            WHERE n_agree >= {_D.MH_K // 2})
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d LEFT JOIN dup ON dup.new_id = d.doc_id
    WHERE dup.new_id IS NULL
    """,
)
def stream_minhash_neardup(spark, sf_dir):
    """Streaming incremental MinHash-LSH near-dup dedup
    (streaming/neardup_stream.py — the continuous-ingestion shape of the
    llm_minhash_lsh_pairs batch pipeline; reference
    StreamExecDeduplicate's keyed-state family, near-dup semantics): the
    documents table arrives in 3 id-ordered micro-batches; each batch is
    signature-banded and checked against the LSH index of everything
    seen earlier (strictly-earlier batches + smaller ids in-batch);
    survivors are emitted insert-only. With id-ordered arrival the
    semantics close to 'D survives iff no smaller-id doc is band-matched
    and >=16/32-signature-verified against D', which the oracle states
    directly — the result is invariant to the micro-batch partitioning."""
    from flink_spark.streaming.core import chunked_table_stream
    from flink_spark.streaming.neardup_stream import minhash_neardup_stream

    docs = chunked_table_stream(spark, sf_dir, "documents", 3, "doc_id")
    out = minhash_neardup_stream(docs)
    return out.select("doc_id", "lang", "source", "n_chars")


from flink_spark.queries import annsql as _ANN  # noqa: E402
from flink_spark.queries.pipeline_suite import (  # noqa: E402
    _curation_oracle as _CURATION_ORACLE,
)


@query("stream_ivf_ingest", oracle=_ANN.ivf_ingest_oracle())
def stream_ivf_ingest(spark, sf_dir):
    """Streaming IVF index ingest (streaming/ann_stream.py — FAISS
    add-after-train as a Structured Streaming operator; reference
    VECTOR_SEARCH index family, StreamExecVectorSearchTableFunction):
    candidate embeddings arrive in 3 id-ordered micro-batches; the first
    batch trains and freezes the codebook (deterministic Lloyd's), every
    batch is assigned map-only to its nearest frozen cell and appended
    to the cell-partitioned store; after the drain the 10 query vectors
    probe their 2 nearest cells of the accumulated index for cosine
    top-5. Exact oracle: annsql.ivf_ingest_oracle unrolls the same
    batch-0 Lloyd's and probe into DuckDB CTEs."""
    from flink_spark.sources.tables import load_table as _lt
    from flink_spark.streaming.ann_stream import ivf_ingest_stream
    from flink_spark.streaming.core import chunked_table_stream

    emb = chunked_table_stream(spark, sf_dir, "embeddings", 3, "vec_id")
    idx = ivf_ingest_stream(emb.filter(F.col("vec_id") >= 10))
    q = _lt(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = idx.topk(q, k=5, n_probe=2).localCheckpoint(eager=True)
    idx.close()
    return out


@query(
    "stream_pq_ingest",
    oracle=_ANN.pq_topk_oracle(
        train_where="WHERE cand_id < (SELECT COUNT(*) // 3 "
                    "FROM embeddings)"
    ),
)
def stream_pq_ingest(spark, sf_dir):
    """Streaming PQ index ingest (streaming/ann_stream.py — the
    compressed-index sibling of stream_ivf_ingest; FAISS PQ
    add-after-train): the first of 3 id-ordered micro-batches trains the
    16x16 codebooks on its md5-ordered sample and freezes them; every
    batch encodes map-only against the frozen books and appends
    (id, vec, code) to the store; search reconstructs from codes,
    shortlists by ADC cosine over the accumulated index, exact-reranks.
    Exact oracle: pq_topk_oracle with the training sample pinned to the
    batch-0 id-slice (vec_ids are dense, so batch 0 is a pure SQL
    slice)."""
    from flink_spark.sources.tables import load_table as _lt
    from flink_spark.streaming.ann_stream import pq_ingest_stream
    from flink_spark.streaming.core import chunked_table_stream

    emb = chunked_table_stream(spark, sf_dir, "embeddings", 3, "vec_id")
    idx = pq_ingest_stream(emb.filter(F.col("vec_id") >= 10))
    q = _lt(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = idx.topk(q, k=5).localCheckpoint(eager=True)
    idx.close()
    return out


_SEM_PLANES = 8
_SEM_TABLES = 2
_SEM_TAU = 0.35


@query(
    "stream_semantic_neardup",
    oracle=f"""
    WITH kb AS (SELECT vec_id AS id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
    planes AS (
      SELECT t, j, list_transform(range(0, 64), i ->
        CASE WHEN ('0x' || substr(md5(t || ':' || j || ':' || i), 1, 8))
                      ::BIGINT % 2 = 0
             THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS p
      FROM range(0, {_SEM_TABLES}) tt(t), range(0, {_SEM_PLANES}) jj(j)
    ),
    bk AS (
      SELECT id, t,
             CAST(SUM(CASE WHEN dot > 0 THEN (1 << j) ELSE 0 END) AS INT)
               AS bucket
      FROM (
        SELECT k.id, pl.t, pl.j,
               list_reduce(list_transform(range(1, 65),
                 i -> k.v[i] * pl.p[i]), (a, b) -> a + b) AS dot
        FROM kb k, planes pl) s
      GROUP BY id, t
    ),
    cand AS (SELECT DISTINCT a.id AS old_id, b.id AS new_id
             FROM bk a JOIN bk b
               ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
    ver AS (SELECT DISTINCT c.new_id
            FROM cand c JOIN kb va ON va.id = c.old_id
                        JOIN kb vb ON vb.id = c.new_id
            WHERE round(
              list_reduce(list_transform(range(1, 65),
                i -> va.v[i] * vb.v[i]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(range(1, 65),
                   i -> va.v[i] * va.v[i]), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(range(1, 65),
                     i -> vb.v[i] * vb.v[i]), (x, y) -> x + y))), 12)
              >= {_SEM_TAU})
    SELECT e.vec_id FROM embeddings e
    LEFT JOIN ver ON ver.new_id = e.vec_id
    WHERE ver.new_id IS NULL
    """,
)
def stream_semantic_neardup(spark, sf_dir):
    """Streaming semantic (embedding) near-dup dedup
    (streaming/neardup_stream.semantic_neardup_stream — SemDeDup's
    continuous-ingestion form, the embedding sibling of
    stream_minhash_neardup): embeddings arrive in 3 id-ordered
    micro-batches; each batch is sign-sketched into 2 independent
    md5-derived hyperplane bucket families, checked against the bucket
    index of everything seen earlier, verified by rounded-12 cosine
    >= 0.35; survivors emit insert-only. Boundary-invariant closed form:
    'survives iff no smaller-id vector is bucket-matched and
    cosine-verified' — stated directly by the oracle."""
    from flink_spark.streaming.core import chunked_table_stream
    from flink_spark.streaming.neardup_stream import semantic_neardup_stream

    emb = chunked_table_stream(spark, sf_dir, "embeddings", 3, "vec_id")
    out = semantic_neardup_stream(
        emb, n_planes=_SEM_PLANES, n_tables=_SEM_TABLES,
        threshold=_SEM_TAU,
    )
    return out.select("vec_id")


@query(
    "stream_curation_e2e",
    oracle=_CURATION_ORACLE(
        final_select="SELECT doc_id, source, "
                     "CAST(length(text) AS BIGINT) AS n_chars_m FROM surv"
    ),
)
def stream_curation_e2e(spark, sf_dir):
    """Streaming end-to-end curation (streaming/curation_stream.py — the
    batch pipe_curation_e2e chain run incrementally): documents arrive
    in 3 id-ordered micro-batches; each batch flows Gopher filter →
    exact keep-first vs the fingerprint store → MinHash near-dup vs the
    LSH index of earlier exact survivors; survivors emit insert-only.
    Seen-based, id-monotone stages close to the batch chain's `surv`
    set, which the oracle (the pipe_curation_e2e CTE chain with a
    row-level final select) states directly."""
    from flink_spark.streaming.core import chunked_table_stream
    from flink_spark.streaming.curation_stream import curation_stream

    docs = chunked_table_stream(spark, sf_dir, "documents", 3, "doc_id")
    out = curation_stream(docs)
    return out.select(
        "doc_id", "source", F.length("text").alias("n_chars_m")
    )
