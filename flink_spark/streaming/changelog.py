"""Changelog (retraction) layer: the op-column protocol plus the stateful
operators that produce/consume it.

Flink models a Table over a stream as a *changelog*: each row carries a
RowKind of +I/-U/+U/-D (reference flink-core/.../types/RowKind.java:25-52,
ChangelogMode.java:76-103). Spark has no native equivalent (SURVEY §1.1 —
the hardest semantic gap), so we encode the kind in an explicit ``op``
string column and implement the changelog-producing operators as keyed
stateful processors (``applyInPandasWithState`` — Arrow-batched, one state
row per key in the state store; the Spark analog of Flink's keyed state,
reference KeyedStateBackend.java:36):

  - ``changelog_normalize``  ↔ StreamExecChangelogNormalize.java:81
    (upsert stream → retract stream: emit -U of the previous version).
  - ``streaming_topn``       ↔ StreamExecRank.java:93 /
    RetractableTopNFunction.java:56 (Top-N with retractions as ranks shift).
  - ``dedup_keep_first``     ↔ StreamExecDeduplicate.java:94 keep-first
    (insert-only output; later duplicates are absorbed).
  - ``group_agg_retract``    ↔ StreamExecGroupAggregate.java /
    GroupAggFunction.java:140 (COUNT/SUM with -U/+U retraction pairs).
  - ``drop_update_before``   ↔ StreamExecDropUpdateBefore /
    DropUpdateBeforeFunction.java (upsert consumers don't need -U).
  - ``materialize``          the upsert-sink fold of a collected changelog.

Determinism: within a micro-batch, rows of a key are processed in
``seq_cols`` order (event time + id), not arrival order — so results are
reproducible across partitionings and match the SQL oracles.

State TTL (reference StateTtlConfig OnReadAndWrite, `table.exec.state.ttl`)
is one option, not a second operator: ``dedup_keep_first``,
``group_agg_retract`` and ``streaming_topn`` take ``ttl=(event_time_col,
duration)``. Every row refreshes its key's last sighting; a row whose
event-time gap since the previous sighting is strictly greater than
``duration`` finds the state expired and resets it silently (no
retraction). Expiry changes what is emitted, not the state size: these
operators run under ``GroupStateTimeout.NoTimeout`` and never call
``state.remove()``, so an expired key's state row stays in the store (a
Top-N board is cleared only when its key gets its next row).
``temporal_sort`` and ``cep_stream`` purge through event-time timeouts.

Scale: state is partitioned by the grouping key and lives in the state
store (RocksDB provider in production). Per-key state is O(1) rows for
normalize / dedup / group aggregation and O(N) for Top-N, independent of
stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OP_INSERT = "+I"
OP_UPDATE_BEFORE = "-U"
OP_UPDATE_AFTER = "+U"
OP_DELETE = "-D"

OP_FIELD = StructField("op", StringType(), False)


def _with_op(schema: StructType) -> StructType:
    return StructType([OP_FIELD, *schema.fields])


def changelog_normalize(
    stream: DataFrame, key_cols: list[str], seq_cols: list[str]
) -> DataFrame:
    """Upsert stream → retract stream (+I first version, then -U/+U pairs).

    Keeps the last row per key in state; each new version emits the -U of
    its predecessor. Required in front of retract-sensitive aggregations
    when the source is CDC/upsert — exactly where Flink's planner inserts
    ChangelogNormalize.
    """
    import pandas as pd

    schema = stream.schema
    cols = schema.fieldNames()

    def fn(key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(seq_cols, kind="mergesort")[cols]
        prev = tuple(state.get) if state.exists else None
        out = []
        for row in pdf.itertuples(index=False, name=None):
            if prev is None:
                out.append((OP_INSERT, *row))
            else:
                out.append((OP_UPDATE_BEFORE, *prev))
                out.append((OP_UPDATE_AFTER, *row))
            prev = row
        if prev is not None:
            state.update(prev)
        yield pd.DataFrame(out, columns=["op", *cols])

    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn, _with_op(schema), schema, "append", GroupStateTimeout.NoTimeout
    )


def _ttl_option(
    ttl: tuple[str, str], seq_cols: list[str] | None = None
) -> tuple[str, int]:
    """Unpack ``ttl=(event_time_col, duration)`` into (column,
    microseconds). Expiry is evaluated in processing order, so an operator
    that orders a key's rows by ``seq_cols`` needs the event-time column
    to lead them."""
    import pandas as pd

    ts_col, duration = ttl
    if seq_cols is not None and seq_cols[:1] != [ts_col]:
        raise ValueError(
            f"ttl column {ts_col!r} must be seq_cols[0], got {seq_cols}"
        )
    return ts_col, int(pd.Timedelta(duration).value // 1000)


def _ttl_starts(ts, last_us, ttl_us):
    """OnReadAndWrite expiry over one key's rows in processing order:
    ``starts[i]`` is True where row i finds the key's state absent or
    expired — no earlier sighting, or an event-time gap since the previous
    sighting strictly greater than ``ttl_us``. Every row refreshes the
    sighting; returns (starts, the last sighting in microseconds)."""
    import pandas as pd

    starts = []
    for t in pd.to_datetime(ts).astype("int64") // 1000:
        starts.append(last_us is None or t - last_us > ttl_us)
        last_us = int(t)
    return starts, last_us


def dedup_keep_first(
    stream: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    ttl: tuple[str, str] | None = None,
) -> DataFrame:
    """Event-time keep-first dedup (deterministic, unlike arrival-order
    ``dropDuplicates``): first row by ``seq_cols`` per key wins; later
    duplicates are absorbed. Insert-only output.

    ``ttl=(event_time_col, duration)`` (reference StateTtlConfig
    OnReadAndWrite + `table.exec.state.ttl` on StreamExecDeduplicate):
    every sighting refreshes the key, and a row more than ``duration``
    after the key's previous sighting re-emits as a fresh first. Closed
    form: emit a row iff LAG(ts) IS NULL OR ts - LAG(ts) > ttl."""
    import pandas as pd

    schema = stream.schema
    cols = schema.fieldNames()
    if ttl is None:
        state_schema = StructType([StructField("seen", IntegerType(), True)])
    else:
        ts_col, ttl_us = _ttl_option(ttl, seq_cols)
        state_schema = StructType(
            [StructField("last_seen_us", LongType(), True)]
        )

    def fn(key, pdfs, state):
        if ttl is None and state.exists:
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(seq_cols, kind="mergesort")[cols]
        if ttl is None:
            state.update((1,))
            yield pdf.head(1)
            return
        starts, last = _ttl_starts(
            pdf[ts_col], state.get[0] if state.exists else None, ttl_us
        )
        state.update((last,))
        if any(starts):
            yield pdf[starts]

    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn, schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def group_agg_retract(
    stream: DataFrame,
    key_cols: list[str],
    value_col: str,
    seq_cols: list[str],
    ttl: tuple[str, str] | None = None,
) -> DataFrame:
    """Retracting streaming group aggregation (reference
    StreamExecGroupAggregate.java / GroupAggFunction.java:140: each
    arriving row updates the key's accumulator and emits the retraction
    pair of the aggregate row — +I for the key's first value, then
    -U(old agg)/+U(new agg) per update).

    Aggregates COUNT(*) and SUM(``value_col``) (an integer column —
    integer accumulators keep the emission sequence integer-exact, the
    same discipline as the state-reader gate). Rows are processed in
    ``seq_cols`` order within a batch, so the emitted -U/+U sequence is
    deterministic and the whole changelog gets an exact prefix-sum SQL
    oracle. State per key = (count, sum) — O(1), exactly the reference's
    accumulator row.

    ``ttl=(event_time_col, duration)`` (reference StateTtlConfig
    OnReadAndWrite on StreamExecGroupAggregate): a row more than
    ``duration`` after the key's previous sighting finds the accumulator
    expired — reset silently, with no retraction — and re-emits as a
    fresh +I with a restarted count. Closed form: TTL gaps split each
    key's timeline into islands, and within an island the emissions are
    the untimed prefix-sum sequence. State adds ``last_seen_us``."""
    import pandas as pd

    schema = stream.schema
    cols = schema.fieldNames()
    out_schema = StructType(
        [
            OP_FIELD,
            *[schema[c] for c in key_cols],
            StructField("cnt", LongType(), False),
            StructField("total", LongType(), False),
        ]
    )
    state_fields = [
        StructField("cnt", LongType(), True),
        StructField("total", LongType(), True),
    ]
    if ttl is not None:
        ts_col, ttl_us = _ttl_option(ttl, seq_cols)
        state_fields.append(StructField("last_seen_us", LongType(), True))
    state_schema = StructType(state_fields)

    def fn(key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(seq_cols, kind="mergesort")[cols]
        stored = tuple(state.get) if state.exists else (0, 0, None)
        cnt, total = stored[:2]
        if ttl is None:
            starts = [False] * len(pdf)
        else:
            starts, last = _ttl_starts(pdf[ts_col], stored[2], ttl_us)
        out = []
        for v, start in zip(pdf[value_col], starts):
            if start:
                cnt, total = 0, 0  # expired: silent reset, no retraction
            old = (cnt, total)
            cnt, total = cnt + 1, total + int(v)
            if old[0] == 0:
                out.append((OP_INSERT, *key, cnt, total))
            else:
                out.append((OP_UPDATE_BEFORE, *key, *old))
                out.append((OP_UPDATE_AFTER, *key, cnt, total))
        state.update((cnt, total) if ttl is None else (cnt, total, last))
        yield pd.DataFrame(
            out, columns=["op", *key_cols, "cnt", "total"]
        )

    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_topn(
    stream: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    n: int,
    ascending: list[bool] | None = None,
    ttl: tuple[str, str] | None = None,
) -> DataFrame:
    """Streaming Top-N emitting a changelog of rank movements.

    State = the current top rows (column-wise arrays). Per batch: merge new
    rows, re-rank; emit -D for rows leaving the Top-N, +I for rows entering
    and -U/+U pairs for surviving rows whose rank moved (rank in payload).
    ``ascending`` gives per-column sort direction (default all-descending);
    pass an ascending id tiebreak for determinism.

    ``ttl=(event_time_col, duration)`` (reference StateTtlConfig on
    StreamExecRank): the batch is processed in event-time order (then the
    other columns), and a row more than ``duration`` after the
    partition's previous row finds the board expired — cleared silently,
    with no retractions — and starts a fresh one. Closed form: the
    materialized changelog is the union over TTL islands of each
    island's final top-n. State adds ``last_us``.
    """
    import pandas as pd

    asc = ascending if ascending is not None else [False] * len(order_cols)
    schema = stream.schema
    cols = schema.fieldNames()
    state_fields = [
        StructField(f.name, ArrayType(f.dataType), True) for f in schema.fields
    ]
    if ttl is not None:
        ts_col, ttl_us = _ttl_option(ttl)
        state_fields.append(StructField("last_us", LongType(), True))
    state_schema = StructType(state_fields)
    out_schema = StructType(
        [OP_FIELD, StructField("rank", IntegerType(), False), *schema.fields]
    )

    def rank(pdf):
        return (
            pdf.sort_values(order_cols, ascending=asc, kind="mergesort")
            .head(n)
            .reset_index(drop=True)
        )

    def keyed(pdf):
        # Key on (row, occurrence_index) so duplicate identical rows inside
        # the Top-N stay distinct entries — keying on the bare row tuple
        # would collapse ties and lose +I/-D emissions for the duplicates.
        counts: dict = {}
        out = {}
        for i, r in enumerate(pdf.itertuples(index=False, name=None)):
            occ = counts.get(r, 0)
            counts[r] = occ + 1
            out[(r, occ)] = i + 1
        return out

    def fn(key, pdfs, state):
        new = pd.concat(list(pdfs), ignore_index=True)[cols]
        if state.exists:
            stored = state.get
            board = pd.DataFrame({c: list(stored[i]) for i, c in enumerate(cols)})
        else:
            stored = None
            board = pd.DataFrame({c: pd.Series(dtype=new[c].dtype) for c in cols})
        if ttl is None:
            starts = [False] * len(new)
        else:
            new = new.sort_values(
                [ts_col, *[c for c in cols if c != ts_col]], kind="mergesort"
            ).reset_index(drop=True)
            starts, last = _ttl_starts(
                new[ts_col], stored[len(cols)] if stored else None, ttl_us
            )
        # one segment per TTL island (the whole batch when untimed)
        bounds = sorted({0, len(new), *(i for i, s in enumerate(starts) if s)})
        out = []
        for lo, hi in zip(bounds, bounds[1:]):
            if starts[lo]:
                board = board.iloc[0:0]  # expired: cleared, no retractions
            ranked = rank(pd.concat([board, new.iloc[lo:hi]], ignore_index=True))
            old_ranks = keyed(rank(board)) if len(board) else {}
            new_ranks = keyed(ranked)
            for (row, occ), rk in old_ranks.items():
                if (row, occ) not in new_ranks:
                    out.append((OP_DELETE, rk, *row))
            for (row, occ), rk in new_ranks.items():
                if (row, occ) not in old_ranks:
                    out.append((OP_INSERT, rk, *row))
                elif old_ranks[(row, occ)] != rk:
                    out.append((OP_UPDATE_BEFORE, old_ranks[(row, occ)], *row))
                    out.append((OP_UPDATE_AFTER, rk, *row))
            board = ranked
        board_state = tuple(list(board[c]) for c in cols)
        state.update(board_state if ttl is None else (*board_state, last))
        yield pd.DataFrame(out, columns=["op", "rank", *cols])

    return stream.groupBy(*partition_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def drop_update_before(changelog: DataFrame) -> DataFrame:
    """Strip -U rows for upsert-capable consumers."""
    return changelog.filter(F.col("op") != OP_UPDATE_BEFORE)


def materialize(changelog: DataFrame, key_cols: list[str], seq_cols: list[str]) -> DataFrame:
    """Batch-fold a collected changelog back to a table — what the
    foreachBatch MERGE upsert sink leaves: per key, the last +I/+U by
    ``seq_cols`` wins, unless the key's last row is a -D (then the key is
    absent). -U rows are ignored."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c) for c in seq_cols])
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = drop_update_before(changelog).withColumn(
        "__last_op", F.last("op").over(w)
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in seq_cols])
    return (
        ranked.filter(F.col("__last_op") != OP_DELETE)
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .drop("__last_op", "__rn", "op")
    )
