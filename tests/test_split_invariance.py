"""Split invariance: a streaming query gives the same answer whether its
input arrives as one micro-batch or as several (Structured Streaming's
prefix consistency, SIGMOD 2018; Flink's "batch is a special case of
streaming").

Each ``stream_*`` query that reads its input as one micro-batch runs a
second time with ``streaming_suite.stream_table`` wrapped so that the
same input arrives in three micro-batches, in event-time order. In that
order no row is late, so:

- insert-only and watermark queries give the same multiset of rows;
- changelog queries may split their ``+I/-U/+U/-D`` sequence differently,
  but folding it into an upsert table, in emission order, gives the same
  net state (Flink's dynamic-table contract).
"""

from __future__ import annotations

import pytest

from flink_spark.queries import streaming_suite
from flink_spark.queries.registry import QUERIES
from flink_spark.streaming.core import run_to_memory, stream_table
from tests.compare import assert_frames_match
from tests.conftest import SMOKE_SF_DIR

N_CHUNKS = 3

#: Insert-only and watermark queries: the split run emits the same rows.
MULTISET = [
    "stream_tumble_agg",
    "stream_hop_agg",
    "stream_session_agg",
    "stream_interval_join",
    "stream_dedup_first",
    "stream_upsert_materialize",
    "stream_over_rows",
    "stream_temporal_sort",
    "stream_cep_timeout",
    "stream_cep_click_purchase",
    "stream_multiway_join",
    "stream_static_lookup_join",
    "stream_coprocess_threshold",
    "stream_cumulate_agg",
    "stream_over_rows_bounded",
    "stream_over_range_bounded",
    "stream_window_join",
    "stream_interval_join_left",
    "stream_drop_update_before",
    "stream_session_dynamic_gap",
    "stream_temporal_sort_ttl",
    "stream_cep_ttl",
    "stream_session_window_join",
    "stream_window_dedup",
    "stream_window_topn",
    "stream_state_reader",
]

#: Changelog queries and the upsert key of their output: the split run
#: folds to the same net state. A Top-N row keeps its identity while its
#: rank moves, so the whole payload is its key.
CHANGELOG = {
    "stream_group_agg_retract": ["event_type"],
    "stream_topn_changelog": ["event_type", "user_id", "value", "event_id"],
    "stream_changelog_normalize": ["user_id"],
}

#: Streaming queries left out of this test, with the reason.
EXCLUDED = {
    "stream_source_idleness": "idleness: its result is the per-batch "
    "watermark trace of its own four-chunk source",
    "stream_dedup_first_tws": "idleness: reads the tagged four-chunk "
    "idleness stream, not stream_table",
}

#: Queries whose oracle already checks several micro-batches: their
#: input goes through stream_table with n_chunks > 1.
MULTI_BATCH = {
    "stream_group_agg_retract_ttl",
    "stream_late_side_output",
    "stream_dedup_first_ttl",
    "stream_delta_join",
    "stream_topn_ttl",
    "stream_delta_join_ttl",
    "stream_delta_join_left",
    "stream_delta_join_full",
    "stream_current_watermark",
    "stream_watermark_alignment",
    "stream_minhash_neardup",
    "stream_ivf_ingest",
    "stream_pq_ingest",
    "stream_semantic_neardup",
    "stream_curation_e2e",
}


def test_every_streaming_query_is_classified():
    """A new ``stream_*`` query must be given a class here."""
    streaming = {n for n in QUERIES if n.startswith("stream_")}
    classes = [set(MULTISET), set(CHANGELOG), set(EXCLUDED), MULTI_BATCH]
    assert sum(len(c) for c in classes) == len(set().union(*classes))
    assert set().union(*classes) == streaming
    assert len(MULTISET) + len(CHANGELOG) == 29


def _run(spark, name, monkeypatch, split):
    """Run ``name`` at sf0.001; with ``split``, every stream_table call of
    the suite delivers its input in N_CHUNKS event-time-ordered batches."""
    calls = []

    def split_table(spark, sf_dir, table, **kw):
        assert "n_chunks" not in kw, (name, kw)
        calls.append(table)
        return stream_table(
            spark, sf_dir, table, n_chunks=N_CHUNKS, order="ts", **kw
        )

    if split:
        monkeypatch.setattr(streaming_suite, "stream_table", split_table)
    try:
        df = QUERIES[name].fn(spark, SMOKE_SF_DIR)
        rows = df.collect()
        cols = df.columns
    finally:
        monkeypatch.undo()
    if split:
        assert calls and set(calls) == {"events"}, (name, calls)
    return cols, rows


def _net_upsert(cols, rows, key_cols):
    """Fold a changelog into an upsert table in emission order: +I/+U
    write the key's row (without its op), -D deletes it, -U carries
    nothing an upsert sink needs."""
    op = cols.index("op")
    keys = [cols.index(c) for c in key_cols]
    state = {}
    for r in rows:
        key = tuple(r[i] for i in keys)
        if r[op] in ("+I", "+U"):
            state[key] = tuple(v for i, v in enumerate(r) if i != op)
        elif r[op] == "-D":
            del state[key]
        else:
            assert r[op] == "-U", r
    return sorted(state.values())


def test_memory_sink_keeps_batch_order(spark):
    """The changelog fold below reads the memory sink in emission order:
    rows of batch i come out before those of batch i + 1."""
    src = stream_table(
        spark, SMOKE_SF_DIR, "events", n_chunks=N_CHUNKS, order="ts"
    ).select("ts")
    ts = [r.ts for r in run_to_memory(src, "append", "order").collect()]
    n = len(ts)
    assert n == 1000
    first = sorted(ts)
    bounds = [first[i * n // N_CHUNKS] for i in range(1, N_CHUNKS)]
    chunk = [sum(t >= b for b in bounds) for t in ts]
    assert chunk == sorted(chunk)
    assert chunk[0] == 0 and chunk[-1] == N_CHUNKS - 1


@pytest.mark.parametrize("name", MULTISET)
def test_split_keeps_rows(spark, monkeypatch, name):
    import pandas as pd

    cols, single = _run(spark, name, monkeypatch, split=False)
    _, split = _run(spark, name, monkeypatch, split=True)
    assert_frames_match(
        pd.DataFrame(split, columns=cols), pd.DataFrame(single, columns=cols),
        f"{name} in {N_CHUNKS} batches",
    )


@pytest.mark.parametrize("name", sorted(CHANGELOG))
def test_split_keeps_net_changelog(spark, monkeypatch, name):
    cols, single = _run(spark, name, monkeypatch, split=False)
    _, split = _run(spark, name, monkeypatch, split=True)
    key = CHANGELOG[name]
    assert _net_upsert(cols, split, key) == _net_upsert(cols, single, key)
