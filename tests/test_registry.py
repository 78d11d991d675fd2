"""Registry-order contract: external correctness harnesses sample the
first 50 registered queries, so the head of the registry is a curated,
rotating verification window.  From round 11 on, heads are MECHANICAL:
tools/next_head.py emits them from the CORRECTNESS archive (entry
first, never-sampled next in registry order, then stalest-first), and
the promoted head is pinned against that policy here.  The r12 head
carries the round's never-sampled gates right behind the entry
(sql_not_in_tuple / sql_quantified_correlated, the tuple-probe and
correlated-quantified dialect extensions), then pure freshness: the two
r3-floor stragglers (join_salted_skew, agg_grouping_id) and the
r4-r6-verified analytic/window/function/streaming/CEP core.
"""

from __future__ import annotations

import json
import os

from flink_spark.queries import QUERIES, promote_first
from flink_spark.queries import VERIFICATION_HEAD as ROTATION
import pytest

# rows-only entries deliberately promoted for an external row despite
# having no SQL-expressible oracle (the driver records the weaker check).
# Empty since r9: every gated query carries an exact DuckDB oracle.
ROWS_ONLY_PROMOTED: set = set()

# gates first registered THIS round (never externally sampled yet): the
# policy slots them immediately after the entry query. Update alongside
# the promoted constant whenever a new query is gated mid-round.
NEW_THIS_ROUND: set = {"sql_not_in_tuple", "sql_quantified_correlated"}


def _prior_round_keys(rounds) -> set:
    base = os.path.join(os.path.dirname(__file__), "..")
    prev: set = set()
    for r in rounds:
        p = os.path.join(base, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(p):
            prev |= set(json.load(open(p)))
    return prev


def test_rotation_is_registry_head():
    keys = list(QUERIES)
    assert len(ROTATION) == 50
    assert len(set(ROTATION)) == 50
    assert keys[: len(ROTATION)] == ROTATION


def test_entry_query_stays_first():
    # __spark_entry__.entry() runs the first registered query
    assert next(iter(QUERIES)) == "tpch_q1_pricing_summary"


def test_rotation_head_is_fully_oracled():
    # every sampled entry must carry an exact DuckDB oracle — the rotation
    # exists to BUY exact external rows, not rows-only checks. The
    # documented exceptions are listed in ROWS_ONLY_PROMOTED.
    for name in ROTATION:
        if name in ROWS_ONLY_PROMOTED:
            assert QUERIES[name].oracle is None, name
            continue
        assert QUERIES[name].oracle is not None, name


def test_rotation_retires_all_never_sampled_gates():
    """Debt stays at zero: every gated query must either carry a prior
    external CORRECTNESS row (r1-r11) or sit in THIS head (the policy
    slots never-sampled gates right behind the entry query)."""
    prev = _prior_round_keys(range(1, 12))
    if not prev:
        pytest.skip("no prior-round artifacts")
    never = [n for n in QUERIES if n not in prev]
    uncovered = [n for n in never if n not in ROTATION]
    assert uncovered == [], f"never sampled and not in this head: {uncovered}"
    assert set(never) == NEW_THIS_ROUND, (
        f"never-sampled set drifted from NEW_THIS_ROUND: {never}"
    )
    # the policy places them immediately after the entry
    k = len([n for n in never if n != "tpch_q1_pricing_summary"])
    assert set(ROTATION[1:1 + k]) == set(never) - {"tpch_q1_pricing_summary"}


def test_freshness_slots_resample_previously_verified_queries():
    prev = _prior_round_keys(range(1, 12))
    if not prev:
        pytest.skip("no prior-round artifacts")
    assert NEW_THIS_ROUND == {n for n in ROTATION if n not in prev}
    fresh = [
        n for n in ROTATION
        if n not in NEW_THIS_ROUND and n != "tpch_q1_pricing_summary"
    ]
    assert len(fresh) == 49 - len(NEW_THIS_ROUND)
    r11 = _prior_round_keys([11])
    for name in fresh:
        assert name in prev, f"freshness slot {name} was never sampled before"
        # freshness means STALE: nothing re-sampled that r11 just covered
        assert name not in r11, name


def test_r12_head_raises_freshness_floor():
    """Promoting join_salted_skew and agg_grouping_id (last sampled r3)
    raises the archive-wide staleness floor from r3 to r4 — the
    verdict-named freshness milestone for this round."""
    base = os.path.join(os.path.dirname(__file__), "..")
    last: dict[str, int] = {}
    for r in range(1, 12):
        p = os.path.join(base, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(p):
            for n in json.load(open(p)):
                last[n] = r
    if not last:
        pytest.skip("no prior-round artifacts")
    floor_queries = [n for n, r in last.items() if r == min(last.values())]
    assert min(last.values()) == 3
    assert set(floor_queries) <= set(ROTATION), (
        f"r3-floor queries left out of the head: "
        f"{set(floor_queries) - set(ROTATION)}"
    )


def test_promote_first_rejects_unknown_and_duplicate():
    with pytest.raises(KeyError):
        promote_first(["no_such_query"])
    with pytest.raises(ValueError):
        promote_first(["tpch_q1_pricing_summary", "tpch_q1_pricing_summary"])
    # registry unchanged by the failed calls
    assert list(QUERIES)[:50] == ROTATION


def test_next_head_policy_mechanical():
    """tools/next_head.py is the standing freshness rule (VERDICT r9 #8):
    entry first, never-sampled next in registry order, then stalest-first.
    Pin the policy on synthetic history, then check the real archive +
    this round's head produce a valid, debt-free r13 preview."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from next_head import compute_head, load_archive

    order = ["tpch_q1_pricing_summary", "a", "b", "c", "d", "e"]
    archive = {1: {"a", "c"}, 2: {"c", "e"}, 3: {"tpch_q1_pricing_summary"}}
    # entry pinned; 'b','d' never sampled (registry order); then staleness:
    # a(r1) before c,e (r2) by (round, registry position): c before e
    assert compute_head(archive, order, head_size=6) == [
        "tpch_q1_pricing_summary", "b", "d", "a", "c", "e"
    ]
    # truncation respects priority order
    assert compute_head(archive, order, head_size=3) == [
        "tpch_q1_pricing_summary", "b", "d"
    ]

    # real archive: once the r12 head is sampled, the computed r13 head
    # must be debt-free (no never-sampled gates remain), fully oracled,
    # and advance freshness past this round's samples
    repo = os.path.join(os.path.dirname(__file__), "..")
    archive = load_archive(repo)
    if not archive:
        pytest.skip("no prior-round artifacts")
    archive[12] = set(ROTATION)  # the driver samples this round's head
    head = compute_head(archive, list(QUERIES))
    assert len(head) == 50 and len(set(head)) == 50
    assert head[0] == "tpch_q1_pricing_summary"
    assert all(QUERIES[n].oracle is not None for n in head)
    # nothing in the r13 preview was sampled this round (freshness advances)
    assert not (set(head) - {"tpch_q1_pricing_summary"}) & set(ROTATION)


def test_promoted_r12_head_matches_policy():
    """The PROMOTED r12 head must be exactly what tools/next_head.py
    computes from the r1-r11 archive — heads self-assemble from round
    11 on, and a drifted registry or archive fails here instead of
    silently promoting the wrong head. (Regenerated mid-round whenever
    a new query is gated: the policy is a fixpoint of promotion, so
    recomputing against the promoted registry must reproduce the
    promoted constant.)"""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from next_head import compute_head, load_archive

    repo = os.path.join(os.path.dirname(__file__), "..")
    # rounds 1-11 only: the r12 head is computed BEFORE this round's
    # artifact exists, so the pin must not drift when the driver lands
    # CORRECTNESS_r12.json (recomputing over it would yield the r13
    # head — that promotion is next round's first chore)
    archive = {r: v for r, v in load_archive(repo).items() if r <= 11}
    if not archive:
        pytest.skip("no prior-round artifacts")
    head = compute_head(archive, list(QUERIES))
    assert ROTATION == head
