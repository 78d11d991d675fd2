"""Model-based property surfaces, second batch (r12 evidence audit
sev-1): distributed operators whose semantics have a one-process model
to compare against — lookup joins (sync + async ordered), async calc
ordering, brute-force cosine top-k, and get_json_object path semantics
vs Python's own json module. Same discipline as test_properties.py
(the reference's randomized ITCase analog), derandomized for CI."""

from __future__ import annotations

import json
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

# Exhaustive tier (VERDICT r12 #2 / r13 durations trim): this whole module is
# an exhaustive re-run sweep; it runs under --runslow / SPARK_GRAFT_RUNSLOW=1.
pytestmark = pytest.mark.slow


KEYS = ["a", "b", "c", "d", "missing1", "missing2"]
DIM = {"a": 1, "b": 2, "c": 3, "d": 4}  # the lookup "external system"


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(st.sampled_from(KEYS), min_size=1, max_size=20))
def test_lookup_join_matches_model(spark, rows):
    """lookup_join == per-row dict lookup, misses → NULL columns, row
    count preserved (left-join contract), whatever the batch split."""
    from flink_spark.operators.joins import lookup_join

    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(rows)], "rid long, k string"
    )

    def build_lookup(keys):
        return {k: {"dim_v": DIM[k]} for k in keys if k in DIM}

    got = {
        r.rid: r.dim_v
        for r in lookup_join(df, build_lookup, "k", "dim_v int").collect()
    }
    assert got == {i: DIM.get(k) for i, k in enumerate(rows)}


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(st.sampled_from(KEYS), min_size=1, max_size=16))
def test_async_lookup_join_matches_sync_model(spark, rows):
    """async_lookup_join (ordered mode) == the same dict model: per-key
    awaitables resolve in ARBITRARY order (keyed sleep), but emission
    must stay row-ordered and value-identical to the sync path."""
    import asyncio

    from flink_spark.operators.joins import async_lookup_join

    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(rows)], "rid long, k string"
    )

    async def lookup(key):
        # later-alphabet keys resolve FASTER: out-of-order completion
        await asyncio.sleep(0.001 * (6 - KEYS.index(key)))
        return {"dim_v": DIM[key]} if key in DIM else {}

    out = async_lookup_join(df, lookup, "k", "dim_v int").collect()
    got = {r.rid: r.dim_v for r in out}
    assert got == {i: DIM.get(k) for i, k in enumerate(rows)}


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(st.integers(-50, 50), min_size=1, max_size=16))
def test_async_calc_matches_sync_map(spark, vals):
    """async_calc == the synchronous column computation: concurrent
    awaits with value-dependent delays must not reorder or drop rows
    (reference AsyncWaitOperator ORDERED mode)."""
    import asyncio

    from flink_spark.operators.asynccalc import async_calc

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rid long, v long"
    )

    async def fn(row):
        await asyncio.sleep(0.0005 * (row["v"] % 7 + 1))
        return {"doubled": row["v"] * 2}

    out = async_calc(df, fn, "doubled long").collect()
    assert {(r.rid, r.doubled) for r in out} == {
        (i, v * 2) for i, v in enumerate(vals)
    }


_vec = st.lists(
    st.integers(-5, 5).map(float), min_size=4, max_size=4
).filter(lambda v: any(x != 0 for x in v))


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    qs=st.lists(_vec, min_size=1, max_size=3),
    cs=st.lists(_vec, min_size=1, max_size=8),
    k=st.integers(1, 4),
)
def test_brute_force_topk_matches_numpy(spark, qs, cs, k):
    """brute_force_topk == the numpy cosine model with the same
    (-score, cand_id) tie order."""
    from flink_spark.llm.similarity import brute_force_topk

    qdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qs)],
        "query_id long, embedding array<double>",
    )
    cdf = spark.createDataFrame(
        [(j, v) for j, v in enumerate(cs)],
        "cand_id long, embedding array<double>",
    )
    got = {
        (r.query_id, r.rank): r.cand_id
        for r in brute_force_topk(qdf, cdf, k=k).collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    for qi, q in enumerate(qs):
        scored = sorted(
            ((-(round(cos(q, c), 12)), j) for j, c in enumerate(cs))
        )[:k]
        for rank, (_, j) in enumerate(scored, start=1):
            # ties on score make the winner id-ordered in BOTH paths
            assert got[(qi, rank)] == j, (qi, rank, got, scored)


_json_scalar = st.one_of(
    st.integers(-100, 100),
    st.sampled_from(["x", "yz", "", "a b"]),
    st.booleans(),
    st.none(),
)


def _json_obj(depth: int):
    if depth == 0:
        return _json_scalar
    sub = _json_obj(depth - 1)
    return st.one_of(
        _json_scalar,
        st.lists(sub, min_size=0, max_size=3),
        st.dictionaries(
            st.sampled_from(["k1", "k2", "k3"]), sub, max_size=3
        ),
    )


def _paths(doc, prefix="$"):
    yield prefix
    if isinstance(doc, dict):
        for k, v in doc.items():
            yield from _paths(v, f"{prefix}.{k}")
    elif isinstance(doc, list):
        for i, v in enumerate(doc):
            yield from _paths(v, f"{prefix}[{i}]")


def _model_get(doc, path):
    """Python model of get_json_object: walk the path, render scalars
    bare (strings unquoted), containers as compact JSON, MISSING paths
    as None. JSON null is rendered inconsistently by Spark (empirically
    mapped r12): an OBJECT-FIELD null returns SQL NULL, but a null at
    the ROOT or inside an ARRAY returns the literal string 'null' — the
    model mirrors that exactly."""
    import re as _re

    cur = doc
    last = "root"
    for tok in _re.findall(r"\.([A-Za-z_][\w]*)|\[(\d+)\]", path):
        key, idx = tok
        if key:
            if not isinstance(cur, dict) or key not in cur:
                return None
            cur = cur[key]
            last = "field"
        else:
            if not isinstance(cur, list) or int(idx) >= len(cur):
                return None
            cur = cur[int(idx)]
            last = "index"
    if cur is None:
        return None if last == "field" else "null"
    if isinstance(cur, bool):
        return "true" if cur else "false"
    if isinstance(cur, (dict, list)):
        return json.dumps(cur, separators=(",", ":"))
    return str(cur)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc=_json_obj(3))
def test_get_json_object_matches_python_json(spark, doc):
    """get_json_object over EVERY path of a generated document vs the
    Python-json model (scalars bare, containers compact, missing/null
    → NULL) — the JSON-family analog of the expression fuzz."""
    text = json.dumps(doc, separators=(",", ":"))
    paths = list(_paths(doc))[:12]
    df = spark.createDataFrame([(text,)], "j string")
    sel = [
        F.get_json_object("j", p).alias(f"c{i}")
        for i, p in enumerate(paths)
    ]
    row = df.select(*sel).collect()[0]
    for i, p in enumerate(paths):
        exp = _model_get(doc, p)
        assert row[f"c{i}"] == exp, (text, p, row[f"c{i}"], exp)


# --- salted skew join == plain join (r12, audit sev-1) ---------------------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lkeys=st.lists(
        st.sampled_from(["hot", "hot", "hot", "w1", "w2", "none"]),
        min_size=1, max_size=24,
    ),
    n_salts=st.sampled_from([1, 2, 8]),
)
def test_salted_join_matches_plain_join(spark, lkeys, n_salts):
    """salted_join == the plain inner equi-join as a multiset, for any
    skew profile and salt count (the manual FLIP-510 path must be a
    pure physical transform — never change results)."""
    from flink_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(i, k) for i, k in enumerate(lkeys)], "lid long, k string"
    )
    right = spark.createDataFrame(
        [("hot", 100), ("w1", 200), ("w2", 300), ("hot", 101)],
        "rk string, rv long",
    )
    got = sorted(
        (r.lid, r.rv)
        for r in salted_join(left, right, "k", "rk", n_salts=n_salts,
                             id_col="lid").collect()
    )
    exp = sorted(
        (r.lid, r.rv)
        for r in left.join(right, left.k == right.rk).collect()
    )
    assert got == exp


# --- bitmap family == python set model (r12, audit sev-1) ------------------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.integers(0, 500)),
        min_size=1, max_size=30,
    ),
)
def test_bitmap_family_matches_set_model(spark, rows):
    """bitmap_build → cardinality/to_array, and the OR/AND/XOR merge
    aggs, against plain Python sets — any dedup or word-boundary bug
    (keys straddling 64-bit words) shows immediately."""
    from flink_spark.functions.bitmap import (
        bitmap_and_cardinality_agg,
        bitmap_build,
        bitmap_build_cardinality_agg,
        bitmap_or_cardinality_agg,
        bitmap_to_array,
    )

    df = spark.createDataFrame(rows, "g string, k long")
    sets = {}
    for g, k in rows:
        sets.setdefault(g, set()).add(k)

    built = bitmap_build(df, "g", "k")
    got_arrays = {
        r.g: sorted(r.arr)
        for r in built.select("g", bitmap_to_array("bitmap").alias("arr"))
        .collect()
    }
    assert got_arrays == {g: sorted(s) for g, s in sets.items()}
    got_cards = {
        r.g: r.card
        for r in bitmap_build_cardinality_agg(df, "g", "k").collect()
    }
    assert got_cards == {g: len(s) for g, s in sets.items()}
    # merge aggs: collapse ALL groups' bitmaps into one (constant group)
    both = built.withColumn("one", F.lit(1))
    union_card = bitmap_or_cardinality_agg(both, "one", "bitmap").collect()
    assert union_card[0].card == len(set().union(*sets.values()))
    inter_card = bitmap_and_cardinality_agg(both, "one", "bitmap").collect()
    exp_inter = (
        len(set.intersection(*sets.values())) if len(sets) == len(
            ["g1", "g2"]) else len(next(iter(sets.values())))
    )
    assert inter_card[0].card == exp_inter


# --- exact percentile family == interpolation model (r12, audit sev-1) -----------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.one_of(st.integers(-100, 100), st.none()),
        min_size=1, max_size=20,
    ).filter(lambda v: any(x is not None for x in v)),
    p=st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0]),
)
def test_percentile_matches_interpolation_model(spark, vals, p):
    """Spark's exact percentile() == linear interpolation at rank
    p·(n−1) over the sorted non-null values — the reference
    PERCENTILE_CONT contract the agg_percentile_family oracle leans
    on, swept across probabilities and null densities."""
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = df.agg(F.expr(f"percentile(v, {p})").alias("q")).collect()[0].q
    xs = sorted(v for v in vals if v is not None)
    rank = p * (len(xs) - 1)
    lo, hi = int(math.floor(rank)), int(math.ceil(rank))
    exp = xs[lo] + (rank - lo) * (xs[hi] - xs[lo])
    assert got == pytest.approx(exp, rel=1e-12), (vals, p, got, exp)


# --- UDTAF (table aggregate) == python model (r12, audit sev-1) ------------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(-50, 50)),
        min_size=1, max_size=20,
    ),
)
def test_udtaf_top2_matches_model(spark, rows):
    """apply_table_aggregate with a Top-2 emitter == the python model
    (reference Top2 TableAggregateFunction example — the canonical
    UDTAF), any group sizes including singletons."""
    from flink_spark.functions.udf import (
        TableAggregateFunction,
        apply_table_aggregate,
    )

    class Top2(TableAggregateFunction):
        result_schema = "rank int, val long"

        def create_accumulator(self):
            return []

        def accumulate(self, acc, v):
            acc.append(v)
            return sorted(acc, reverse=True)[:2]

        def emit_value(self, acc):
            return [(i + 1, v) for i, v in enumerate(acc)]

    df = spark.createDataFrame(rows, "g string, v long")
    got = sorted(
        (r.g, r.rank, r.val)
        for r in apply_table_aggregate(df, Top2(), ["g"], ["v"]).collect()
    )
    exp = []
    groups: dict = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    for g, vs in groups.items():
        for i, v in enumerate(sorted(vs, reverse=True)[:2]):
            exp.append((g, i + 1, v))
    assert got == sorted(exp)


# --- PTF batch mode == python model (r12, audit sev-1) ---------------------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 100)),
        min_size=1, max_size=20,
    ),
)
def test_ptf_batch_matches_model(spark, rows):
    """apply_ptf_batch running a per-key gap computation == the python
    model: rows arrive seq-ordered per key, emissions are the
    consecutive deltas (the reference ProcessTableFunction batch
    contract — one virtual micro-batch per key)."""
    import pandas as pd

    from flink_spark.functions.udf import (
        ProcessTableFunction,
        apply_ptf_batch,
    )

    class Gaps(ProcessTableFunction):
        result_schema = "g string, gap long"

        def process(self, key, pdf, state):
            ts = pdf["t"].tolist()
            return pd.DataFrame(
                {"g": [key[0]] * max(0, len(ts) - 1),
                 "gap": [b - a for a, b in zip(ts, ts[1:])]}
            )

    df = spark.createDataFrame(
        [(g, t, i) for i, (g, t) in enumerate(rows)],
        "g string, t long, rid long",
    )
    got = sorted(
        (r.g, r.gap)
        for r in apply_ptf_batch(df, Gaps(), ["g"], ["t", "rid"]).collect()
    )
    exp = []
    groups: dict = {}
    for i, (g, t) in enumerate(rows):
        groups.setdefault(g, []).append((t, i))
    for g, ts in groups.items():
        s = [t for t, _ in sorted(ts)]
        exp.extend((g, b - a) for a, b in zip(s, s[1:]))
    assert got == sorted(exp)


# --- delta join == batch interval join (r12, audit sev-1) ------------------------


def test_delta_join_matches_batch_interval_join(spark, tmp_path):
    """delta_join (ΔL⋈R ∪ L⋈ΔR over bucketed stores) == the brute-force
    banded join, across four derandomized profiles (hot keys, empty
    sides, band edges, multi-batch chunking). A streaming drain per case
    keeps this affordable while exercising the store fold + replay
    path the restore tests don't randomize."""
    import pandas as pd

    from flink_spark.streaming.deltajoin import delta_join, tag_union

    profiles = [
        # (left (k, minute, tag), right (k, minute, tag))
        ([(0, 0), (0, 1), (1, 5)], [(0, 2), (1, 5), (2, 9)]),
        ([(0, 0)], []),
        ([(0, 0), (0, 3)], [(0, 3), (0, 6)]),  # exact TTL-edge deltas
        ([(i % 2, i) for i in range(8)], [(i % 3, i) for i in range(9)]),
    ]
    for case, (lrows, rrows) in enumerate(profiles):
        base = pd.Timestamp("2024-01-01")
        lpdf = pd.DataFrame(
            {"lk": [k for k, _ in lrows],
             "lts": pd.Series(
                 [base + pd.Timedelta(minutes=m) for _, m in lrows]
             ).astype("datetime64[us]"),
             "lv": [f"l{i}" for i in range(len(lrows))]}
        )
        rpdf = pd.DataFrame(
            {"rk": [k for k, _ in rrows],
             "rts": pd.Series(
                 [base + pd.Timedelta(minutes=m) for _, m in rrows]
             ).astype("datetime64[us]"),
             "rv": [f"r{i}" for i in range(len(rrows))]}
        )
        d = tmp_path / f"case{case}"
        for name, pdf in (("l", lpdf), ("r", rpdf)):
            (d / name).mkdir(parents=True)
            n = max(1, len(pdf))
            for i in range(2):
                chunk = pdf.iloc[i * n // 2:(i + 1) * n // 2]
                chunk.to_parquet(d / name / f"part-{i}.parquet",
                                 index=False)
        lt = (spark.readStream
              .schema("lk long, lts timestamp_ntz, lv string")
              .option("maxFilesPerTrigger", 1).parquet(str(d / "l")))
        rt = (spark.readStream
              .schema("rk long, rts timestamp_ntz, rv string")
              .option("maxFilesPerTrigger", 1).parquet(str(d / "r")))
        lc, rc = ["lk", "lts", "lv"], ["rk", "rts", "rv"]
        got = sorted(
            (r.lk, str(r.lts), r.lv, r.rk, str(r.rts), r.rv)
            for r in delta_join(
                tag_union(lt, rt, lc, rc), lc, rc, ["lk"], ["rk"],
                num_buckets=2, ttl="3 minutes", left_ts="lts",
                right_ts="rts", compact_every=2,
                root=str(d / "root"),
            ).collect()
        )
        exp = sorted(
            (lr.lk, str(lr.lts), lr.lv, rr.rk, str(rr.rts), rr.rv)
            for _, lr in lpdf.iterrows()
            for _, rr in rpdf.iterrows()
            if lr.lk == rr.rk
            and abs((lr.lts - rr.rts).total_seconds()) <= 180.0
        )
        assert got == exp, (case, got, exp)


# --- CDC envelope decode == final-state model (r12, audit sev-1) -----------------


_CDC_OPS = st.lists(
    st.tuples(
        st.sampled_from([1, 2, 3]),               # key
        st.sampled_from(["c", "u", "d"]),         # op
        st.integers(0, 99),                        # new value
    ),
    min_size=1, max_size=12,
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_CDC_OPS, fmt=st.sampled_from(["debezium", "canal", "maxwell",
                                          "ogg"]))
def test_cdc_envelopes_match_state_model(spark, ops, fmt):
    """Random change sequences encoded as each CDC envelope format,
    decoded, and folded with changelog.materialize == a python dict
    replay of the same sequence (the four decoders must agree on
    RowKind emission for the fold to land on the same final state)."""
    from flink_spark.streaming import cdc
    from flink_spark.streaming.changelog import materialize

    # build envelopes + the reference state by replaying the ops
    state: dict[int, int] = {}
    envs = []
    for seq, (k, op, v) in enumerate(ops):
        before = state.get(k)
        if op == "c":
            if before is not None:
                op = "u"  # a second insert is an update in substance
        if op in ("u", "d") and before is None:
            op = "c" if op == "u" else None
        if op is None:
            continue
        if op == "c":
            state[k] = v
        elif op == "u":
            state[k] = v
        else:
            del state[k]
        b = (None if before is None
             else {"k": k, "v": before, "seq": seq})
        a = None if op == "d" else {"k": k, "v": v, "seq": seq}
        if fmt == "debezium":
            envs.append(json.dumps(
                {"before": b, "after": a,
                 "op": {"c": "c", "u": "u", "d": "d"}[op]}))
        elif fmt == "canal":
            envs.append(json.dumps({
                "type": {"c": "INSERT", "u": "UPDATE", "d": "DELETE"}[op],
                "data": [a if a is not None else b],
                "old": [b] if op == "u" else None,
            }))
        elif fmt == "maxwell":
            envs.append(json.dumps({
                "type": {"c": "insert", "u": "update", "d": "delete"}[op],
                "data": a if a is not None else b,
                "old": b if op == "u" else None,
            }))
        else:  # ogg
            envs.append(json.dumps({
                "op_type": {"c": "I", "u": "U", "d": "D"}[op],
                "before": b, "after": a,
            }))
    if not envs:
        return
    df = spark.createDataFrame([(e,) for e in envs], "value string")
    decode = {"debezium": cdc.decode_debezium, "canal": cdc.decode_canal,
              "maxwell": cdc.decode_maxwell, "ogg": cdc.decode_ogg}[fmt]
    changelog = decode(df, "value", "k int, v int, seq long")
    final = materialize(changelog, ["k"], ["seq"])
    got = {r.k: r.v for r in final.collect()}
    assert got == state, (fmt, ops, got, state)


# --- approx_count_distinct error bound (r12, audit sev-1) ------------------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.sampled_from([1, 10, 100, 2000]),
    rsd=st.sampled_from([0.05, 0.01]),
)
def test_approx_count_distinct_error_bound(spark, n, rsd):
    """HLL++ relative error stays within 5·rsd of the exact distinct
    count across cardinality regimes (deterministic input → the
    estimate is reproducible; the loose multiple keeps the bound
    honest without flaking on HLL bias corners)."""
    df = spark.range(n * 3).select((F.col("id") % n).alias("v"))
    got = df.agg(
        F.approx_count_distinct("v", rsd).alias("a")
    ).collect()[0].a
    assert abs(got - n) <= max(1, 5 * rsd * n), (n, rsd, got)


# --- window TVF assignment == python model (r12, audit sev-1) --------------------

_WTS = st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 120)),
    min_size=1, max_size=20,
)


def _mins(m):
    import datetime

    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_WTS)
def test_window_tvfs_match_model(spark, rows):
    """tumble / hop / cumulate / tumble-offset assignment == the window
    arithmetic model (reference SliceAssigners semantics): every row's
    emitted window set compared exactly, minute-granular."""
    from flink_spark.operators.windows import (
        cumulate,
        hop,
        tumble,
        tumble_offset,
    )

    df = spark.createDataFrame(
        [(k, _mins(m), i) for i, (k, m) in enumerate(rows)],
        "k string, ts timestamp_ntz, rid long",
    )

    def got_windows(out):
        d: dict = {}
        for r in out.select("rid", "window_start").collect():
            d.setdefault(r.rid, set()).add(str(r.window_start))
        return d

    # TUMBLE 10m: start = floor(m/10)*10
    got = got_windows(tumble(df, "ts", "10 minutes"))
    exp = {
        i: {str(_mins(m // 10 * 10))} for i, (_, m) in enumerate(rows)
    }
    assert got == exp
    # HOP slide 5m size 15m: starts s=5k with s <= m < s+15
    got = got_windows(hop(df, "ts", "5 minutes", "15 minutes"))
    exp = {
        i: {
            str(_mins(s))
            for s in range(-15, 121, 5)
            if s <= m < s + 15
        }
        for i, (_, m) in enumerate(rows)
    }
    assert got == exp
    # TUMBLE 10m OFFSET 3m: start = floor((m-3)/10)*10 + 3
    got = got_windows(tumble_offset(df, "ts", "10 minutes", "3 minutes"))
    exp = {
        i: {str(_mins((m - 3) // 10 * 10 + 3))}
        for i, (_, m) in enumerate(rows)
    }
    assert got == exp
    # CUMULATE step 5m size 15m: base S=floor(m/15)*15, ends S+5k > m
    out = cumulate(df, "ts", "5 minutes", "15 minutes")
    got_ends: dict = {}
    for r in out.select("rid", "window_end").collect():
        got_ends.setdefault(r.rid, set()).add(str(r.window_end))
    exp_ends = {}
    for i, (_, m) in enumerate(rows):
        s = m // 15 * 15
        exp_ends[i] = {
            str(_mins(e)) for e in range(s + 5, s + 16, 5) if e > m
        }
    assert got_ends == exp_ends


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_WTS, gap=st.sampled_from([3, 7, 15]))
def test_session_window_matches_merge_model(spark, rows, gap):
    """session() == the greedy gap-merge model per key: sessions split
    where consecutive gaps exceed `gap`; end = last event + gap."""
    from flink_spark.operators.windows import session

    df = spark.createDataFrame(
        [(k, _mins(m)) for k, m in rows],
        "k string, ts timestamp_ntz",
    )
    agg = (
        session(df, "ts", f"{gap} minutes")
        .groupBy("k", "__w")
        .count()
        .select(
            "k", F.col("__w.start").alias("s"),
            F.col("__w.end").alias("e"), "count",
        )
    )
    got = sorted(
        (r.k, str(r.s), str(r.e), r["count"]) for r in agg.collect()
    )
    exp = []
    per_key: dict = {}
    for k, m in rows:
        per_key.setdefault(k, []).append(m)
    for k, ms in per_key.items():
        ms.sort()
        cur = [ms[0]]
        for m in ms[1:]:
            # TOUCHING sessions merge (inclusive boundary): both Spark's
            # session_window and the reference's TimeWindow.intersects
            # treat an event at exactly last+gap as the same session
            if m - cur[-1] > gap:
                exp.append((k, str(_mins(cur[0])),
                            str(_mins(cur[-1] + gap)), len(cur)))
                cur = [m]
            else:
                cur.append(m)
        exp.append((k, str(_mins(cur[0])),
                    str(_mins(cur[-1] + gap)), len(cur)))
    assert got == sorted(exp), (rows, gap, got, sorted(exp))


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_WTS, n=st.sampled_from([1, 2, 4]))
def test_count_window_and_evictors_match_model(spark, rows, n):
    """count_window ids and the three evictors == python models over
    per-key event order (reference CountTumblingWindowAssigner,
    Time/Count/DeltaEvictor)."""
    from flink_spark.operators.evictors import (
        count_evictor,
        delta_evictor,
        time_evictor,
    )
    from flink_spark.operators.windows import count_window

    df = spark.createDataFrame(
        [(k, _mins(m), i, float(m)) for i, (k, m) in enumerate(rows)],
        "k string, ts timestamp_ntz, rid long, v double",
    )
    # count windows: id = (per-key rank by (ts, rid) - 1) // n
    got = {
        r.rid: (r.k, r.window_id)
        for r in count_window(df, ["k"], ["ts", "rid"], n).collect()
    }
    order: dict = {}
    for i, (k, m) in enumerate(rows):
        order.setdefault(k, []).append((m, i))
    exp = {}
    for k, lst in order.items():
        for rank, (_, i) in enumerate(sorted(lst)):
            exp[i] = (k, rank // n)
    assert got == exp
    # evictors over the per-key "window" (key = the window here)
    kept = {
        r.rid for r in time_evictor(df, ["k"], "ts", "10 minutes").collect()
    }
    exp_kept = set()
    for k, lst in order.items():
        mx = max(m for m, _ in lst)
        exp_kept |= {i for m, i in lst if m > mx - 10}
    assert kept == exp_kept
    kept = {
        r.rid
        for r in count_evictor(df, ["k"], ["ts", "rid"], n).collect()
    }
    exp_kept = {
        i for k, lst in order.items()
        for _, i in sorted(lst)[-n:]
    }
    assert kept == exp_kept
    kept = {
        r.rid
        for r in delta_evictor(
            df, ["k"], ["ts", "rid"], "v", 20.0
        ).collect()
    }
    exp_kept = set()
    for k, lst in order.items():
        last_v = float(sorted(lst)[-1][0])
        exp_kept |= {i for m, i in lst if abs(float(m) - last_v) <= 20.0}
    assert kept == exp_kept


# --- streaming changelog operators == replay models (r12, audit sev-1) -----------
#
# One availableNow drain per derandomized profile (the delta-join
# pattern): chunked files arrive as ordered micro-batches
# (maxFilesPerTrigger=1 + mtimes), so the python replay model knows the
# exact batch sequence the keyed state saw.


def _land_chunks(spark, tmp_path, name, chunks, schema):
    import os

    d = tmp_path / name
    d.mkdir()
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(rows, schema)
        staging = tmp_path / f"_stg_{name}_{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        import glob as _g
        import shutil as _sh

        (part,) = _g.glob(str(staging / "part-*.parquet"))
        dest = str(d / f"b{i}.parquet")
        _sh.move(part, dest)
        t = 1_600_000_000 + i * 60
        os.utime(dest, (t, t))
    return d


def _drain_to(spark, out, sink, ckpt):
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(str(sink))


def test_changelog_normalize_matches_replay_model(spark, tmp_path):
    """changelog_normalize == the version-replay model: versions emit in
    (batch order, per-batch seq order); the first overall is +I, every
    later one a (-U prev, +U cur) pair chaining through state across
    batches — including late (seq-regressing) versions, which the
    operator treats as NEW versions (arrival order wins across batches;
    the model mirrors that contract)."""
    from flink_spark.streaming import changelog as CL

    profiles = [
        # chunks of (k, seq, v)
        [[(1, 1, "a")], [(1, 2, "b")], [(1, 3, "c")]],
        [[(1, 2, "a"), (1, 1, "z")], [(2, 1, "x")], [(1, 3, "b"),
                                                     (2, 2, "y")]],
        [[(1, 5, "a")], [(1, 4, "late")], []],
        [[(1, 1, "a"), (2, 1, "b"), (1, 2, "c")]],
    ]
    for case, chunks in enumerate(profiles):
        d = _land_chunks(spark, tmp_path, f"cn{case}", chunks,
                         "k int, seq int, v string")
        stream = (
            spark.readStream.schema("k int, seq int, v string")
            .option("maxFilesPerTrigger", 1).parquet(str(d))
        )
        out = CL.changelog_normalize(stream, ["k"], ["seq"])
        got = sorted(
            map(tuple, _drain_to(
                spark, out, tmp_path / f"cns{case}",
                tmp_path / f"cnc{case}").collect())
        )
        exp = []
        state: dict = {}
        for batch in chunks:
            for k, seq, v in sorted(batch, key=lambda r: r[1]):
                prev = state.get(k)
                if prev is None:
                    exp.append((CL.OP_INSERT, k, seq, v))
                else:
                    exp.append((CL.OP_UPDATE_BEFORE, *prev))
                    exp.append((CL.OP_UPDATE_AFTER, k, seq, v))
                state[k] = (k, seq, v)
        assert got == sorted(exp), (case, got, sorted(exp))


def test_streaming_topn_changelog_net_state_matches_batch(spark, tmp_path):
    """streaming_topn's rank-movement changelog, net-applied, lands on
    the batch Top-N: per emitted row, #(+I) − #(−D) ∈ {0,1}, and the
    net survivors equal the batch top-n multiset — across profiles
    with ties, displacement chains, and per-key partitions. With
    ``ttl``, the survivors are the union over TTL islands of each
    island's top-n: a partition's rows, in (batch, per-batch ts) order,
    split where the gap since the previous row is > ttl (expired boards
    are never retracted; a gap of exactly ttl does not expire)."""
    from flink_spark.streaming import changelog as CL

    profiles = [
        # chunks of (g, score, rid, minute), ttl in minutes or None
        ([[("g", 10, 1, 1)], [("g", 20, 2, 2)], [("g", 30, 3, 3)]],
         None),                                               # displace
        ([[("g", 10, 1, 1), ("g", 10, 2, 2)], [("g", 10, 3, 3)]],
         None),                                               # ties
        ([[("a", 5, 1, 1), ("b", 7, 2, 2)], [("a", 9, 3, 3), ("b", 1, 4, 4)]],
         None),
        ([[("g", 3, 1, 1), ("g", 2, 2, 2), ("g", 1, 3, 3)], [("g", 0, 4, 4)]],
         None),
        # TTL gap across a batch boundary
        ([[("g", 10, 1, 0), ("g", 20, 2, 1), ("g", 30, 3, 2)],
          [("g", 5, 4, 20), ("g", 1, 5, 21)]], 10),
        # TTL gap inside one batch; h's 9-minute gaps never expire
        ([[("g", 10, 1, 0), ("g", 20, 2, 1), ("g", 5, 3, 15),
           ("g", 7, 4, 16), ("h", 1, 5, 0), ("h", 2, 6, 9),
           ("h", 3, 7, 18)], [("g", 8, 8, 20)]], 10),
        # gaps of exactly ttl: one island, 10 is displaced with a -D
        ([[("g", 10, 1, 0)], [("g", 20, 2, 10), ("g", 30, 3, 20)]], 10),
    ]
    n = 2
    schema = "g string, score long, rid long, ts timestamp"
    for case, (chunks, ttl) in enumerate(profiles):
        d = _land_chunks(
            spark, tmp_path, f"tn{case}",
            [[(g, s_, rid, _mins(m)) for g, s_, rid, m in c] for c in chunks],
            schema,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(d))
        )
        out = CL.streaming_topn(
            stream, ["g"], ["score", "rid"], n,
            ascending=[False, True],
            ttl=None if ttl is None else ("ts", f"{ttl} minutes"),
        )
        rows = _drain_to(spark, out, tmp_path / f"tns{case}",
                         tmp_path / f"tnc{case}").collect()
        net: dict = {}
        for r in rows:
            t = (r.g, r.score, r.rid)
            if r.op == CL.OP_INSERT:
                net[t] = net.get(t, 0) + 1
            elif r.op == CL.OP_DELETE:
                net[t] = net.get(t, 0) - 1
        assert all(v in (0, 1) for v in net.values()), (case, net)
        survivors = sorted(t for t, v in net.items() if v == 1)
        # model: per group, split into TTL islands, top-n by (-score, rid)
        islands: dict = {}
        last: dict = {}
        for batch in chunks:
            for g, s_, rid, m in sorted(batch, key=lambda r: (r[3], *r[:3])):
                if g not in last or (ttl is not None and m - last[g] > ttl):
                    islands.setdefault(g, []).append([])
                islands[g][-1].append((s_, rid))
                last[g] = m
        exp = [
            (g, s_, rid)
            for g, isl in islands.items() for lst in isl
            for s_, rid in sorted(lst, key=lambda t: (-t[0], t[1]))[:n]
        ]
        assert survivors == sorted(exp), (case, survivors, sorted(exp))


def test_dedup_keep_first_matches_arrival_model(spark, tmp_path):
    """dedup_keep_first == the arrival model: the FIRST batch containing
    a key contributes its seq-min row; later batches are absorbed even
    when they carry an earlier seq (state already holds the winner) —
    the documented event-time-within-arrival contract. With ``ttl``,
    every row refreshes the key and a row more than ttl after the key's
    previous row re-emits (a gap of exactly ttl does not)."""
    from flink_spark.streaming import changelog as CL

    profiles = [
        # chunks of (k, minute, v), ttl in minutes or None
        ([[(1, 3, "a"), (1, 1, "b")], [(1, 0, "late")]], None),
        ([[(1, 2, "a")], [(2, 9, "b"), (2, 1, "c")], [(1, 1, "d")]], None),
        ([[(1, 1, "x"), (2, 2, "y"), (1, 0, "z")]], None),
        # TTL gap across a batch boundary
        ([[(1, 0, "a"), (1, 5, "b")], [(1, 20, "c"), (1, 25, "d")]], 10),
        # TTL gap inside one batch
        ([[(1, 0, "a"), (1, 11, "b"), (1, 12, "c"), (2, 3, "x")]], 10),
        # a gap of exactly ttl does not expire
        ([[(1, 0, "a")], [(1, 10, "b"), (1, 21, "c")]], 10),
    ]
    schema = "k int, ts timestamp, v string"
    for case, (chunks, ttl) in enumerate(profiles):
        d = _land_chunks(
            spark, tmp_path, f"df{case}",
            [[(k, _mins(m), v) for k, m, v in c] for c in chunks], schema,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(d))
        )
        out = CL.dedup_keep_first(
            stream, ["k"], ["ts"],
            ttl=None if ttl is None else ("ts", f"{ttl} minutes"),
        )
        got = sorted(
            map(tuple, _drain_to(
                spark, out, tmp_path / f"dfs{case}",
                tmp_path / f"dfc{case}").collect())
        )
        exp = []
        last: dict = {}
        for batch in chunks:
            for k, m, v in sorted(batch, key=lambda r: r[1]):
                if k not in last or (ttl is not None and m - last[k] > ttl):
                    exp.append((k, _mins(m), v))
                last[k] = m
        assert got == sorted(exp), (case, got, sorted(exp))
    with pytest.raises(ValueError, match="seq_cols"):
        CL.dedup_keep_first(stream, ["k"], ["v", "ts"],
                            ttl=("ts", "10 minutes"))


# --- ML_PREDICT == numpy model (r12, audit sev-1) --------------------------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.lists(st.integers(-5, 5).map(float), min_size=3, max_size=3),
        min_size=1, max_size=12,
    ),
    w=st.lists(st.integers(-3, 3).map(float), min_size=3, max_size=3),
)
def test_ml_predict_matches_numpy_model(spark, rows, w):
    """ml_predict with a linear model == the numpy dot-product computed
    in-process: batch serving must neither reorder rows nor perturb the
    arithmetic, whatever the Arrow batch split."""
    from flink_spark.functions.ml import ml_predict

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)],
        "rid long, features array<double>",
    )

    def factory(dim):
        import numpy as np

        weights = np.array(w)

        def model(x):
            return {"score": (x @ weights)}

        return model

    got = {
        r.rid: r.score
        for r in ml_predict(
            df, factory, "features", result_schema="score double"
        ).collect()
    }
    exp = {
        i: sum(a * b for a, b in zip(v, w)) for i, v in enumerate(rows)
    }
    for i in exp:
        assert got[i] == pytest.approx(exp[i], rel=1e-12), (i, got, exp)


# --- group-agg retract / over-agg / temporal sort replay models (r12) ------------


def test_group_agg_retract_matches_replay_model(spark, tmp_path):
    """group_agg_retract == the accumulator replay: per key, rows in
    (batch order, per-batch seq order) emit +I(first) then
    -U(old agg)/+U(new agg) per update, with (count, sum) chaining
    across batches. With ``ttl``, a row more than ttl after the key's
    previous row resets the accumulator silently and re-emits +I (a
    gap of exactly ttl does not)."""
    from flink_spark.streaming import changelog as CL

    profiles = [
        # chunks of (k, minute, v), ttl in minutes or None
        ([[(1, 1, 10)], [(1, 2, 5)], [(1, 3, -2)]], None),
        ([[(1, 2, 4), (1, 1, 6), (2, 1, 1)], [(2, 2, 3), (1, 3, 0)]], None),
        ([[(1, 1, 7), (2, 1, 8), (1, 2, 9)]], None),
        # TTL gap across a batch boundary
        ([[(1, 0, 10), (1, 5, 5)], [(1, 20, 3), (1, 25, 1)]], 10),
        # TTL gap inside one batch
        ([[(1, 0, 4), (1, 11, 6), (1, 12, 1), (2, 3, 2)]], 10),
        # a gap of exactly ttl does not expire
        ([[(1, 0, 7)], [(1, 10, 8), (1, 21, 9)]], 10),
    ]
    schema = "k int, ts timestamp, v long"
    for case, (chunks, ttl) in enumerate(profiles):
        d = _land_chunks(
            spark, tmp_path, f"gar{case}",
            [[(k, _mins(m), v) for k, m, v in c] for c in chunks], schema,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(d))
        )
        out = CL.group_agg_retract(
            stream, ["k"], "v", ["ts"],
            ttl=None if ttl is None else ("ts", f"{ttl} minutes"),
        )
        got = sorted(
            map(tuple, _drain_to(
                spark, out, tmp_path / f"gars{case}",
                tmp_path / f"garc{case}").collect())
        )
        exp = []
        state: dict = {}
        for batch in chunks:
            for k, m, v in sorted(batch, key=lambda r: r[1]):
                cnt, total, last = state.get(k, (0, 0, None))
                if ttl is not None and last is not None and m - last > ttl:
                    cnt, total = 0, 0
                if cnt:
                    exp.append((CL.OP_UPDATE_BEFORE, k, cnt, total))
                    exp.append((CL.OP_UPDATE_AFTER, k, cnt + 1, total + v))
                else:
                    exp.append((CL.OP_INSERT, k, 1, v))
                state[k] = (cnt + 1, total + v, m)
        assert got == sorted(exp), (case, got, sorted(exp))
    with pytest.raises(ValueError, match="seq_cols"):
        CL.group_agg_retract(stream, ["k"], "v", ["v", "ts"],
                             ttl=("ts", "10 minutes"))


def test_streaming_over_rows_matches_prefix_model(spark, tmp_path):
    """streaming_over_rows == the per-key prefix count/sum over rows in
    (batch, seq) order — accumulators carried across batches."""
    from flink_spark.streaming.overagg import streaming_over_rows

    profiles = [
        [[(1, 1, 10)], [(1, 2, 5)]],
        [[(1, 2, 4), (2, 1, 7), (1, 1, 6)], [(1, 3, 1), (2, 2, 2)]],
    ]
    for case, chunks in enumerate(profiles):
        d = _land_chunks(spark, tmp_path, f"sor{case}", chunks,
                         "k int, seq int, v long")
        stream = (
            spark.readStream.schema("k int, seq int, v long")
            .option("maxFilesPerTrigger", 1).parquet(str(d))
        )
        out = streaming_over_rows(stream, ["k"], ["seq"], "v")
        got = sorted(
            (r.k, r.seq, r.running_cnt, r.running_sum)
            for r in _drain_to(
                spark, out, tmp_path / f"sors{case}",
                tmp_path / f"sorc{case}").collect()
        )
        exp = []
        state: dict = {}
        for batch in chunks:
            for k, seq, v in sorted(batch, key=lambda r: r[1]):
                cnt, total = state.get(k, (0, 0))
                state[k] = (cnt + 1, total + v)
                exp.append((k, seq, cnt + 1, float(total + v)))
        # running_sum may come back int or float depending on schema
        got = [(a, b, c, float(d_)) for a, b, c, d_ in got]
        assert got == sorted(exp), (case, got, sorted(exp))


def test_temporal_sort_matches_seq_model(spark, tmp_path):
    """temporal_sort == per-key seq numbering over (batch, ts) order,
    with the TTL variant restarting the counter when the EVENT-TIME gap
    between consecutive rows exceeds the TTL (the documented
    event-time-gap contract)."""
    import datetime

    from flink_spark.streaming.temporal_sort import temporal_sort

    def mins(m):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)

    profiles = [
        ([[("a", 0), ("a", 1)], [("a", 2)]], None),
        ([[("a", 0), ("a", 1)], [("a", 30), ("b", 31)]], "10 minutes"),
        ([[("a", 0), ("a", 25), ("a", 26)]], "10 minutes"),
    ]
    sentinel = datetime.datetime(2099, 1, 1)
    for case, (chunks, ttl) in enumerate(profiles):
        rows_chunks = [
            [(k, mins(m), i * 100 + j) for j, (k, m) in enumerate(batch)]
            for i, batch in enumerate(chunks)
        ]
        # two trailing sentinel batches: the first advances the watermark
        # past every real row, the second gives the event-time timers a
        # batch to fire in (buffered rows emit then)
        rows_chunks.append([("zz", sentinel, 9001)])
        rows_chunks.append([("zz", sentinel + datetime.timedelta(1), 9002)])
        d = _land_chunks(spark, tmp_path, f"ts{case}", rows_chunks,
                         "k string, ts timestamp, rid long")
        stream = (
            spark.readStream.schema("k string, ts timestamp, rid long")
            .option("maxFilesPerTrigger", 1).parquet(str(d))
            .withWatermark("ts", "1 second")
        )
        out = temporal_sort(stream, ["k"], "ts", ["rid"], state_ttl=ttl)
        got = sorted(
            (r.k, str(r.ts), r.seq)
            for r in _drain_to(
                spark, out, tmp_path / f"tss{case}",
                tmp_path / f"tsc{case}").collect()
            if r.k != "zz"
        )
        ttl_min = (int(ttl.split()[0]) if ttl else None)
        exp = []
        state: dict = {}
        for i, batch in enumerate(chunks):
            for j, (k, m) in enumerate(sorted(batch, key=lambda r: r[1])):
                seq, last = state.get(k, (0, None))
                if (ttl_min is not None and last is not None
                        and m - last > ttl_min):
                    seq = 0
                seq += 1
                state[k] = (seq, m)
                exp.append((k, str(mins(m)), seq))
        assert got == sorted(exp), (case, ttl, got, sorted(exp))


# --- window join / drop-update-before / exact dedup models (r12) -----------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lrows=st.lists(st.tuples(st.sampled_from(["a", "b"]),
                             st.integers(0, 60)),
                   min_size=1, max_size=12),
    rrows=st.lists(st.tuples(st.sampled_from(["a", "b"]),
                             st.integers(0, 60)),
                   min_size=1, max_size=12),
    how=st.sampled_from(["inner", "left"]),
)
def test_window_join_matches_model(spark, lrows, rrows, how):
    """window_join == pair rows sharing the same tumbling window AND
    keys (reference WindowJoinOperator): inner and left-outer, minute
    granularity, 10-minute windows."""
    from flink_spark.operators.joins import window_join

    left = spark.createDataFrame(
        [(k, _mins(m), i) for i, (k, m) in enumerate(lrows)],
        "lk string, lts timestamp_ntz, lid long",
    )
    right = spark.createDataFrame(
        [(k, _mins(m), i) for i, (k, m) in enumerate(rrows)],
        "rk string, rts timestamp_ntz, rid long",
    )
    out = window_join(
        left, right, "lts", "rts", "10 minutes", [("lk", "rk")], how=how
    )
    key = lambda t: (t[0], t[1] is not None, t[1] if t[1] is not None else -1)
    got = sorted(
        ((r.lid, r.rid) for r in out.select("lid", "rid").collect()),
        key=key,
    )
    exp = []
    for i, (lk, lm) in enumerate(lrows):
        matches = [
            j for j, (rk, rm) in enumerate(rrows)
            if rk == lk and rm // 10 == lm // 10
        ]
        if matches:
            exp.extend((i, j) for j in matches)
        elif how == "left":
            exp.append((i, None))
    assert got == sorted(exp, key=key), (lrows, rrows, how, got, exp)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(st.sampled_from(["+I", "-U", "+U", "-D"]),
                    min_size=1, max_size=16))
def test_drop_update_before_matches_filter_model(spark, ops):
    """drop_update_before == drop exactly the -U rows, keep everything
    else byte-identical (the upsert-consumer contract)."""
    from flink_spark.streaming import changelog as CL

    df = spark.createDataFrame(
        [(op, i) for i, op in enumerate(ops)], "op string, rid long"
    )
    got = sorted(
        (r.op, r.rid) for r in CL.drop_update_before(df).collect()
    )
    exp = sorted(
        (op, i) for i, op in enumerate(ops) if op != CL.OP_UPDATE_BEFORE
    )
    assert got == exp


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.sampled_from(["hello  world", "Hello World", " hello world ",
                         "HELLO\tWORLD", "other doc", "OTHER  DOC",
                         "unique"]),
        min_size=1, max_size=14,
    )
)
def test_exact_dedup_matches_normalization_model(spark, docs):
    """dedup_exact == the whitespace-collapse + casefold fingerprint
    model: min-id survivor and copy count per normalized group."""
    import re as _re

    from flink_spark.llm.dedup import dedup_exact

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = sorted(
        (r.keep_id, r.n_copies) for r in dedup_exact(df).collect()
    )
    groups: dict = {}
    for i, d in enumerate(docs):
        norm = _re.sub(r"\s+", " ", d.strip()).lower()
        groups.setdefault(norm, []).append(i)
    exp = sorted((min(v), len(v)) for v in groups.values())
    assert got == exp, (docs, got, exp)
