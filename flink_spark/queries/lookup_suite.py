"""Lookup join coverage (reference StreamExecLookupJoin.java:82,
LookupJoinRunner.java / AsyncLookupJoinRunner.java): probe an external
key-value system per input row, batched and cached.

The external system here is a deterministic in-process KV built from the
customer table (what a real deployment would back with Redis/JDBC/HTTP),
so the enrichment is value-checkable against a plain SQL join."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_spark.operators.joins import lookup_join
from flink_spark.queries.registry import query
from flink_spark.queries.util import DEC
from flink_spark.sources.tables import load_table


@query(
    "lookup_join_events",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_id < 2000
    """,
)
def lookup_join_events(spark, sf_dir):
    """Arrow-batched lookup join: one cache probe per distinct key per
    batch (the Spark analog of Flink's LookupJoinRunner + LRU cache —
    mapInPandas keeps the cache executor-local, so at scale each executor
    pays one RPC per cold key, not one per row)."""
    import pyarrow.parquet as pq

    dim = pq.read_table(
        f"{sf_dir}/customer.parquet",
        columns=["c_custkey", "c_name", "c_mktsegment"],
    ).to_pandas()
    kv = {
        int(r.c_custkey): {"c_name": r.c_name, "c_mktsegment": r.c_mktsegment}
        for r in dim.itertuples()
    }

    def build_lookup(keys):
        # stands in for the external probe; receives only cache misses
        return {k: kv.get(int(k), {}) for k in keys}

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000).select(
        "event_id", "user_id"
    )
    return lookup_join(
        ev, build_lookup, key="user_id",
        result_schema="c_name STRING, c_mktsegment STRING",
    )


@query(
    "async_lookup_join_events",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name AS cust_name,
           c.c_acctbal AS cust_acctbal
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'signup'
    """,
)
def async_lookup_join_events(spark, sf_dir):
    """Async lookup join (reference AsyncLookupFunction + AsyncWaitOperator
    ordered mode): signup events enriched against the customer "service" —
    an async callable per distinct key, gathered concurrently per Arrow
    batch with an executor-local cache."""
    import os

    from flink_spark.operators.joins import async_lookup_join

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    ).select("event_id", "user_id")

    path = os.path.join(sf_dir, "customer.parquet")

    def make_lookup():
        state = {}

        async def lookup(k):
            if "df" not in state:
                import pandas as pd

                pdf = pd.read_parquet(path, columns=["c_custkey", "c_name", "c_acctbal"])
                state["df"] = pdf.set_index("c_custkey")
            df = state["df"]
            if k in df.index:
                r = df.loc[k]
                return {"cust_name": r["c_name"], "cust_acctbal": float(r["c_acctbal"])}
            return {}

        return lookup

    out = async_lookup_join(
        ev, make_lookup(), key="user_id",
        result_schema="cust_name string, cust_acctbal double",
    )
    return out.where(F.col("cust_name").isNotNull()).select(
        "event_id", "user_id", "cust_name", "cust_acctbal"
    )


@query(
    "format_protobuf_roundtrip",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_value,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    GROUP BY event_type
    """,
)
def format_protobuf_roundtrip(spark, sf_dir):
    """Protobuf format (reference flink-formats/flink-protobuf
    PbCodegenSerializer/Deserializer): events rows serialized to proto3
    wire bytes and decoded back, then aggregated — the aggregate equals
    the one over the original table iff the codec is lossless. The codec
    is the Arrow-batched pure-Python wire codec
    (flink_spark/formats/protobuf.py), which emits standard proto3 wire
    format."""
    from flink_spark.formats.protobuf import decode_protobuf, encode_protobuf
    from flink_spark.queries.util import dsum

    FIELDS = [
        ("event_id", 1, "int64"),
        ("event_type", 2, "string"),
        ("value", 3, "double"),
    ]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    enc = encode_protobuf(ev, FIELDS)
    dec = decode_protobuf(enc, "pb", FIELDS)
    return dec.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum("value", "sum_value"),
        F.sum("event_id").alias("id_sum"),
    )
