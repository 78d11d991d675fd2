"""CDC ingestion: Debezium-envelope JSON → changelog rows.

Reference surface: flink-formats/flink-json debezium-json format
(DebeziumJsonDeserializationSchema — `op` c/r/u/d with before/after
payloads → RowKind INSERT/UPDATE_BEFORE/UPDATE_AFTER/DELETE). The decoded
stream plugs straight into the changelog layer (streaming/changelog.py):
`changelog.materialize` folds it to the final row per key, the same fold
the upsert sink applies exactly-once via foreachBatch MERGE.

All decoding is `from_json` + column expressions — JVM-side, linear scan,
no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_spark.catalog import _split_top_level
from flink_spark.streaming.changelog import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE_AFTER,
    OP_UPDATE_BEFORE,
)

# debezium op → (rowkind, take-before?) ; 'r' (snapshot read) maps to +I
_OP_MAP = [("c", OP_INSERT, False), ("r", OP_INSERT, False),
           ("d", OP_DELETE, True)]


def decode_debezium(df: DataFrame, value_col: str, payload_schema: str) -> DataFrame:
    """Decode a Debezium JSON envelope column into changelog rows.

    ``payload_schema``: DDL of the record payload (the before/after shape).
    Emits one row per envelope for c/r/d, and TWO rows (-U from `before`,
    +U from `after`) for u — exactly the reference's emitted RowKinds.
    """
    env = F.from_json(
        F.col(value_col),
        f"struct<op string, before struct<{payload_schema}>, "
        f"after struct<{payload_schema}>>",
    )
    d = df.withColumn("__env", env)
    parts = []
    for dbz_op, kind, use_before in _OP_MAP:
        side = "before" if use_before else "after"
        parts.append(
            d.filter(F.col("__env.op") == dbz_op).select(
                F.lit(kind).alias("op"), F.col(f"__env.{side}.*")
            )
        )
    upd = d.filter(F.col("__env.op") == "u")
    parts.append(
        upd.select(F.lit(OP_UPDATE_BEFORE).alias("op"), F.col("__env.before.*"))
    )
    parts.append(
        upd.select(F.lit(OP_UPDATE_AFTER).alias("op"), F.col("__env.after.*"))
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def decode_canal(df: DataFrame, value_col: str, payload_schema: str) -> DataFrame:
    """Decode a Canal JSON envelope (reference flink-formats/flink-json
    canal-json, CanalJsonDeserializationSchema): ``type`` INSERT/UPDATE/
    DELETE with ``data`` (array of rows) and ``old`` (array of changed
    columns for UPDATE). Emits the same RowKinds as decode_debezium;
    UPDATE merges ``old`` over ``data`` for the -U image (Canal sends only
    changed columns in ``old``)."""
    env = F.from_json(
        F.col(value_col),
        f"struct<type string, data array<struct<{payload_schema}>>, "
        f"old array<struct<{payload_schema}>>>",
    )
    d = df.withColumn("__env", env)
    ins = (
        d.filter(F.col("__env.type") == "INSERT")
        .select(F.explode("__env.data").alias("__r"))
        .select(F.lit(OP_INSERT).alias("op"), F.col("__r.*"))
    )
    dele = (
        d.filter(F.col("__env.type") == "DELETE")
        .select(F.explode("__env.data").alias("__r"))
        .select(F.lit(OP_DELETE).alias("op"), F.col("__r.*"))
    )
    upd = d.filter(F.col("__env.type") == "UPDATE").select(
        F.arrays_zip("__env.data", "__env.old").alias("__z")
    ).select(F.explode("__z").alias("__p"))
    fields = [f.strip().split()[0] for f in _split_top_level(payload_schema)]
    before_cols = [
        F.coalesce(F.col(f"__p.old.{c}"), F.col(f"__p.data.{c}")).alias(c)
        for c in fields
    ]
    upd_b = upd.select(F.lit(OP_UPDATE_BEFORE).alias("op"), *before_cols)
    upd_a = upd.select(F.lit(OP_UPDATE_AFTER).alias("op"), F.col("__p.data.*"))
    out = ins
    for p in (upd_b, upd_a, dele):
        out = out.unionByName(p)
    return out


def decode_maxwell(df: DataFrame, value_col: str, payload_schema: str) -> DataFrame:
    """Decode a Maxwell JSON envelope (reference flink-formats/flink-json
    maxwell-json, MaxwellJsonDeserializationSchema): ``type`` insert/
    update/delete with ``data`` (the row) and ``old`` (changed columns'
    previous values for update)."""
    env = F.from_json(
        F.col(value_col),
        f"struct<type string, data struct<{payload_schema}>, "
        f"old struct<{payload_schema}>>",
    )
    d = df.withColumn("__env", env)
    ins = d.filter(F.col("__env.type") == "insert").select(
        F.lit(OP_INSERT).alias("op"), F.col("__env.data.*")
    )
    dele = d.filter(F.col("__env.type") == "delete").select(
        F.lit(OP_DELETE).alias("op"), F.col("__env.data.*")
    )
    upd = d.filter(F.col("__env.type") == "update")
    fields = [f.strip().split()[0] for f in _split_top_level(payload_schema)]
    before_cols = [
        F.coalesce(F.col(f"__env.old.{c}"), F.col(f"__env.data.{c}")).alias(c)
        for c in fields
    ]
    upd_b = upd.select(F.lit(OP_UPDATE_BEFORE).alias("op"), *before_cols)
    upd_a = upd.select(F.lit(OP_UPDATE_AFTER).alias("op"), F.col("__env.data.*"))
    out = ins
    for p in (upd_b, upd_a, dele):
        out = out.unionByName(p)
    return out


def decode_ogg(df: DataFrame, value_col: str, payload_schema: str) -> DataFrame:
    """Decode an Oracle GoldenGate JSON envelope (reference
    flink-formats/flink-json ogg-json, OggJsonDeserializationSchema):
    ``op_type`` I/U/D with ``before``/``after`` row images (U carries
    both). Emits the same RowKinds as decode_debezium — +I for I, -D
    from ``before`` for D, and the -U/+U pair for U."""
    env = F.from_json(
        F.col(value_col),
        f"struct<op_type string, before struct<{payload_schema}>, "
        f"after struct<{payload_schema}>>",
    )
    d = df.withColumn("__env", env)
    ins = d.filter(F.col("__env.op_type") == "I").select(
        F.lit(OP_INSERT).alias("op"), F.col("__env.after.*")
    )
    dele = d.filter(F.col("__env.op_type") == "D").select(
        F.lit(OP_DELETE).alias("op"), F.col("__env.before.*")
    )
    upd = d.filter(F.col("__env.op_type") == "U")
    upd_b = upd.select(F.lit(OP_UPDATE_BEFORE).alias("op"), F.col("__env.before.*"))
    upd_a = upd.select(F.lit(OP_UPDATE_AFTER).alias("op"), F.col("__env.after.*"))
    out = ins
    for p in (upd_b, upd_a, dele):
        out = out.unionByName(p)
    return out
