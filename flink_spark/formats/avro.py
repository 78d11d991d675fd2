"""Avro format (reference flink-formats/flink-avro AvroRowDataSerialization
Schema / AvroFileFormatFactory, and flink-avro-confluent-registry
RegistryAvroFormatFactory, AvroSchemaRegistryCoder).

The spark-avro JVM module is an external jar that may be absent, so this
is a self-contained Avro *binary* codec — zigzag-varint longs, length-
prefixed strings/bytes, IEEE little-endian floats, ``["null", T]`` unions
— plus the Object Container File framing (magic ``Obj\\x01``, metadata
map, 16-byte sync marker, record blocks). Files written here decode with
any standard Avro runtime and vice versa.

Execution shape (the 100 TB story): encode runs as one ``mapInPandas``
pass per partition writing one container file per partition — the same
file-per-task layout Spark's own writers produce; decode parallelizes by
file with one Arrow-batched pass per container. Only the avro bytes cross
the Python boundary; every other column stays JVM-side.

Confluent wire format (``avro-confluent``): magic ``0x00`` + 4-byte
big-endian schema id + raw Avro binary body (no OCF framing), with an
in-process schema-registry stand-in keyed by id.
"""

from __future__ import annotations

import io
import json
import os
import struct
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_spark.exprutil import empty_frame

MAGIC = b"Obj\x01"

# ----------------------------------------------------------- primitives --


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _write_long(out: bytearray, n: int) -> None:
    u = _zigzag(int(n)) & 0xFFFFFFFFFFFFFFFF
    while True:
        b7 = u & 0x7F
        u >>= 7
        out.append(b7 | (0x80 if u else 0))
        if not u:
            return


def _read_long(buf: bytes, i: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[i]
        i += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(u), i
        shift += 7


def _write_bytes(out: bytearray, data: bytes) -> None:
    _write_long(out, len(data))
    out.extend(data)


def _read_bytes(buf: bytes, i: int) -> tuple[bytes, int]:
    n, i = _read_long(buf, i)
    return buf[i : i + n], i + n


# -------------------------------------------------------- schema mapping --

#: Spark type → (avro type json, encoder tag)
_PRIM = {
    T.LongType: ("long", "long"),
    T.IntegerType: ("int", "long"),
    T.ShortType: ("int", "long"),
    T.ByteType: ("int", "long"),
    T.BooleanType: ("boolean", "bool"),
    T.DoubleType: ("double", "double"),
    T.FloatType: ("float", "float"),
    T.StringType: ("string", "string"),
    T.BinaryType: ("bytes", "bytes"),
}


def _field_avro(f: T.StructField) -> tuple[dict | str, str]:
    dt = type(f.dataType)
    if dt in (T.TimestampType, T.TimestampNTZType):
        return {"type": "long", "logicalType": "timestamp-micros"}, "ts-micros"
    if dt is T.DateType:
        return {"type": "int", "logicalType": "date"}, "date"
    if dt in _PRIM:
        return _PRIM[dt]
    raise ValueError(f"avro codec: unsupported Spark type {f.dataType}")


def schema_to_avro(schema: T.StructType, name: str = "record") -> dict:
    """Spark StructType → Avro record schema; every field is a nullable
    ``["null", T]`` union (Spark columns are nullable by default)."""
    fields = []
    for f in schema.fields:
        avro_t, _ = _field_avro(f)
        fields.append({"name": f.name, "type": ["null", avro_t], "default": None})
    return {"type": "record", "name": name, "fields": fields}


def _encoders(schema: T.StructType) -> list[tuple[str, str]]:
    return [(f.name, _field_avro(f)[1]) for f in schema.fields]


# ---------------------------------------------------------- row encoding --


def _encode_value(out: bytearray, tag: str, v) -> None:
    if tag == "long":
        _write_long(out, int(v))
    elif tag == "bool":
        out.append(1 if v else 0)
    elif tag == "double":
        out.extend(struct.pack("<d", float(v)))
    elif tag == "float":
        out.extend(struct.pack("<f", float(v)))
    elif tag == "string":
        _write_bytes(out, str(v).encode("utf-8"))
    elif tag == "bytes":
        _write_bytes(out, bytes(v))
    elif tag == "ts-micros":
        import pandas as pd

        _write_long(out, int(pd.Timestamp(v).value // 1000))
    elif tag == "date":
        import datetime

        _write_long(out, (v - datetime.date(1970, 1, 1)).days)
    else:  # pragma: no cover
        raise ValueError(tag)


def _is_null(v) -> bool:
    import pandas as pd

    if v is None:
        return True
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def _encode_records(pdf, encs) -> tuple[bytes, int]:
    out = bytearray()
    cols = [pdf[name].tolist() for name, _ in encs]
    n = len(pdf)
    for row_i in range(n):
        for col_i, (_, tag) in enumerate(encs):
            v = cols[col_i][row_i]
            if _is_null(v):
                _write_long(out, 0)  # union branch: null
            else:
                _write_long(out, 1)  # union branch: value
                _encode_value(out, tag, v)
    return bytes(out), n


def _decode_records(buf: bytes, i: int, n: int, encs) -> dict[str, list]:
    cols: dict[str, list] = {name: [] for name, _ in encs}
    for _ in range(n):
        for name, tag in encs:
            branch, i = _read_long(buf, i)
            if branch == 0:
                cols[name].append(None)
                continue
            if tag == "long" or tag == "ts-micros" or tag == "date":
                v, i = _read_long(buf, i)
            elif tag == "bool":
                v = buf[i] == 1
                i += 1
            elif tag == "double":
                (v,) = struct.unpack_from("<d", buf, i)
                i += 8
            elif tag == "float":
                (v,) = struct.unpack_from("<f", buf, i)
                i += 4
            elif tag == "string":
                raw, i = _read_bytes(buf, i)
                v = raw.decode("utf-8")
            elif tag == "bytes":
                raw, i = _read_bytes(buf, i)
                v = bytes(raw)
            else:  # pragma: no cover
                raise ValueError(tag)
            cols[name].append(v)
    return cols


def _finalize_pdf(cols: dict[str, list], encs):
    import pandas as pd

    data = {}
    for name, tag in encs:
        vals = cols[name]
        if tag == "ts-micros":
            data[name] = pd.to_datetime(
                pd.Series(vals, dtype="object"), unit="us"
            )
        elif tag == "date":
            data[name] = pd.Series(
                [
                    None if v is None else pd.Timestamp(v, unit="D").date()
                    for v in vals
                ],
                dtype="object",
            )
        else:
            data[name] = pd.Series(vals, dtype="object")
    return pd.DataFrame(data)


# ------------------------------------------------------- container files --


def _write_container(records: bytes, n: int, schema_json: str) -> bytes:
    out = bytearray(MAGIC)
    # metadata map: one block of 2 entries, then end-of-map
    _write_long(out, 2)
    _write_bytes(out, b"avro.schema")
    _write_bytes(out, schema_json.encode("utf-8"))
    _write_bytes(out, b"avro.codec")
    _write_bytes(out, b"null")
    _write_long(out, 0)
    sync = uuid.uuid4().bytes
    out.extend(sync)
    if n:
        _write_long(out, n)
        _write_long(out, len(records))
        out.extend(records)
        out.extend(sync)
    return bytes(out)


def _read_container(raw: bytes, encs) -> dict[str, list]:
    if raw[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    i = 4
    # metadata map (possibly multiple blocks; negative count = sized block)
    meta: dict[bytes, bytes] = {}
    while True:
        cnt, i = _read_long(raw, i)
        if cnt == 0:
            break
        if cnt < 0:
            _, i = _read_long(raw, i)  # block byte size, unused
            cnt = -cnt
        for _ in range(cnt):
            k, i = _read_bytes(raw, i)
            v, i = _read_bytes(raw, i)
            meta[k] = v
    codec = meta.get(b"avro.codec", b"null")
    if codec not in (b"null", b"deflate"):
        raise ValueError(
            f"avro: unsupported container codec {codec.decode()!r} "
            "(supported: null, deflate)"
        )
    writer_json = meta.get(b"avro.schema")
    if writer_json is not None:
        # resolve the embedded writer schema against the declared reader
        # schema: field names must match positionally, or decoding would
        # silently misalign columns (Avro spec: schema resolution by name).
        try:
            wfields = [f["name"] for f in json.loads(writer_json)["fields"]]
        except (ValueError, KeyError, TypeError):
            wfields = None
        rfields = [name for name, _ in encs]
        if wfields is not None and wfields != rfields:
            raise ValueError(
                f"avro: writer schema fields {wfields} do not match "
                f"declared reader schema fields {rfields}"
            )
    sync = raw[i : i + 16]
    i += 16
    all_cols: dict[str, list] = {name: [] for name, _ in encs}
    while i < len(raw):
        n, i = _read_long(raw, i)
        nbytes, i = _read_long(raw, i)
        if codec == b"deflate":
            block = zlib.decompress(raw[i : i + nbytes], -15)
            cols = _decode_records(block, 0, n, encs)
        else:
            cols = _decode_records(raw, i, n, encs)
        i += nbytes
        if raw[i : i + 16] != sync:
            raise ValueError("avro: sync marker mismatch")
        i += 16
        for k, v in cols.items():
            all_cols[k].extend(v)
    return all_cols


# ------------------------------------------------------------ public API --


def jvm_avro_available(spark: SparkSession) -> bool:
    try:
        spark.read.format("avro").schema("x INT").load("/nonexistent")
    except Exception as e:  # noqa: BLE001
        if "Failed to find data source" in str(e):
            return False
    return True


def write_avro(df: DataFrame, path: str, mode: str = "append") -> None:
    """Write ``df`` as Avro object container files, one per partition —
    the file-per-task layout of any Spark writer. Tasks write directly to
    the (shared) filesystem path, as a cluster writer would to a mounted
    DFS."""
    os.makedirs(path, exist_ok=True)
    if mode == "overwrite":
        for f in os.listdir(path):
            if f.endswith(".avro"):
                os.remove(os.path.join(path, f))
    schema = df.schema
    encs = _encoders(schema)
    schema_json = json.dumps(schema_to_avro(schema))

    def part(pdfs):
        import pandas as pd

        chunks = [p for p in pdfs]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            records, n = _encode_records(pdf, encs)
            fname = os.path.join(path, f"part-{uuid.uuid4().hex}.avro")
            with open(fname + ".tmp", "wb") as fh:
                fh.write(_write_container(records, n, schema_json))
            os.replace(fname + ".tmp", fname)
            yield pd.DataFrame({"n": [n]})

    df.mapInPandas(part, "n long").collect()


def read_avro(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """Read Avro container files under ``path``; parallelizes by file
    (one Arrow-batched decode pass per container)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    files = (
        sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
        )
        if os.path.isdir(path)
        else []
    )
    encs = _encoders(schema)
    if not files:
        return empty_frame(spark, schema)
    fdf = spark.createDataFrame([(f,) for f in files], "avro_file string").repartition(
        len(files)
    )

    def part(pdfs):
        for pdf in pdfs:
            for fname in pdf["avro_file"]:
                with open(fname, "rb") as fh:
                    raw = fh.read()
                yield _finalize_pdf(_read_container(raw, encs), encs)

    return fdf.mapInPandas(part, schema)


# ------------------------------------------------- confluent wire format --


class SchemaRegistry:
    """In-process stand-in for the Confluent schema registry (reference
    flink-avro-confluent-registry ConfluentSchemaRegistryCoder): id ↔
    (avro schema json, spark schema)."""

    def __init__(self) -> None:
        self._by_id: dict[int, T.StructType] = {}
        self._next = 1

    def register(self, schema: T.StructType) -> int:
        sid = self._next
        self._next += 1
        self._by_id[sid] = schema
        return sid

    def get(self, sid: int) -> T.StructType:
        return self._by_id[sid]


def to_avro_confluent(
    df: DataFrame, cols: list[str], out_col: str, schema_id: int
) -> DataFrame:
    """Encode ``cols`` into the Confluent wire format: ``0x00`` magic +
    big-endian 4-byte schema id + Avro binary record body."""
    sub = T.StructType([df.schema[c] for c in cols])
    encs = _encoders(sub)
    header = b"\x00" + struct.pack(">I", schema_id)
    passthrough = [c for c in df.columns if c not in cols]

    def enc(pdfs):
        import pandas as pd

        for pdf in pdfs:
            payloads = []
            col_lists = [pdf[name].tolist() for name, _ in encs]
            for row_i in range(len(pdf)):
                out = bytearray()
                for col_i, (_, tag) in enumerate(encs):
                    v = col_lists[col_i][row_i]
                    if _is_null(v):
                        _write_long(out, 0)
                    else:
                        _write_long(out, 1)
                        _encode_value(out, tag, v)
                payloads.append(header + bytes(out))
            res = pdf[passthrough].copy()
            res[out_col] = pd.Series(payloads, dtype="object")
            yield res

    out_schema = T.StructType(
        [df.schema[c] for c in passthrough] + [T.StructField(out_col, T.BinaryType())]
    )
    return df.mapInPandas(enc, out_schema)


def from_avro_confluent(
    df: DataFrame, col: str, registry: SchemaRegistry
) -> DataFrame:
    """Decode a Confluent-framed avro column, resolving the writer schema
    through the registry by the embedded id (per Arrow batch, ids are
    looked up once per distinct id)."""
    passthrough = [c for c in df.columns if c != col]
    reg_snapshot = dict(registry._by_id)
    if not reg_snapshot:
        raise ValueError(
            "from_avro_confluent: schema registry is empty — register the "
            "subject's writer schema(s) before decoding"
        )
    # the output schema is fixed per query: all writer ids must resolve to
    # structurally identical schemas (the single-subject-topic contract)
    any_schema = next(iter(reg_snapshot.values()))
    shape = _encoders(any_schema)
    for sid, sch in reg_snapshot.items():
        if _encoders(sch) != shape:
            raise ValueError(
                f"from_avro_confluent: registered schema id {sid} is not "
                "structurally identical to the others — mixed-schema "
                "subjects are not supported (decode per-id and union instead)"
            )
    out_fields = [(f.name, f) for f in any_schema.fields]

    def dec(pdfs):
        for pdf in pdfs:
            cols: dict[str, list] = {name: [] for name, _ in out_fields}
            for raw in pdf[col]:
                if raw[0] != 0:
                    raise ValueError("confluent avro: bad magic byte")
                sid = struct.unpack(">I", raw[1:5])[0]
                encs = _encoders(reg_snapshot[sid])
                row = _decode_records(raw, 5, 1, encs)
                for k, v in row.items():
                    cols[k].append(v[0])
            res = pdf[passthrough].copy()
            body = _finalize_pdf(cols, _encoders(any_schema))
            body.index = res.index
            for c in body.columns:
                res[c] = body[c]
            yield res

    out_schema = T.StructType(
        [df.schema[c] for c in passthrough] + list(any_schema.fields)
    )
    return df.mapInPandas(dec, out_schema)
