"""Protobuf format mapping (reference flink-formats/flink-protobuf:
PbDecodingFormat / PbEncodingFormat, PbCodegenSerializer/Deserializer).

The codec is a self-contained proto3 *wire-format* codec for scalar
fields, run as an Arrow-batched ``mapInPandas`` (no row-at-a-time UDFs,
no google.protobuf dependency): varint (int32/int64/bool), fixed64
(double), fixed32 (float), length-delimited (string/bytes); proto3
default-value omission on encode, default fill on decode, unknown fields
skipped. ``descriptor_set`` hand-builds the binary FileDescriptorSet (it
is itself a protobuf message — no protoc needed) that Spark's native
``to_protobuf``/``from_protobuf`` (spark-protobuf module) take.

The bytes are standard proto3 wire format, so data encoded here decodes
with any standard protobuf runtime and vice versa. Scale: the codec is a
narrow mapInPandas over the binary column only — it keeps
filter/project pushdown on every other column and batches via Arrow.

proto3 semantics note: scalar fields have no null; NULL inputs encode as
the default value (0 / "" / b"" / false) and decode back as defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: proto3 scalar type name → (wire type, FieldDescriptorProto.Type enum)
_TYPES = {
    "double": (1, 1),
    "float": (5, 2),
    "int64": (0, 3),
    "int32": (0, 5),
    "bool": (0, 8),
    "string": (2, 9),
    "bytes": (2, 12),
}


# ------------------------------------------------------------ varint etc --


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b7 = n & 0x7F
        n >>= 7
        out.append(b7 | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _tag(num: int, wire: int) -> bytes:
    return _varint((num << 3) | wire)


def _ld(num: int, data: bytes) -> bytes:
    return _tag(num, 2) + _varint(len(data)) + data


def _vi(num: int, val: int) -> bytes:
    return _tag(num, 0) + _varint(val)


# ------------------------------------------------- descriptor construction --


def descriptor_set(
    message: str, fields: list[tuple[str, int, str]], proto_file: str = "inline.proto"
) -> bytes:
    """Binary FileDescriptorSet for one proto3 message of scalar fields
    (``fields`` = [(name, field_number, type_name)]). This is what
    ``protoc --descriptor_set_out`` would emit — built directly since the
    descriptor schema is itself protobuf (descriptor.proto)."""
    msg = _ld(1, message.encode())
    for name, number, tname in fields:
        _, enum = _TYPES[tname]
        # FieldDescriptorProto: name=1, number=3, label=4(OPTIONAL), type=5
        fd = _ld(1, name.encode()) + _vi(3, number) + _vi(4, 1) + _vi(5, enum)
        msg += _ld(2, fd)
    # FileDescriptorProto: name=1, message_type=4, syntax=12
    fdp = _ld(1, proto_file.encode()) + _ld(4, msg) + _ld(12, b"proto3")
    return _ld(1, fdp)  # FileDescriptorSet.file (repeated) = 1


# ----------------------------------------------------- python wire codec --


def _encode_row(vals: dict, fields: list[tuple[str, int, str]]) -> bytes:
    import math
    import struct as _s

    out = bytearray()
    for name, number, tname in fields:
        v = vals.get(name)
        wire, _ = _TYPES[tname]
        if tname in ("int32", "int64"):
            iv = 0 if v is None else int(v)
            if iv == 0:
                continue  # proto3 default omission
            out += _tag(number, 0) + _varint(iv & 0xFFFFFFFFFFFFFFFF)
        elif tname == "bool":
            if not v:
                continue
            out += _tag(number, 0) + _varint(1)
        elif tname == "double":
            dv = 0.0 if v is None else float(v)
            if dv == 0.0 and not math.copysign(1.0, dv) < 0:
                continue
            out += _tag(number, 1) + _s.pack("<d", dv)
        elif tname == "float":
            fv = 0.0 if v is None else float(v)
            if fv == 0.0 and not math.copysign(1.0, fv) < 0:
                continue
            out += _tag(number, 5) + _s.pack("<f", fv)
        else:  # string / bytes
            bv = (
                b""
                if v is None
                else (v.encode() if isinstance(v, str) else bytes(v))
            )
            if not bv:
                continue
            out += _ld(number, bv)
    return bytes(out)


def _decode_row(buf: bytes, by_number: dict) -> dict:
    import struct as _s

    out = {}
    i, n = 0, len(buf)
    while i < n:
        key, i = _read_varint(buf, i)
        number, wire = key >> 3, key & 7
        if wire == 0:
            val, i = _read_varint(buf, i)
        elif wire == 1:
            val, i = buf[i : i + 8], i + 8
        elif wire == 5:
            val, i = buf[i : i + 4], i + 4
        elif wire == 2:
            ln, i = _read_varint(buf, i)
            val, i = buf[i : i + ln], i + ln
        else:
            raise ValueError(f"unsupported wire type {wire}")
        if number not in by_number:
            continue  # unknown field: skip (forward compatibility)
        name, tname = by_number[number]
        if tname in ("int32", "int64"):
            iv = val & 0xFFFFFFFFFFFFFFFF
            if iv >= 1 << 63:
                iv -= 1 << 64
            out[name] = iv
        elif tname == "bool":
            out[name] = bool(val)
        elif tname == "double":
            out[name] = _s.unpack("<d", val)[0]
        elif tname == "float":
            out[name] = _s.unpack("<f", val)[0]
        elif tname == "string":
            out[name] = val.decode()
        else:
            out[name] = bytes(val)
    return out


_DEFAULTS = {
    "double": 0.0,
    "float": 0.0,
    "int64": 0,
    "int32": 0,
    "bool": False,
    "string": "",
    "bytes": b"",
}

_SPARK_TYPES = {
    "double": "double",
    "float": "float",
    "int64": "bigint",
    "int32": "int",
    "bool": "boolean",
    "string": "string",
    "bytes": "binary",
}


def encode_protobuf(
    df: DataFrame, fields: list[tuple[str, int, str]], out_col: str = "pb"
) -> DataFrame:
    """Serialize the named columns of each row into one proto3 message
    (binary column ``out_col``); all other columns pass through."""
    import pandas as pd

    passthrough = [c for c in df.columns if c not in {f[0] for f in fields}]
    schema = ", ".join(
        [f"{c} {dict(df.dtypes)[c]}" for c in passthrough] + [f"{out_col} binary"]
    )

    def run(it):
        for pdf in it:
            pb = [
                _encode_row(rec, fields)
                for rec in pdf[[f[0] for f in fields]].to_dict("records")
            ]
            out = pdf[passthrough].copy()
            out[out_col] = pb
            yield out

    return df.mapInPandas(run, schema)


def decode_protobuf(
    df: DataFrame, col: str, fields: list[tuple[str, int, str]]
) -> DataFrame:
    """Decode a proto3 binary column into typed columns (other columns
    pass through; the binary column is dropped)."""
    passthrough = [c for c in df.columns if c != col]
    schema = ", ".join(
        [f"{c} {dict(df.dtypes)[c]}" for c in passthrough]
        + [f"{name} {_SPARK_TYPES[t]}" for name, _, t in fields]
    )
    by_number = {num: (name, t) for name, num, t in fields}

    def run(it):
        for pdf in it:
            out = pdf[passthrough].copy()
            decoded = [
                _decode_row(bytes(b), by_number) for b in pdf[col]
            ]
            for name, _, t in fields:
                out[name] = [d.get(name, _DEFAULTS[t]) for d in decoded]
            yield out

    return df.mapInPandas(run, schema)
