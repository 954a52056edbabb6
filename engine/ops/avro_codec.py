"""Avro binary encode/decode for flat records (SURVEY §2.1 S7).

The reference binary-encodes each sink record against a registry-fetched Avro
schema (lib/pipeline_controller.py:59,241-242).  The harness image ships
neither the ``spark-avro`` SQL datasource jar nor a Python avro wheel, so the
engine carries a minimal, dependency-free implementation of the Avro binary
spec (zigzag-varint longs, length-prefixed utf8/bytes, union-index prefix) —
sufficient for the flat nullable-primitive records this pipeline emits.  The
sink calls :func:`encode_record` per row inside its executor-side put pass
(:func:`engine.ops.sinks.kinesis_put_partitions`).

Spec: https://avro.apache.org/docs/1.11.1/specification/ (binary encoding).
"""

from __future__ import annotations

import struct
from typing import Any

__all__ = [
    "zigzag_encode",
    "encode_record",
    "decode_record",
]


def zigzag_encode(n: int) -> bytes:
    """Avro long: zigzag then varint."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _encode_value(value: Any, avro_type: Any, out: bytearray) -> None:
    if isinstance(avro_type, list):  # union — find the branch
        if value is None:
            idx = avro_type.index("null")
            out += zigzag_encode(idx)
            return
        for i, branch in enumerate(avro_type):
            if branch != "null":
                out += zigzag_encode(i)
                _encode_value(value, branch, out)
                return
        raise ValueError(f"no non-null branch in union {avro_type}")
    if avro_type == "null":
        return
    if avro_type in ("long", "int"):
        out += zigzag_encode(int(value))
    elif avro_type == "string":
        raw = str(value).encode("utf-8")
        out += zigzag_encode(len(raw)) + raw
    elif avro_type == "bytes":
        out += zigzag_encode(len(value)) + bytes(value)
    elif avro_type == "boolean":
        out.append(1 if value else 0)
    elif avro_type == "double":
        out += struct.pack("<d", float(value))
    elif avro_type == "float":
        out += struct.pack("<f", float(value))
    else:
        raise NotImplementedError(f"avro type {avro_type!r}")


def encode_record(record: dict, schema: dict) -> bytes:
    """Binary-encode one dict against a flat Avro record schema."""
    out = bytearray()
    for field in schema["fields"]:
        _encode_value(record.get(field["name"]), field["type"], out)
    return bytes(out)


def _decode_value(buf: bytes, pos: int, avro_type: Any) -> tuple[Any, int]:
    if isinstance(avro_type, list):
        idx, pos = zigzag_decode(buf, pos)
        return _decode_value(buf, pos, avro_type[idx])
    if avro_type == "null":
        return None, pos
    if avro_type in ("long", "int"):
        return zigzag_decode(buf, pos)
    if avro_type in ("string", "bytes"):
        n, pos = zigzag_decode(buf, pos)
        raw = buf[pos : pos + n]
        return (raw.decode("utf-8") if avro_type == "string" else raw), pos + n
    if avro_type == "boolean":
        return buf[pos] == 1, pos + 1
    if avro_type == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if avro_type == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    raise NotImplementedError(f"avro type {avro_type!r}")


def decode_record(buf: bytes, schema: dict) -> dict:
    """Inverse of :func:`encode_record` (round-trip testing / sink verify)."""
    rec = {}
    pos = 0
    for field in schema["fields"]:
        rec[field["name"]], pos = _decode_value(buf, pos, field["type"])
    return rec
