"""MessagePack stream ingest — pure-python decoder for the wire format.

MessagePack (https://msgpack.org/ — public spec) is the compact binary
JSON twin event pipelines dump: a payload is a concatenation of
top-level values, typically one map per record. This implements the
full core format family needed to read those dumps:

- positive/negative fixint, uint8/16/32/64, int8/16/32/64
- nil / true / false, float32 / float64
- fixstr / str8/16/32 (UTF-8), bin8/16/32
- fixmap / map16/32, fixarray / array16/32
- ext types are SKIPPED structurally (length-consumed, decoded as None)
  so unknown application types can't desync the walk

Every length is payload-bounded before allocation, container nesting is
depth-capped, and a malformed payload degrades the whole row (ValueError)
— the same hostile-input posture as the Avro/WARC walks.

Encode + decode are both here, and the encoding of the fixture's value
domain is bijective, so ``mm_msgpack_records`` pins the whole
encode→walk→explode path under an exact constructor oracle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_MAX_LEN = 64 * 1024 * 1024
_MAX_DEPTH = 32


def pack_value(v) -> bytes:
    """Encode one value (None/bool/int/float/str/bytes/list/dict)."""
    out = bytearray()
    _pack(out, v)
    return bytes(out)


def _pack(out: bytearray, v) -> None:
    if v is None:
        out.append(0xC0)
    elif v is True:
        out.append(0xC3)
    elif v is False:
        out.append(0xC2)
    elif isinstance(v, int):
        if 0 <= v <= 0x7F:
            out.append(v)
        elif -32 <= v < 0:
            out.append(0x100 + v)
        elif 0 <= v <= 0xFF:
            out += bytes([0xCC, v])
        elif 0 <= v <= 0xFFFF:
            out += b"\xcd" + v.to_bytes(2, "big")
        elif 0 <= v <= 0xFFFFFFFF:
            out += b"\xce" + v.to_bytes(4, "big")
        elif v >= 0:
            out += b"\xcf" + v.to_bytes(8, "big")
        elif v >= -0x80:
            out += b"\xd0" + v.to_bytes(1, "big", signed=True)
        elif v >= -0x8000:
            out += b"\xd1" + v.to_bytes(2, "big", signed=True)
        elif v >= -0x80000000:
            out += b"\xd2" + v.to_bytes(4, "big", signed=True)
        else:
            out += b"\xd3" + v.to_bytes(8, "big", signed=True)
    elif isinstance(v, float):
        out += b"\xcb" + struct.pack(">d", v)
    elif isinstance(v, str):
        raw = v.encode("utf-8")
        n = len(raw)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += bytes([0xD9, n])
        elif n <= 0xFFFF:
            out += b"\xda" + n.to_bytes(2, "big")
        else:
            out += b"\xdb" + n.to_bytes(4, "big")
        out += raw
    elif isinstance(v, (bytes, bytearray)):
        n = len(v)
        if n <= 0xFF:
            out += bytes([0xC4, n])
        elif n <= 0xFFFF:
            out += b"\xc5" + n.to_bytes(2, "big")
        else:
            out += b"\xc6" + n.to_bytes(4, "big")
        out += bytes(v)
    elif isinstance(v, (list, tuple)):
        n = len(v)
        if n <= 15:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out += b"\xdc" + n.to_bytes(2, "big")
        else:
            out += b"\xdd" + n.to_bytes(4, "big")
        for item in v:
            _pack(out, item)
    elif isinstance(v, dict):
        n = len(v)
        if n <= 15:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out += b"\xde" + n.to_bytes(2, "big")
        else:
            out += b"\xdf" + n.to_bytes(4, "big")
        for k, item in v.items():
            _pack(out, k)
            _pack(out, item)
    else:
        raise ValueError(f"msgpack: cannot encode {type(v).__name__}")


def _take(b: bytes, i: int, n: int) -> int:
    if n < 0 or n > _MAX_LEN or i + n > len(b):
        raise ValueError("msgpack: length out of bounds")
    return i + n


def unpack_value(b: bytes, i: int = 0, depth: int = 0):
    """Decode one value at offset i → (value, next offset)."""
    if depth > _MAX_DEPTH:
        raise ValueError("msgpack: nesting too deep")
    if i >= len(b):
        raise ValueError("msgpack: truncated")
    t = b[i]
    i += 1
    if t <= 0x7F:
        return t, i
    if t >= 0xE0:
        return t - 0x100, i
    if 0x80 <= t <= 0x8F:
        return _unpack_map(b, i, t & 0x0F, depth)
    if 0x90 <= t <= 0x9F:
        return _unpack_array(b, i, t & 0x0F, depth)
    if 0xA0 <= t <= 0xBF:
        j = _take(b, i, t & 0x1F)
        return b[i:j].decode("utf-8", "replace"), j
    if t == 0xC0:
        return None, i
    if t == 0xC2:
        return False, i
    if t == 0xC3:
        return True, i
    if t in (0xC4, 0xC5, 0xC6):  # bin
        w = 1 << (t - 0xC4)
        n = int.from_bytes(b[i : _take(b, i, w)], "big")
        i += w
        j = _take(b, i, n)
        return b[i:j], j
    if t in (0xC7, 0xC8, 0xC9):  # ext: consume, decode as None
        w = 1 << (t - 0xC7)
        n = int.from_bytes(b[i : _take(b, i, w)], "big")
        i += w
        j = _take(b, i, 1 + n)  # type byte + payload
        return None, j
    if t == 0xCA:
        j = _take(b, i, 4)
        return struct.unpack(">f", b[i:j])[0], j
    if t == 0xCB:
        j = _take(b, i, 8)
        return struct.unpack(">d", b[i:j])[0], j
    if t in (0xCC, 0xCD, 0xCE, 0xCF):  # uint
        w = 1 << (t - 0xCC)
        j = _take(b, i, w)
        return int.from_bytes(b[i:j], "big"), j
    if t in (0xD0, 0xD1, 0xD2, 0xD3):  # int
        w = 1 << (t - 0xD0)
        j = _take(b, i, w)
        return int.from_bytes(b[i:j], "big", signed=True), j
    if t in (0xD4, 0xD5, 0xD6, 0xD7, 0xD8):  # fixext 1/2/4/8/16
        n = 1 << (t - 0xD4)
        j = _take(b, i, 1 + n)
        return None, j
    if t in (0xD9, 0xDA, 0xDB):  # str 8/16/32
        w = 1 << (t - 0xD9)
        n = int.from_bytes(b[i : _take(b, i, w)], "big")
        i += w
        j = _take(b, i, n)
        return b[i:j].decode("utf-8", "replace"), j
    if t in (0xDC, 0xDD):  # array 16/32
        w = 2 << (t - 0xDC)
        n = int.from_bytes(b[i : _take(b, i, w)], "big")
        return _unpack_array(b, i + w, n, depth)
    if t in (0xDE, 0xDF):  # map 16/32
        w = 2 << (t - 0xDE)
        n = int.from_bytes(b[i : _take(b, i, w)], "big")
        return _unpack_map(b, i + w, n, depth)
    raise ValueError(f"msgpack: unknown type byte 0x{t:02x}")


def _unpack_array(b, i, n, depth):
    if n > _MAX_LEN:
        raise ValueError("msgpack: array too large")
    out = []
    for _ in range(n):
        v, i = unpack_value(b, i, depth + 1)
        out.append(v)
    return out, i


def _unpack_map(b, i, n, depth):
    if n > _MAX_LEN:
        raise ValueError("msgpack: map too large")
    out = {}
    for _ in range(n):
        k, i = unpack_value(b, i, depth + 1)
        v, i = unpack_value(b, i, depth + 1)
        if isinstance(k, (dict, list)):  # wire-legal, python-unhashable
            raise ValueError("msgpack: container-typed map key unsupported")
        out[k] = v
    return out, i


def unpack_stream(b: bytes) -> list:
    """Decode a concatenation of top-level values (the dump-file form)."""
    out = []
    i = 0
    while i < len(b):
        v, i = unpack_value(b, i)
        out.append(v)
    return out


MSGPACK_RECORD_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("doc_id", LongType(), True),
        StructField("seq", LongType(), True),
        StructField("body", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)


def msgpack_records(media: DataFrame) -> DataFrame:
    """Explode MessagePack dump payloads (one top-level map per record)
    onto the fixed (doc_id, seq, body, score) shape — the Avro lane's
    schemaless twin: fields come from map keys, missing keys are NULL,
    non-map top-level values are skipped, malformed payloads degrade to
    zero rows. Arrow-batched mapInPandas, zero shuffle."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "doc_id", "seq", "body", "score"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    values = unpack_stream(bytes(payload))
                except ValueError:
                    continue
                for v in values:
                    if not isinstance(v, dict):
                        continue
                    # type-guard every field:
                    # a well-formed dump with a string score / bytes body
                    # must degrade the FIELD to NULL, not raise inside the
                    # Spark task (the per-payload degrade contract).
                    score = v.get("score")
                    doc_id, seq = v.get("doc_id"), v.get("seq")
                    rows.append(
                        (
                            mid,
                            int(doc_id) if isinstance(doc_id, int) else None,
                            int(seq) if isinstance(seq, int) else None,
                            v.get("body") if isinstance(v.get("body"), str) else None,
                            float(score) if isinstance(score, (int, float)) else None,
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        extract, MSGPACK_RECORD_SCHEMA
    )


def documents_as_msgpack(docs: DataFrame) -> DataFrame:
    """Adapter: per document a REAL msgpack dump of ``1 + doc_id % 3``
    record maps {doc_id, seq, body, score} — body is the document text
    except None at seq 2 (nil byte), score = doc_id % 89 + seq/4
    (dyadic ⇒ IEEE-exact), doc_id values span the fixint/uint16/uint32
    width ladder naturally — plus a trailing non-map value (the count
    as a bare int) that the lane must SKIP. Everything closed-form in
    (doc_id, text) for ``mm_msgpack_records``."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                k = 1 + did % 3
                buf = bytearray()
                for s in range(k):
                    _pack(
                        buf,
                        {
                            "doc_id": did,
                            "seq": s,
                            "body": None if s == 2 else (text or ""),
                            "score": did % 89 + s / 4.0,
                        },
                    )
                _pack(buf, k)  # trailing non-map value: must be skipped
                rows.append((did, "msgpack", bytes(buf)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload"])

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )
    return docs.select("doc_id", "text").mapInPandas(build, schema)
