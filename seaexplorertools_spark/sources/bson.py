"""BSON dump ingest — pure-python decoder for the MongoDB wire/dump
format (public spec at bsonspec.org, v1.1).

A ``mongodump`` .bson file is a bare concatenation of BSON documents —
the third schemaless binary dump family next to msgpack
(sources/msgpack.py) and CBOR (sources/cbor.py), and the one NoSQL
exports actually arrive in. Implemented element types:

- 0x01 double, 0x02 string, 0x03 embedded document, 0x04 array
  (decoded to a list — BSON arrays are documents with numeric keys),
  0x08 bool, 0x0A null, 0x10 int32, 0x12 int64
- structurally SKIPPED by their fixed/declared widths so unknown
  types can't desync the walk: 0x05 binary, 0x07 ObjectId, 0x09 UTC
  datetime, 0x11 timestamp, 0x13 decimal128 (decoded as None)

Every declared length is validated against the payload before use,
nesting is depth-capped, and a malformed document degrades the whole
row (ValueError) — the shared dump-lane contract.

Encode + decode are both here; the fixture's value domain encodes
bijectively, so ``mm_bson_records`` pins encode→walk→explode under an
exact constructor oracle.
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

_SKIP_WIDTH = {0x07: 12, 0x09: 8, 0x11: 8, 0x13: 16}


def encode_document(doc: dict) -> bytes:
    """Encode one document (values: None/bool/int/float/str/dict/list)."""
    return _enc_doc(doc)


def _enc_doc(doc) -> bytes:
    body = bytearray()
    items = (
        doc.items() if isinstance(doc, dict)
        else ((str(i), v) for i, v in enumerate(doc))
    )
    for name, v in items:
        body += _enc_element(name, v)
    return (len(body) + 5).to_bytes(4, "little") + bytes(body) + b"\x00"


def _enc_element(name: str, v) -> bytes:
    key = name.encode("utf-8") + b"\x00"
    if v is None:
        return b"\x0a" + key
    if isinstance(v, bool):
        return b"\x08" + key + (b"\x01" if v else b"\x00")
    if isinstance(v, float):
        return b"\x01" + key + struct.pack("<d", v)
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return b"\x10" + key + v.to_bytes(4, "little", signed=True)
        return b"\x12" + key + v.to_bytes(8, "little", signed=True)
    if isinstance(v, str):
        raw = v.encode("utf-8") + b"\x00"
        return b"\x02" + key + len(raw).to_bytes(4, "little") + raw
    if isinstance(v, dict):
        return b"\x03" + key + _enc_doc(v)
    if isinstance(v, (list, tuple)):
        return b"\x04" + key + _enc_doc(list(v))
    raise ValueError(f"bson: cannot encode {type(v).__name__}")


def _bound(b: bytes, i: int, n: int) -> int:
    if n < 0 or n > _MAX_LEN or i + n > len(b):
        raise ValueError("bson: length out of bounds")
    return i + n


def _cstring(b: bytes, i: int, end: int) -> tuple[str, int]:
    j = b.find(b"\x00", i, end)
    if j < 0:
        raise ValueError("bson: unterminated cstring")
    return b[i:j].decode("utf-8", "replace"), j + 1


def decode_document(b: bytes, i: int = 0, depth: int = 0) -> tuple[dict, int]:
    """Decode one document at offset i → (dict, next offset)."""
    if depth > _MAX_DEPTH:
        raise ValueError("bson: nesting too deep")
    if i + 4 > len(b):
        raise ValueError("bson: truncated size")
    size = int.from_bytes(b[i : i + 4], "little")
    if size < 5:
        raise ValueError("bson: bad document size")
    end = _bound(b, i, size)
    if b[end - 1] != 0:
        raise ValueError("bson: missing terminator")
    j = i + 4
    out: dict = {}
    while j < end - 1:
        t = b[j]
        name, j = _cstring(b, j + 1, end - 1)
        if t == 0x0A:
            v = None
        elif t == 0x08:
            j2 = _bound(b, j, 1)
            v, j = b[j] != 0, j2
        elif t == 0x01:
            j2 = _bound(b, j, 8)
            v, j = struct.unpack("<d", b[j:j2])[0], j2
        elif t == 0x10:
            j2 = _bound(b, j, 4)
            v, j = int.from_bytes(b[j:j2], "little", signed=True), j2
        elif t == 0x12:
            j2 = _bound(b, j, 8)
            v, j = int.from_bytes(b[j:j2], "little", signed=True), j2
        elif t == 0x02:
            j2 = _bound(b, j, 4)
            n = int.from_bytes(b[j:j2], "little")
            if n < 1:
                raise ValueError("bson: bad string length")
            j3 = _bound(b, j2, n)
            if b[j3 - 1] != 0:
                raise ValueError("bson: unterminated string")
            v, j = b[j2 : j3 - 1].decode("utf-8", "replace"), j3
        elif t == 0x03:
            v, j = decode_document(b, j, depth + 1)
        elif t == 0x04:
            d, j = decode_document(b, j, depth + 1)
            v = [d[k] for k in d]
        elif t == 0x05:  # binary: int32 len + subtype + bytes — skipped
            j2 = _bound(b, j, 4)
            n = int.from_bytes(b[j:j2], "little")
            j = _bound(b, j2, 1 + n)
            v = None
        elif t in _SKIP_WIDTH:
            j = _bound(b, j, _SKIP_WIDTH[t])
            v = None
        else:
            raise ValueError(f"bson: unsupported element type 0x{t:02x}")
        out[name] = v
    if j != end - 1:
        raise ValueError("bson: element overruns document")
    return out, end


def decode_dump(b: bytes) -> list[dict]:
    """Decode a concatenation of documents (the mongodump form)."""
    out = []
    i = 0
    while i < len(b):
        doc, i = decode_document(b, i)
        out.append(doc)
    return out


BSON_RECORD_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("doc_id", LongType(), True),
        StructField("seq", LongType(), True),
        StructField("body", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)


def bson_records(media: DataFrame) -> DataFrame:
    """Explode BSON dump payloads onto the shared (doc_id, seq, body,
    score) ingest shape — identical contract to msgpack_records /
    cbor_records. Arrow-batched mapInPandas, zero shuffle, per-payload
    degrade."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "doc_id", "seq", "body", "score"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    docs = decode_dump(bytes(payload))
                except ValueError:
                    continue
                for v in docs:
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
        extract, BSON_RECORD_SCHEMA
    )


def documents_as_bson(docs: DataFrame) -> DataFrame:
    """Adapter: per document a REAL BSON dump of ``1 + doc_id % 3``
    record documents {doc_id, seq, body, score} — body None at seq 2,
    score dyadic, doc_id exercising int32 AND int64 widths (the
    ``+ 2^40`` shadow key rotates on doc_id % 4 == 0 via an extra
    ``big`` field the lane ignores). Closed-form in (doc_id, text) for
    ``mm_bson_records``."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                k = 1 + did % 3
                buf = bytearray()
                for s in range(k):
                    rec = {
                        "doc_id": did,
                        "seq": s,
                        "body": None if s == 2 else (text or ""),
                        "score": did % 89 + s / 4.0,
                    }
                    if did % 4 == 0:
                        rec["big"] = did + 2**40  # int64 element, ignored
                    buf += encode_document(rec)
                rows.append((did, "bson", bytes(buf)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload"])

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )
    return docs.select("doc_id", "text").mapInPandas(build, schema)
