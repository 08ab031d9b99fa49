"""CBOR stream ingest — pure-python decoder for RFC 8949.

CBOR is the IETF-standard binary JSON twin (the other one msgpack
dumps use — telemetry, COSE/CWT payloads, IoT event logs). A dump file
is a concatenation of top-level data items, typically one map per
record. This implements the full core needed to read those dumps:

- major type 0/1: unsigned / negative integers (all argument widths)
- major type 2/3: byte / text strings, definite AND indefinite-length
  (chunked with the 0xFF break, per §3.2.3 — chunks must be definite)
- major type 4/5: arrays / maps, definite and indefinite
- major type 6: tags are consumed and decoded TRANSPARENTLY (the inner
  value is returned) so tagged timestamps/bignums can't desync the walk
- major type 7: false/true/null/undefined, float16/32/64; unassigned
  simple values decode as None

Every length is payload-bounded before allocation, container nesting
is depth-capped, and a malformed payload degrades the whole row
(ValueError) — the same hostile-input posture as the msgpack/Avro/WARC
walks (sources/msgpack.py, the shared lane contract).

Encode + decode are both here; the fixture's value domain encodes
bijectively, so ``mm_cbor_records`` pins encode→walk→explode under an
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
_BREAK = object()  # sentinel: 0xFF stop code seen inside indefinite items


def encode_value(v) -> bytes:
    """Encode one value (None/bool/int/float/str/bytes/list/dict) with
    definite lengths and preferred (shortest) integer arguments."""
    out = bytearray()
    _encode(out, v)
    return bytes(out)


def _head(out: bytearray, mt: int, arg: int) -> None:
    if arg < 24:
        out.append((mt << 5) | arg)
    elif arg <= 0xFF:
        out.append((mt << 5) | 24)
        out.append(arg)
    elif arg <= 0xFFFF:
        out.append((mt << 5) | 25)
        out += arg.to_bytes(2, "big")
    elif arg <= 0xFFFFFFFF:
        out.append((mt << 5) | 26)
        out += arg.to_bytes(4, "big")
    else:
        out.append((mt << 5) | 27)
        out += arg.to_bytes(8, "big")


def _encode(out: bytearray, v) -> None:
    if v is None:
        out.append(0xF6)
    elif v is True:
        out.append(0xF5)
    elif v is False:
        out.append(0xF4)
    elif isinstance(v, int):
        if v >= 0:
            _head(out, 0, v)
        else:
            _head(out, 1, -1 - v)
    elif isinstance(v, float):
        out.append(0xFB)
        out += struct.pack(">d", v)
    elif isinstance(v, str):
        raw = v.encode("utf-8")
        _head(out, 3, len(raw))
        out += raw
    elif isinstance(v, (bytes, bytearray)):
        _head(out, 2, len(v))
        out += bytes(v)
    elif isinstance(v, (list, tuple)):
        _head(out, 4, len(v))
        for item in v:
            _encode(out, item)
    elif isinstance(v, dict):
        _head(out, 5, len(v))
        for k, item in v.items():
            _encode(out, k)
            _encode(out, item)
    else:
        raise ValueError(f"cbor: cannot encode {type(v).__name__}")


def encode_tagged(tag: int, v) -> bytes:
    """Encode a tagged value (major type 6) — fixture/test helper."""
    out = bytearray()
    _head(out, 6, tag)
    _encode(out, v)
    return bytes(out)


def _take(b: bytes, i: int, n: int) -> int:
    if n < 0 or n > _MAX_LEN or i + n > len(b):
        raise ValueError("cbor: length out of bounds")
    return i + n


def _arg(b: bytes, i: int, ai: int) -> tuple[int | None, int]:
    """Decode the head's argument → (value, next offset); ai=31 yields
    None (indefinite-length marker)."""
    if ai < 24:
        return ai, i
    if ai == 31:
        return None, i
    if ai > 27:
        raise ValueError(f"cbor: reserved additional info {ai}")
    w = 1 << (ai - 24)
    j = _take(b, i, w)
    return int.from_bytes(b[i:j], "big"), j


def decode_value(b: bytes, i: int = 0, depth: int = 0):
    """Decode one data item at offset i → (value, next offset)."""
    v, i = _decode(b, i, depth)
    if v is _BREAK:
        raise ValueError("cbor: unexpected break code")
    return v, i


def _decode(b: bytes, i: int, depth: int):
    if depth > _MAX_DEPTH:
        raise ValueError("cbor: nesting too deep")
    if i >= len(b):
        raise ValueError("cbor: truncated")
    ib = b[i]
    i += 1
    if ib == 0xFF:
        return _BREAK, i
    mt, ai = ib >> 5, ib & 0x1F
    if mt == 7:
        # argument bytes are the VALUE here (float payload / simple
        # value byte), not a length — handled before the generic _arg
        if ai == 20:
            return False, i
        if ai == 21:
            return True, i
        if ai in (22, 23):  # null / undefined
            return None, i
        if ai < 20:  # unassigned simple value
            return None, i
        if ai == 24:  # simple value in one following byte
            j = _take(b, i, 1)
            return None, j
        if ai == 25:
            j = _take(b, i, 2)
            return struct.unpack(">e", b[i:j])[0], j
        if ai == 26:
            j = _take(b, i, 4)
            return struct.unpack(">f", b[i:j])[0], j
        if ai == 27:
            j = _take(b, i, 8)
            return struct.unpack(">d", b[i:j])[0], j
        raise ValueError(f"cbor: reserved simple/float form {ai}")
    n, i = _arg(b, i, ai)
    if mt == 0:
        if n is None:
            raise ValueError("cbor: indefinite integer")
        return n, i
    if mt == 1:
        if n is None:
            raise ValueError("cbor: indefinite integer")
        return -1 - n, i
    if mt in (2, 3):
        if n is None:  # indefinite: definite chunks until break
            parts = []
            while True:
                if i >= len(b):
                    raise ValueError("cbor: truncated indefinite string")
                if b[i] == 0xFF:
                    i += 1
                    break
                cmt, cai = b[i] >> 5, b[i] & 0x1F
                if cmt != mt or cai == 31:
                    raise ValueError("cbor: bad indefinite chunk")
                cn, j = _arg(b, i + 1, cai)
                j2 = _take(b, j, cn)
                parts.append(b[j:j2])
                i = j2
            raw = b"".join(parts)
        else:
            j = _take(b, i, n)
            raw, i = b[i:j], j
        return (raw if mt == 2 else raw.decode("utf-8", "replace")), i
    if mt == 4:
        out = []
        if n is None:
            while True:
                v, i = _decode(b, i, depth + 1)
                if v is _BREAK:
                    return out, i
                out.append(v)
        if n > _MAX_LEN:
            raise ValueError("cbor: array too large")
        for _ in range(n):
            v, i = decode_value(b, i, depth + 1)
            out.append(v)
        return out, i
    if mt == 5:
        out = {}
        if n is None:
            while True:
                k, i = _decode(b, i, depth + 1)
                if k is _BREAK:
                    return out, i
                v, i = decode_value(b, i, depth + 1)
                out[_map_key(k)] = v
        if n > _MAX_LEN:
            raise ValueError("cbor: map too large")
        for _ in range(n):
            k, i = decode_value(b, i, depth + 1)
            v, i = decode_value(b, i, depth + 1)
            out[_map_key(k)] = v
        return out, i
    # mt == 6: tag — transparent, return the tagged content itself
    if n is None:
        raise ValueError("cbor: indefinite tag")
    return decode_value(b, i, depth + 1)


def _map_key(k):
    if isinstance(k, (dict, list)):  # wire-legal, python-unhashable
        raise ValueError("cbor: container-typed map key unsupported")
    return k


def decode_stream(b: bytes) -> list:
    """Decode a concatenation of top-level data items (the dump form)."""
    out = []
    i = 0
    while i < len(b):
        v, i = decode_value(b, i)
        out.append(v)
    return out


CBOR_RECORD_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("doc_id", LongType(), True),
        StructField("seq", LongType(), True),
        StructField("body", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)


def cbor_records(media: DataFrame) -> DataFrame:
    """Explode CBOR dump payloads (one top-level map per record) onto
    the shared (doc_id, seq, body, score) ingest shape — identical
    contract to sources/msgpack.py::msgpack_records: missing keys are
    NULL, non-map top-level items are skipped, malformed payloads
    degrade to zero rows. Arrow-batched mapInPandas, zero shuffle."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "doc_id", "seq", "body", "score"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    values = decode_stream(bytes(payload))
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
        extract, CBOR_RECORD_SCHEMA
    )


def documents_as_cbor(docs: DataFrame) -> DataFrame:
    """Adapter: per document a REAL CBOR dump of ``1 + doc_id % 3``
    record maps {doc_id, seq, body, score} — body is the document text
    except None at seq 2 (null byte 0xF6), score = doc_id % 89 + seq/4
    (dyadic ⇒ IEEE-exact), doc_id spans the uint argument-width ladder
    naturally — plus a trailing TAGGED bare int (tag 1, epoch-seconds
    flavor: exercises the transparent-tag path; non-map ⇒ the lane must
    skip it). Everything closed-form in (doc_id, text) for
    ``mm_cbor_records``."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                k = 1 + did % 3
                buf = bytearray()
                for s in range(k):
                    buf += encode_value(
                        {
                            "doc_id": did,
                            "seq": s,
                            "body": None if s == 2 else (text or ""),
                            "score": did % 89 + s / 4.0,
                        }
                    )
                buf += encode_tagged(1, k)  # tagged non-map: must be skipped
                rows.append((did, "cbor", bytes(buf)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload"])

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )
    return docs.select("doc_id", "text").mapInPandas(build, schema)
