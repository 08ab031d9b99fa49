"""WARC walker (operators/warc.py): record splitting by Content-Length,
multi-member gzip, hostile payload hardening, the distributed lane."""

from __future__ import annotations

import gzip

import pytest

from seaexplorertools_spark.operators.warc import (
    gunzip_members,
    parse_warc_records,
    warc_records,
)


def _record(wtype: str, body: bytes, extra: dict | None = None) -> bytes:
    hdrs = {"WARC-Type": wtype, **(extra or {}), "Content-Length": str(len(body))}
    head = b"WARC/1.0\r\n" + b"".join(f"{k}: {v}\r\n".encode() for k, v in hdrs.items())
    return head + b"\r\n" + body + b"\r\n\r\n"


def test_record_walk_and_opaque_bodies():
    # a body CONTAINING a WARC version line must not desynchronize
    tricky = b"WARC/1.0\r\nfake: yes\r\n\r\nnot a record"
    warc = (
        _record("warcinfo", b"software: x")
        + _record("response", tricky, {"WARC-Target-URI": "http://a/b"})
        + _record("metadata", b"")
    )
    recs = parse_warc_records(warc)
    assert [r["headers"]["warc-type"] for r in recs] == [
        "warcinfo", "response", "metadata",
    ]
    assert recs[1]["body"] == tricky
    assert recs[1]["headers"]["warc-target-uri"] == "http://a/b"
    assert recs[2]["body"] == b""


def test_gzip_single_and_multi_member():
    r0, r1 = _record("warcinfo", b"a"), _record("response", b"bb")
    plain = parse_warc_records(r0 + r1)
    single = parse_warc_records(gzip.compress(r0 + r1))
    multi = parse_warc_records(gzip.compress(r0) + gzip.compress(r1))
    for got in (single, multi):
        assert [r["body"] for r in got] == [r["body"] for r in plain]
    assert gunzip_members(gzip.compress(b"x") + gzip.compress(b"y")) == b"xy"


def test_hostile_payloads():
    with pytest.raises(ValueError):
        parse_warc_records(None)
    with pytest.raises(ValueError):
        parse_warc_records(b"HTTP/1.1 200 OK\r\n\r\n")
    # Content-Length past the payload end
    bad = _record("response", b"abc").replace(b"Content-Length: 3", b"Content-Length: 9999")
    with pytest.raises(ValueError, match="exceeds payload"):
        parse_warc_records(bad)
    # missing Content-Length
    bad = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n"
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc_records(bad)
    # corrupt gzip
    with pytest.raises(ValueError, match="gzip"):
        parse_warc_records(b"\x1f\x8b" + b"\x00" * 20)
    # gzip bomb: highly compressible payload past the decode budget
    bomb = gzip.compress(b"\x00" * (1 << 27))
    with pytest.raises(ValueError, match="decode budget"):
        gunzip_members(bomb)


def test_distributed_lane_mixed(spark):
    warc = _record("warcinfo", b"s: 1") + _record(
        "response", b"hello", {"WARC-Target-URI": "http://x/y"}
    )
    df = spark.createDataFrame(
        [(1, bytearray(warc)), (2, bytearray(gzip.compress(warc))),
         (3, bytearray(b"not warc"))],
        "media_id long, payload binary",
    )
    rows = warc_records(df).collect()
    by = {}
    for r in rows:
        by.setdefault(r["media_id"], []).append(r)
    for mid in (1, 2):
        recs = sorted(by[mid], key=lambda r: r["rec_idx"])
        assert [r["warc_type"] for r in recs] == ["warcinfo", "response"]
        assert recs[1]["body"] == "hello" and recs[1]["target_uri"] == "http://x/y"
        assert recs[1]["content_length"] == 5
    assert 3 not in by  # malformed: zero rows, job survives


def test_split_http_response_edges():
    from seaexplorertools_spark.operators.warc import split_http_response

    ok = split_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"content-type: dup ignored\r\nBadLine\r\n\r\nbody\r\nwith crlf"
    )
    assert ok[0] == 200
    assert ok[1]["content-type"] == "text/html"  # first wins, lowercased
    assert ok[2] == b"body\r\nwith crlf"  # payload CRLFs preserved
    assert split_http_response(b"not http") is None
    assert split_http_response(b"HTTP/1.1 abc\r\n\r\nx") is None
    assert split_http_response(b"HTTP/1.1 200 OK\r\nno terminator") is None


def test_warc_http_lane_drops_non_http_and_warcinfo(spark):
    from seaexplorertools_spark.operators.warc import (
        documents_as_warc,
        warc_http_records,
    )

    docs = spark.createDataFrame([(1, "plain body")], "doc_id long, text string")
    # documents_as_warc writes BARE text bodies (no HTTP framing):
    # the HTTP lane must produce zero rows for them
    assert warc_http_records(documents_as_warc(docs)).count() == 0
