"""Arrow IPC ingest — the zero-copy interchange format itself.

Arrow IPC payloads (the streaming format, and the file/Feather-V2
format with the ``ARROW1`` magic) are how columnar data moves between
engines; a payload column of them is what a bus dump or a Flight sink
leaves behind. This lane uses pyarrow (in-container) to open either
format — sniffed by the file magic — and explodes record batches onto
the fixed (doc_id, seq, body, score) ingest shape shared with the
Avro/MessagePack lanes: missing columns project to NULL, extra columns
are ignored, malformed payloads degrade to zero rows.

Both formats are lossless containers, so ``mm_arrow_records`` pins the
sniff, both readers and the multi-batch walk under one constructor
oracle.
"""

from __future__ import annotations

import io
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

ARROW_RECORD_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("doc_id", LongType(), True),
        StructField("seq", LongType(), True),
        StructField("body", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)

_FIELDS = ("doc_id", "seq", "body", "score")


def read_arrow_payload(payload: bytes):
    """pyarrow Table from an IPC payload — file format when the
    ``ARROW1`` magic leads, else the streaming format."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    b = bytes(payload)
    buf = pa.BufferReader(b)
    if b[:6] == b"ARROW1":
        return ipc.open_file(buf).read_all()
    return ipc.open_stream(buf).read_all()


def arrow_records(media: DataFrame) -> DataFrame:
    """Explode Arrow IPC payloads onto the fixed ingest shape —
    Arrow-batched mapInPandas, zero shuffle, per-payload degrade."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "doc_id", "seq", "body", "score"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    tbl = read_arrow_payload(payload)
                except Exception:
                    continue
                names = set(tbl.schema.names)
                data = {
                    f: (tbl[f].to_pylist() if f in names else [None] * len(tbl))
                    for f in _FIELDS
                }
                for k in range(len(tbl)):
                    # type-guard every field:
                    # a payload whose score column is strings (or body
                    # non-string) degrades the FIELD to NULL instead of
                    # failing the Spark task.
                    score = data["score"][k]
                    doc_id, seq = data["doc_id"][k], data["seq"][k]
                    body = data["body"][k]
                    rows.append(
                        (
                            mid,
                            int(doc_id) if isinstance(doc_id, int) else None,
                            int(seq) if isinstance(seq, int) else None,
                            body if isinstance(body, str) else None,
                            float(score) if isinstance(score, (int, float)) else None,
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        extract, ARROW_RECORD_SCHEMA
    )


def documents_as_arrow(docs: DataFrame) -> DataFrame:
    """Adapter: per document a REAL Arrow IPC payload of ``1 + doc_id %
    3`` rows (body NULL at seq 2, score = doc_id % 83 + seq/16 —
    dyadic ⇒ exact), written in the STREAMING format for even ids and
    the FILE (ARROW1/Feather-V2) format for odd, split into two record
    batches whenever a payload holds ≥ 2 rows — one oracle pins the
    magic sniff, both readers and the batch walk."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.ipc as ipc

        schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("seq", pa.int64()),
                ("body", pa.string()),
                ("score", pa.float64()),
            ]
        )
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                k = 1 + did % 3
                tbl = pa.table(
                    {
                        "doc_id": [did] * k,
                        "seq": list(range(k)),
                        "body": [
                            None if s == 2 else (text or "") for s in range(k)
                        ],
                        "score": [did % 83 + s / 16.0 for s in range(k)],
                    },
                    schema=schema,
                )
                sink = io.BytesIO()
                opener = ipc.new_file if did % 2 else ipc.new_stream
                with opener(sink, schema) as writer:
                    for batch in tbl.to_batches(max_chunksize=1 if k >= 2 else k):
                        writer.write_batch(batch)
                rows.append((did, "arrow", sink.getvalue()))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload"])

    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )
    return docs.select("doc_id", "text").mapInPandas(build, out_schema)
