"""Seeded synthetic tables in the layout of the contract lanes' parquet
inputs (TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), at the row counts of the sf0.01 fixture.

Types follow the
fixture files column for column (int32 keys where the fixture has them,
µs timestamps, float32 embedding lists), because several lanes branch on
the physical type (``contract.ts_us_col``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
USERS = 150

_WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_DAY_US = 86_400 * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: np.datetime64, days: int, n: int) -> pa.Array:
    d = start + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _choice(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, ["en", "en", "en", "zh", "de", "fr", "es"], n),
        "source": _choice(rng, [f"src{k}" for k in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": i64(np.arange(c)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)]),
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _choice(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
        ),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(s)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s)]),
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
    t["part"] = pa.table({
        "p_partkey": i64(np.arange(p)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (p, 2))]),
        "p_brand": _choice(rng, [f"Brand#{k}" for k in range(1, 26)], p),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": i64(np.arange(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, o)),
        "o_orderdate": _dates(rng, np.datetime64("1995-01-01"), 2404, o),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, m)),
        "l_partkey": i64(rng.integers(0, p, m)),
        "l_suppkey": i64(rng.integers(0, s, m)),
        "l_linenumber": i32(rng.integers(1, 8, m)),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], m),
        "l_linestatus": _choice(rng, ["F", "O"], m),
        "l_shipdate": _dates(rng, np.datetime64("1995-01-02"), 2498, m),
    })
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, e))
    t["events"] = pa.table({
        "event_id": i64(np.arange(e)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": i64(rng.integers(0, USERS, e)),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group, as
    in the fixture) and return the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows
