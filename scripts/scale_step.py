#!/usr/bin/env python
"""Synthetic N× scale step for the image-decode lanes (SCALING.md).

Builds an N× copy of sf0.1 documents (doc_id offset per copy — the image
lanes derive payloads deterministically from doc_id, so offsetting ids is
the whole story), written as ~10 parts per 1× so splits scale with data,
then times mm_image_features / mm_image_dedup warm (min of 2, noop sink).

Usage: python scripts/scale_step.py [factor] [base_sf_dir] [lane,lane,...]
Prints one JSON line per lane: {"query", "factor", "rows", "parts",
"baseline_sec", "scaled_sec", "slope"}.

SCALE_KEEP=1 keeps the built copy and reuses it on the next run when its
manifest.json names the same base path, factor and tables; any other
directory there is rebuilt.

Lanes reading `documents` scale by doc_id offset; `j3_positional_join`
(reads `customer`) scales by c_custkey offset — both preserve the
deterministic payload/order derivations the lanes depend on.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from seaexplorertools_spark import contract  # noqa: E402
from seaexplorertools_spark.session import get_spark  # noqa: E402

LANES = ["mm_image_features", "mm_image_dedup"]


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(fn) -> float:
    fn()  # warm
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


# every offset key per table: copies stay structurally DISJOINT (the
# graph/join lanes then see N independent components, so a slope above ~1
# is real per-row cost, not artificial key collision)
TABLES = (
    ("documents", ["doc_id"]),
    ("customer", ["c_custkey"]),
    ("lineitem", ["l_orderkey", "l_partkey"]),
    ("embeddings", ["vec_id"]),  # dense side of the retrieval lanes
)


def _manifest(base: str, factor: int) -> dict:
    """What a scaled directory was built from; SCALE_KEEP=1 reuses a
    directory only when its manifest.json equals this."""
    return {
        "base": os.path.abspath(base),
        "factor": factor,
        "tables": [tbl for tbl, _ in TABLES],
    }


def _read_manifest(work: str) -> dict | None:
    try:
        with open(f"{work}/manifest.json") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _build(spark, base: str, factor: int, work: str) -> None:
    """1× baseline rewritten as 10 parts (the single-split fixture ceiling
    is a measured artifact — equal-splits baselines or the slope lies)
    plus the N× copy; the manifest is written last, so an interrupted
    build is never reused."""
    shutil.rmtree(work, ignore_errors=True)
    copies = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("k")
    for tbl, keys in TABLES:
        df = spark.read.parquet(f"{base}/{tbl}.parquet")
        df.repartition(10).write.parquet(f"{work}/base/{tbl}.parquet")
        scaled = df.select("*", copies)
        for key in keys:
            scaled = scaled.withColumn(
                key, F.col(key) + F.col("k").cast("long") * 10_000_000
            )
        scaled = scaled.drop("k")
        scaled.repartition(10 * factor).write.parquet(f"{work}/scaled/{tbl}.parquet")
    with open(f"{work}/manifest.json", "w") as f:
        json.dump(_manifest(base, factor), f)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    lanes = sys.argv[3].split(",") if len(sys.argv) > 3 else LANES
    if lanes == ["none"]:  # build/keep the scaled copy only (round 10:
        lanes = []         # the A/B harness times lanes on it separately)
    keep = os.environ.get("SCALE_KEEP", "") == "1"
    work = f"/tmp/scale_step_{factor}x"
    base_dir, scaled_dir = f"{work}/base", f"{work}/scaled"
    spark = get_spark("scale-step")
    if keep and _read_manifest(work) == _manifest(base, factor):
        print(f"reusing {work}", flush=True)
    else:
        if keep and os.path.isdir(work):
            print(f"rebuilding {work}: its manifest does not match", flush=True)
        _build(spark, base, factor, work)

    n_base = spark.read.parquet(f"{base_dir}/documents.parquet").count()
    for lane in lanes:
        q = contract.QUERIES[lane]
        t1 = _timed(lambda: _noop(q(spark, base_dir)))
        tn = _timed(lambda: _noop(q(spark, scaled_dir)))
        print(
            json.dumps(
                {
                    "query": lane,
                    "factor": factor,
                    "rows": n_base * factor,
                    "parts": 10 * factor,
                    "baseline_sec": t1,
                    "scaled_sec": tn,
                    "slope": round(tn / t1, 2) if t1 else None,
                }
            ),
            flush=True,
        )
    if not keep:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
