"""Bloom decontamination (streaming/decontam.py): the probe is a
stateless projection with zero exchanges, and a holdout document is
always flagged."""

from __future__ import annotations

from pyspark.sql import functions as F

from seaexplorertools_spark.operators.dedup import doc_shingles
from seaexplorertools_spark.operators.selection import bloom_build
from seaexplorertools_spark.streaming.decontam import (
    bitmap_from_words,
    decontaminate_flags,
)


def _bitmap(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hold = (
        doc_shingles(docs.filter(F.col("doc_id") % 50 == 0), 3)
        .select("tok")
        .distinct()
    )
    return docs, bitmap_from_words(bloom_build(hold, "tok", 65536, 3), 65536)


def test_flags_are_a_pure_projection(spark, sf_dir):
    docs, bm = _bitmap(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 50 != 0)

    flags = decontaminate_flags(train, bm)
    plan = flags._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert any(r["n_flagged"] > 0 for r in flags.collect())  # fixture has contamination


def test_no_false_negatives_on_holdout_reinjection(spark, sf_dir):
    """A holdout document re-entering the stream (the exact leak the
    filter exists to catch) must flag every one of its shingles."""
    docs, bm = _bitmap(spark, sf_dir)
    hold_docs = docs.filter(F.col("doc_id") % 50 == 0)
    out = decontaminate_flags(hold_docs, bm).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_flagged"] == r["n_shingles"] and r["is_contaminated"]
