"""Benchmark decontamination against a static Bloom bitset
(engine addition, SURVEY §2.10; the reference is batch-only).

The production shape: documents arrive continuously (crawl ingest) and
must be flagged against the frozen eval-suite n-gram set BEFORE they are
admitted to the training corpus. The eval set compresses to a Bloom
bitset once (``operators/selection.py::bloom_build``); here that bitset
is collapsed to a literal int array (64 Kbit → 2 048 longs — a bounded
J5-style driver boundary, same as ``bloomjoin.build_bloom``) so the
probe is a PURE PER-ROW EXPRESSION:

- shingle extraction, k md5 draws, and the bit tests all run inside one
  ``filter(array, lambda)`` — whole-stage codegen, zero exchanges,
  zero state;
- stateless: the verdict depends only on the row and the literal
  bitmap, so partitioning and retries cannot change results.

Relation to ``dd_bloom_decontaminate`` (same math, different physical
design): that query keeps the filter as a broadcastable (word_idx, word)
TABLE — no driver state, unbounded m — and pays one per-doc shuffle for
the verdict aggregate. This form trades a bounded driver collect for a
zero-shuffle plan. Both produce identical flags (pinned by the
``st_bloom_decontam`` contract oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bitmap_from_words(words: DataFrame, m_bits: int) -> list[int]:
    """Collapse a ``bloom_build`` (word_idx, word) table to a dense
    driver-side list of m_bits/32 ints (missing words → 0). Bounded:
    2 048 ints at the default 64 Kbit."""
    dense = [0] * (m_bits // 32)
    for r in words.collect():
        dense[r["word_idx"]] = r["word"]
    return dense


def _pos_sql(var: str, m_bits: int, k: int) -> str:
    """SQL array of the k md5 bit positions of ``var`` (same draws as
    selection.bloom_hash_positions — DuckDB-reproducible). Hashing once
    into an array keeps each md5 to a single evaluation; the bit tests
    then only index the array."""
    draws = ", ".join(
        f"CAST(conv(substring(md5(concat('{j}:', {var})), 1, 12), 16, 10) "
        f"AS BIGINT) % {m_bits}"
        for j in range(k)
    )
    return f"array({draws})"


def _test_sql(p: str) -> str:
    return (
        f"((element_at(__bm, CAST({p} div 32 AS INT) + 1) & "
        f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 32 AS INT))) <> 0)"
    )


def decontaminate_flags(
    docs: DataFrame,
    bitmap: list[int],
    m_bits: int = 65536,
    k: int = 3,
    shingle_k: int = 3,
) -> DataFrame:
    """Per document, the count of distinct ``shingle_k``-token
    shingles whose k Bloom bits are all set, as a stateless projection.
    Output: (doc_id, n_shingles, n_flagged, is_contaminated)."""
    from ..operators.dedup import shingles_from_tokens, tokens

    sh = F.array_distinct(shingles_from_tokens(tokens(F.col("text")), shingle_k))
    # F.lit(list) → a single foldable array Literal; F.array(*lits) would
    # re-evaluate 2 048 CreateArray children per ROW (measured 8× slower)
    bm = F.lit([int(w) for w in bitmap])
    alltests = " AND ".join(_test_sql(f"ps[{j}]") for j in range(k))
    out = (
        docs.withColumn("__bm", bm)
        .withColumn("__shd", sh)
        .withColumn("n_shingles", F.size("__shd").cast("bigint"))
        .withColumn(
            "n_flagged",
            F.expr(
                "CAST(size(filter(transform(__shd, "
                f"s -> {_pos_sql('s', m_bits, k)}), "
                f"ps -> {alltests})) AS BIGINT)"
            ),
        )
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_flagged",
        (F.col("n_flagged") > 0).alias("is_contaminated"),
    )

