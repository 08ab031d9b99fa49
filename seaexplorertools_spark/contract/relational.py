"""Spark-native relational surface: set ops, top-k, pivot, semi/anti,
rollup, UDF surface, sessionization (batches 4–5).

Split from the flat contract module in round 5 (registry mechanics and
conventions: contract/_base.py; canonical key order: contract/_order.py).
"""

from __future__ import annotations

import math  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.window import Window  # noqa: F401

from ..operators import windows as W  # noqa: F401
from ..operators.grid import binned_agg_2d, histogram  # noqa: F401
from ..operators.joins import asof_join, interp_join  # noqa: F401
from ..operators.qc import qc_velocity  # noqa: F401
from ._base import (  # noqa: F401
    EV_ORDER,
    ORACLES,
    QUERIES,
    R6P_SQL,
    events,
    ptable, q,
    r6,
    r6p,
    table,
    ts_us_col,
)
from .llm_core import _TOK_SQL  # noqa: F401
from ..operators.dedup import simhash32  # noqa: F401
from .refparity import _EV_W_SQL  # noqa: F401


# Batch 4 — Spark-native relational surface (set ops, top-k, pivot) and
# composite reference-math queries
# ---------------------------------------------------------------------------


@q(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary — the canonical multi-aggregate scan
    (Spark-native surface; exercises the same partial-agg path as grid2d)."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "2000-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (F.lit(1) + F.col("l_tax"))), 4).alias("sum_charge"),
            r6(F.avg("l_quantity")).alias("avg_qty"),
            r6(F.avg("l_extendedprice")).alias("avg_price"),
            r6(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "q_topk_orders",
    """
    WITH r AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
      FROM orders
    )
    SELECT rank, o_orderkey, o_custkey, o_totalprice FROM r WHERE rank <= 10
    """,
)
def q_topk_orders(spark, sf_dir):
    """Top-k with deterministic tiebreak (engine-portable ordering).

    Physical strategy: ``orderBy().limit(k)`` executes as a distributed
    TakeOrdered (per-partition top-k, then merge) — a global row_number
    window would move ALL rows to one partition. The rank column is then a
    window over the already-collected k rows (trivial)."""
    o = table(spark, sf_dir, "orders")
    top = o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).limit(10)
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "o_orderkey", "o_custkey", "o_totalprice"
    )


@q(
    "q_set_ops",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def q_set_ops(spark, sf_dir):
    """Set operator surface (INTERSECT; UNION/EXCEPT are the same code
    path). The reference has no set ops (SURVEY §2.5 note) — Spark-native."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    recent = o.filter(F.col("o_orderdate") >= "2000-01-01").select(
        F.col("o_custkey").alias("custkey")
    )
    rich = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey"))
    return recent.intersect(rich)


@q(
    "r2_pivot_export",
    """
    SELECT l_linenumber,
           round(avg(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 6) AS A,
           round(avg(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 6) AS N,
           round(avg(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 6) AS R
    FROM lineitem GROUP BY l_linenumber
    """,
)
def r2_pivot_export(spark, sf_dir):
    """R2 — long→wide pivot, the export-time densification (reference
    make_dataset :2029-2043 assembles wide grids; mid-pipeline stays long)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linenumber")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(r6(F.avg("l_quantity")))
    )


@q(
    "ref_vertical_integration",
    """
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS tu,
             CAST(round(value * 10000.0) AS BIGINT) AS su
      FROM events
    ),
    v AS (
      SELECT user_id, event_id, su,
             sum(su) OVER (PARTITION BY user_id ORDER BY tu, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_u
      FROM g
    ),
    p AS (
      SELECT user_id, event_id, cum_u,
             count(cum_u) OVER (PARTITION BY user_id) AS n,
             sum(cum_u) OVER (PARTITION BY user_id) AS s,
             sum(su) OVER (PARTITION BY user_id) AS dac_u
      FROM v
    )
    SELECT user_id, event_id,
           CAST(cum_u * n - s + dac_u AS BIGINT) AS referenced_num,
           CAST(n * 10000 AS BIGINT) AS referenced_den
    FROM p
    """,
)
def ref_vertical_integration(spark, sf_dir):
    """Composite reference-shear math (reference reference_shear :1676-1717):
    cumulative integration of a shear proxy, per-profile demean, and a
    DAC-style reference re-add — W3+W6 in one lineage on events.

    The result is emitted as an EXACT rational (numerator, denominator) in
    BIGINT µ-units of the shear proxy — float window-aggregation order
    differs between engines, the tidy 2-decimal inputs land mid-aggregates
    exactly on round-half boundaries, and even a final round() of identical
    doubles can disagree (Spark rounds the exact decimal expansion via
    BigDecimal; DuckDB multiplies by 10^k first) — found the hard way at
    sf0.01. Integer arithmetic sidesteps the whole class."""
    ev = events(spark, sf_dir)
    ev = ev.withColumn("su", F.round(F.col("value") * 10000.0).cast("long"))
    ev = ev.withColumn("cum_u", W.cumsum("su", ["user_id"], EV_ORDER, nan_as_zero=False))
    wq = Window.partitionBy("user_id")
    n = F.count("cum_u").over(wq)
    s = F.sum("cum_u").over(wq)
    dac_u = F.sum("su").over(wq)
    return ev.select(
        "user_id",
        "event_id",
        (F.col("cum_u") * n - s + dac_u).alias("referenced_num"),
        (n * F.lit(10000)).cast("long").alias("referenced_den"),
    )


@q(
    "a2_orientation_detect",
    """
    SELECT CAST(avg(CASE WHEN event_type = 'error' THEN value END) < 50.0 AS BOOLEAN)
             AS top_mounted_analog,
           count(*) AS n
    FROM events
    """,
)
def a2_orientation_detect(spark, sf_dir):
    """A2 — the orientation-detect control-flow scalar (reference :210-213
    MagnetometerZ.mean() < 0) as a checkable aggregate."""
    ev = events(spark, sf_dir)
    return ev.agg(
        (F.avg(F.when(F.col("event_type") == "error", F.col("value"))) < 50.0)
        .cast("boolean")
        .alias("top_mounted_analog"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Batch 5 — relational completeness (semi/anti, rollup), UDF surface,
# simhash pairs, sessionization
# ---------------------------------------------------------------------------


@q(
    "q_semi_anti_join",
    """
    SELECT 'with_orders' AS side, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS side, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_semi_anti_join(spark, sf_dir):
    """Semi/anti join surface (Spark-native; the reference has no equi-joins
    at all — SURVEY §2.3 note)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(F.count("*").alias("n")).select(
        F.lit("with_orders").alias("side"), "n"
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(F.count("*").alias("n")).select(
        F.lit("without_orders").alias("side"), "n"
    )
    return semi.unionByName(anti)


@q(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """Hierarchical rollup (the 'hypertable rollup' analog): subtotals per
    (flag, status), per flag, and grand total in one pass."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"), F.count("*").alias("n")
    )


@q(
    "udf_soundspeed_mackenzie",
    """
    SELECT l_orderkey, l_linenumber,
           round(1448.96 + 4.591 * t - 5.304e-2 * t * t + 2.374e-4 * t * t * t
                 + 1.340 * (s - 35.0) + 1.630e-2 * d + 1.675e-7 * d * d
                 - 1.025e-2 * t * (s - 35.0) - 7.139e-13 * t * d * d * d, 6) AS c_ms
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity / 2.0 AS t,
             34.0 + l_tax * 10.0 AS s, l_extendedprice / 100.0 AS d
      FROM lineitem
    )
    """,
)
def udf_soundspeed_mackenzie(spark, sf_dir):
    """UDF surface (SURVEY §2.9 / F7): Mackenzie (1981) soundspeed as an
    Arrow-batched pandas UDF — numpy double arithmetic in the same operation
    order as the SQL oracle, so results are bit-identical before rounding.
    Demonstrates the vectorized-UDF escape hatch staying oracle-checkable."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mackenzie(t, s, d):
        return (
            1448.96
            + 4.591 * t
            - 5.304e-2 * t * t
            + 2.374e-4 * t * t * t
            + 1.340 * (s - 35.0)
            + 1.630e-2 * d
            + 1.675e-7 * d * d
            - 1.025e-2 * t * (s - 35.0)
            - 7.139e-13 * t * d * d * d
        )

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r6(
            mackenzie(
                F.col("l_quantity") / 2.0,
                F.lit(34.0) + F.col("l_tax") * 10.0,
                F.col("l_extendedprice") / 100.0,
            )
        ).alias("c_ms"),
    )


@q(
    "udf_trimmed_mean",
    """
    WITH v AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    t AS (SELECT event_type, value FROM v
          WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1))
    SELECT event_type, round(avg(value), 6) AS trimmed_mean
    FROM t GROUP BY event_type
    """,
)
def udf_trimmed_mean(spark, sf_dir):
    """§2.9 GROUPED_AGG surface (functions/grouped.py::trimmed_mean_udf):
    per-event-type 10 %-trimmed mean of value via an Arrow
    grouped-aggregate pandas UDF — the Series→scalar UDF shape, completing
    the Python-boundary family (scalar pandas_udf, grouped-map, cogrouped,
    mapInPandas, mapInArrow, UDTF, and now the
    pandas UDAF). Right boundary for order statistics with no
    sufficient-statistic split; the k = floor(n·trim) drop count is the
    identical IEEE double product in pandas and the oracle, so the kept
    multiset matches exactly and only the 6-dp-rounded mean is compared."""
    from ..functions.grouped import group_trimmed_means

    ev = events(spark, sf_dir).filter(F.col("value").isNotNull())
    out = group_trimmed_means(ev, ["event_type"], "value", trim=0.1)
    return out.select("event_type", r6(F.col("trimmed_mean")).alias("trimmed_mean"))


@q(
    "dd_simhash_pairs",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({_TOK_SQL}) AS tok FROM documents
    ),
    th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, b.b, sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sh AS (
      SELECT doc_id, CAST(sum(CASE WHEN v >= 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dd_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: hamming distance of 32-bit fingerprints ≤ 3.

    Pair generation BLOCKS on 8-bit bands (pigeonhole: ≤ 3 differing bits
    can dirty at most 3 of the 4 bands, so every qualifying pair matches
    EXACTLY in ≥ 1 band) — the join is a hash join on (band_idx,
    band_value) with candidates bounded by Σ bucket², then the exact
    hamming filter and a distinct (a pair can collide in up to 4 bands).
    The previous all-pairs `doc1 < doc2` nested-loop formulation is the
    O(N²) trap this replaces; the oracle keeps the all-pairs SQL, so the
    driver check proves the banding loses no pairs."""
    sh = simhash32(ptable(spark, sf_dir)).cache()  # self-joined
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("b_idx"),
                F.shiftright(F.col("simhash"), 8 * i).bitwiseAND(F.lit(255)).alias("b_val"),
            )
            for i in range(4)
        ]
    )
    sb = sh.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
        "doc_id", "simhash", F.col("b.b_idx").alias("b_idx"), F.col("b.b_val").alias("b_val")
    )
    a = sb.select(
        F.col("doc_id").alias("doc1"), F.col("simhash").alias("h1"), "b_idx", "b_val"
    )
    b = sb.select(
        F.col("doc_id").alias("doc2"), F.col("simhash").alias("h2"), "b_idx", "b_val"
    )
    cand = (
        a.join(b, ["b_idx", "b_val"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", "h1", "h2")
        .distinct()
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return cand.select("doc1", "doc2", hamming.cast("long").alias("hamming")).filter(
        F.col("hamming") <= 3
    )


@q(
    "q_sessionize",
    f"""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(ts) AS tu,
             epoch_us(ts) - lag(epoch_us(ts)) OVER ({_EV_W_SQL}) AS gap_us
      FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
                OVER ({_EV_W_SQL.replace("epoch_us(ts)", "tu")}
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM t
    """,
)
def q_sessionize(spark, sf_dir):
    """Session-gap sessionization (30-min gap): the batch equivalent of a
    session_window streaming aggregation — new session whenever the gap to
    the previous event exceeds the threshold (classic cumsum-of-boundaries,
    same shape as the reference's GPS-reset W4)."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(*EV_ORDER)
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    boundary = F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id", "event_id", F.sum(boundary).over(wc).cast("long").alias("session_id")
    )


# ---------------------------------------------------------------------------
