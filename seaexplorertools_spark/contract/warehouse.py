"""Warehouse/product-analytics: CDC snapshots, SCD2, conversion,
profiling (round-3 additions, part 1).

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
from .llm_train import txt_chunk  # noqa: F401
from .refparity import _EV_W_SQL  # noqa: F401


# ---------------------------------------------------------------------------
# Warehouse / product-analytics operators (engine additions beyond the
# reference): CDC log-compaction snapshot, SCD2 history build, conversion
# funnel, cohort retention, Spark-native session windows, grid-bucketed
# spatial ε-join, TPC-H Q3, per-language top n-grams. All are the query
# shapes a lakehouse user runs daily; each has an exact DuckDB oracle.
# ---------------------------------------------------------------------------


@q(
    "q_cdc_snapshot",
    """
    WITH t AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS tu,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type AS last_op, round(value, 6) AS value,
           tu AS last_ts_us
    FROM t WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_snapshot(spark, sf_dir):
    """CDC changelog apply (log compaction): latest row per key wins; a
    terminal tombstone ('error') drops the key from the snapshot. One hash
    exchange keyed on user_id; the window top-1 reduces each key to a
    single row, so at 100 TB the output (and everything downstream) is
    |keys|-sized — the standard upsert-materialization shape."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            r6(F.col("value")).alias("value"),
            F.col("ts_us").alias("last_ts_us"),
        )
    )


@q(
    "q_scd2_intervals",
    f"""
    WITH t AS (
      SELECT user_id, event_type, epoch_us(ts) AS tu, event_id,
             CASE WHEN lag(event_type) OVER ({_EV_W_SQL})
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    isl AS (
      SELECT user_id, event_type, tu,
             sum(chg) OVER (PARTITION BY user_id ORDER BY tu, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM t
    ),
    iv AS (
      SELECT user_id, min(event_type) AS attr, min(tu) AS valid_from,
             count(*) AS n_rows
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, attr, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to,
           n_rows
    FROM iv
    """,
)
def q_scd2_intervals(spark, sf_dir):
    """SCD2 history build: compress the per-key event stream into
    [valid_from, valid_to) attribute intervals (gaps-and-islands — the
    same boundary-cumsum as W4/sessionize, then one groupBy and a lead()
    to close each interval). valid_to IS NULL marks the current row.
    Scale: everything is keyed on user_id — one exchange, three sorts
    reused on the same partitioning."""
    return _scd2_intervals(events(spark, sf_dir))


def _scd2_intervals(ev):
    w = Window.partitionBy("user_id").orderBy(*EV_ORDER)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = (
        ev.select("user_id", "event_type", "ts_us", "event_id")
        .withColumn(
            "chg",
            F.when(
                ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("chg").over(wc))
    )
    iv = isl.groupBy("user_id", "island").agg(
        F.min("event_type").alias("attr"),
        F.min("ts_us").alias("valid_from"),
        F.count("*").alias("n_rows"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return iv.select(
        "user_id",
        "attr",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_rows",
    )


@q(
    "q_pit_join",
    f"""
    WITH t AS (
      SELECT user_id, event_type, epoch_us(ts) AS tu, event_id,
             CASE WHEN lag(event_type) OVER ({_EV_W_SQL})
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    isl AS (
      SELECT user_id, event_type, tu,
             sum(chg) OVER (PARTITION BY user_id ORDER BY tu, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM t
    ),
    iv AS (
      SELECT user_id, min(event_type) AS attr, min(tu) AS valid_from
      FROM isl GROUP BY user_id, island
    ),
    dim AS (
      SELECT user_id, attr, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to
      FROM iv
    ),
    f AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.ts_us,
           d.attr AS attr_at_ts, d.valid_from AS dim_valid_from
    FROM f JOIN dim d
      ON f.user_id = d.user_id
     AND d.valid_from <= f.ts_us
     AND (d.valid_to IS NULL OR f.ts_us < d.valid_to)
     AND (d.valid_to IS NULL OR d.valid_to > d.valid_from)
    """,
)
def q_pit_join(spark, sf_dir):
    """Point-in-time dimension join: each purchase fact picks the SCD2
    attribute version valid AT its timestamp. The warehouse-standard
    formulation is an interval-containment theta join (the oracle does
    exactly that); the Spark-first scale path recognizes PIT == BACKWARD
    AS-OF against interval starts and reuses the J2 union+window machinery
    (operators/joins.py::asof_join, cast_values=False carries the STRING
    attribute natively) — one shuffle on user_id, no per-key cross
    product, same exchange as every other user-keyed stage. Degenerate
    zero-width versions (possible only under same-microsecond attribute
    flips) are dropped on both sides so fact instants resolve to the
    surviving interval identically."""
    ev = events(spark, sf_dir)
    dim = _scd2_intervals(ev).filter(
        F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from"))
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    samples = dim.select(
        "user_id",
        F.col("valid_from").alias("ts_us"),
        F.col("attr"),
        F.col("valid_from").alias("dim_valid_from"),
    )
    from ..operators.joins import asof_join

    res = asof_join(
        samples,
        facts,
        on="ts_us",
        values=["attr", "dim_valid_from"],
        partition_by=["user_id"],
        direction="backward",
        cast_values=False,
    )
    return res.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("attr").alias("attr_at_ts"),
        "dim_valid_from",
    )


@q(
    "q_funnel_conversion",
    """
    WITH s1 AS (
      SELECT user_id, epoch_us(ts) AS tu, event_type,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ),
    s2 AS (
      SELECT user_id, tu, event_type, t1,
             min(CASE WHEN event_type = 'click' AND tu > t1 THEN tu END)
               OVER (PARTITION BY user_id) AS t2
      FROM s1
    ),
    s3 AS (
      SELECT user_id, t1, t2,
             min(CASE WHEN event_type = 'purchase' AND tu > t2 THEN tu END)
               OVER (PARTITION BY user_id) AS t3
      FROM s2
    ),
    u AS (
      SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
      FROM s3 GROUP BY user_id
    )
    SELECT count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS step_view,
           count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS step_click,
           count(CASE WHEN t3 IS NOT NULL THEN 1 END) AS step_purchase,
           round(CAST(sum(CASE WHEN t3 IS NOT NULL THEN t3 - t1 END) AS DOUBLE)
                 / nullif(count(CASE WHEN t3 IS NOT NULL THEN 1 END), 0), 6)
             AS avg_convert_us
    FROM u
    """,
)
def q_funnel_conversion(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase: t1 = first view,
    t2 = first click AFTER t1, t3 = first purchase AFTER t2 (strict
    ordering, the product-analytics definition). Three per-key window mins
    chained on ONE user_id exchange, then a global 1-row rollup.
    avg_convert_us divides an exact integer-µs sum by an exact count, so
    the double quotient is engine-identical."""
    ev = events(spark, sf_dir)
    wu = Window.partitionBy("user_id")
    s = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(wu)
    )
    s = s.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts_us") > F.col("t1")),
                F.col("ts_us"),
            )
        ).over(wu),
    )
    s = s.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts_us") > F.col("t2")),
                F.col("ts_us"),
            )
        ).over(wu),
    )
    u = s.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    converted = F.when(F.col("t3").isNotNull(), 1)
    return u.agg(
        F.count(F.when(F.col("t1").isNotNull(), 1)).alias("step_view"),
        F.count(F.when(F.col("t2").isNotNull(), 1)).alias("step_click"),
        F.count(converted).alias("step_purchase"),
        F.round(
            F.sum(F.when(F.col("t3").isNotNull(), F.col("t3") - F.col("t1"))).cast(
                "double"
            )
            / F.nullif(F.count(converted), F.lit(0)),
            6,
        ).alias("avg_convert_us"),
    )


@q(
    "q_cohort_retention",
    """
    WITH t AS (
      SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
    ),
    c AS (
      SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS cohort_wk
      FROM t
    )
    SELECT cohort_wk, wk - cohort_wk AS week_offset,
           count(DISTINCT user_id) AS active_users
    FROM c GROUP BY cohort_wk, week_offset
    """,
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: cohort = first-seen epoch-week per user
    (integer µs division — no calendar/tz functions, engine-identical),
    cell = distinct active users at each week offset. Scale: one user_id
    exchange for the cohort window, then a (cohort, offset)-keyed
    count-distinct whose partial aggregation dedupes (key, user) map-side."""
    ev = events(spark, sf_dir).select(
        "user_id", F.expr("ts_us div 604800000000").alias("wk")
    )
    c = ev.withColumn("cohort_wk", F.min("wk").over(Window.partitionBy("user_id")))
    return c.groupBy(
        "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset")
    ).agg(F.count_distinct("user_id").alias("active_users"))


@q(
    "q_session_window_native",
    f"""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(ts) AS tu,
             epoch_us(ts) - lag(epoch_us(ts)) OVER ({_EV_W_SQL}) AS gap_us
      FROM events
    ),
    s AS (
      SELECT user_id, tu,
             sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM t
    )
    SELECT user_id, min(tu) AS session_start_us,
           max(tu) + 1800000000 AS session_end_us,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_window_native(spark, sf_dir):
    """Spark-native session windows (F.session_window, 30-min gap) run in
    BATCH mode — the same operator the streaming engine uses for stateful
    session aggregation, here oracle-checked against the gaps-and-islands
    formulation (session windows are half-open [t, t+gap), so a gap of
    exactly 30 min STARTS a new session — hence `>=` in the oracle, vs
    `>` in q_sessionize's keep-together convention). µs → timestamp via
    timestamp_micros and back via unix_micros, both tz-independent."""
    ev = events(spark, sf_dir).withColumn("t", F.timestamp_micros(F.col("ts_us")))
    return (
        ev.groupBy("user_id", F.session_window("t", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )


@q(
    "q_spatial_eps_join",
    """
    WITH p AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
    FROM p a JOIN p b
      ON a.vec_id < b.vec_id
     AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) < 0.0625 * 0.0625
    """,
)
def q_spatial_eps_join(spark, sf_dir):
    """ε-neighborhood spatial self-join via grid-cell bucketing (ε=2⁻⁴,
    exactly representable): each point keys to its ⌊coord/ε⌋ cell, one
    side fans out to the 3×3 neighbor cells, the join runs on the cell
    key, and the exact distance predicate filters candidates. Cell width
    = ε guarantees every true pair shares a (possibly neighboring) cell,
    and each pair is produced exactly once (the probe side sits in one
    cell). The oracle is the all-pairs formulation; the Spark plan is a
    hash join on (cx, cy) — at 100 TB each point shuffles ≤10 rows
    instead of the |N|² crossJoin, and skew is bounded by the physical
    point density of an ε-cell."""
    emb = table(spark, sf_dir, "embeddings")
    p = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    eps = F.lit(0.0625)
    three = F.array([F.lit(i) for i in (-1, 0, 1)])
    offs = (
        spark.range(1)
        .select(F.explode(three).alias("dx"))
        .select("dx", F.explode(three).alias("dy"))
    )
    a = p.crossJoin(F.broadcast(offs)).select(
        F.col("vec_id").alias("vec_a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.floor(F.col("x") / eps) + F.col("dx")).alias("cx"),
        (F.floor(F.col("y") / eps) + F.col("dy")).alias("cy"),
    )
    b = p.select(
        F.col("vec_id").alias("vec_b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.floor(F.col("x") / eps).alias("cx"),
        F.floor(F.col("y") / eps).alias("cy"),
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    d2 = dx * dx + dy * dy
    return (
        a.join(b, ["cx", "cy"])
        .filter((F.col("vec_a") < F.col("vec_b")) & (d2 < F.lit(0.0625 * 0.0625)))
        .select("vec_a", "vec_b", r6(F.sqrt(d2)).alias("dist"))
    )


@q(
    "q_tpch_q3",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping priority: selective dim filter broadcast into a
    fact-fact join, grouped revenue, distributed top-10 (TakeOrdered —
    no global sort materialization). The customer side is broadcast
    (post-filter it is a fraction of an already-small dim); orders and
    lineitem co-shuffle on the order key. Ties at the limit boundary are
    broken on l_orderkey over the ROUNDED revenue, so the cut is
    engine-deterministic."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@q(
    "txt_top_ngrams",
    """
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(text, '\\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT lang, t[i-1] || ' ' || t[i] AS bigram
      FROM toks, unnest(range(2, len(t) + 1)) AS u(i)
    ),
    c AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY lang, bigram)
    SELECT lang, bigram, cnt FROM (
      SELECT lang, bigram, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn
      FROM c) WHERE rn <= 5
    """,
)
def txt_top_ngrams(spark, sf_dir):
    """Per-language top-5 bigrams: whitespace tokenization, JVM-side
    transform/explode (no Python), count, windowed rank with a
    deterministic (cnt DESC, bigram) tiebreak. Scale: the explode is
    O(tokens) but the shuffle after partial aggregation is |distinct
    (lang, bigram)| — corpus-vocabulary-sized, not corpus-sized; the
    rank exchange is |langs|-keyed."""
    docs = ptable(spark, sf_dir)
    toks = docs.select("lang", F.split("text", r"\s+").alias("t"))
    bg = toks.select(
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
                "i -> concat(t[i-1], ' ', t[i])) ELSE array() END"
            )
        ).alias("bigram"),
    )
    c = bg.groupBy("lang", "bigram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "bigram")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "bigram", "cnt")
    )


# ---------------------------------------------------------------------------
# Round-3 additions: multi-granularity aggregation, distribution windows,
# robust-statistics QC, explicit bloom semi-join reduction, chunk-level
# dedup, PQ ANN, stream-static enrichment (batch twin)
# ---------------------------------------------------------------------------


@q(
    "q_grouping_sets",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           round(sum(l_quantity), 6) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Multi-granularity aggregation in ONE pass: GROUPING SETS computes
    the (flag, status), (flag) and grand-total granularities from a single
    scan + single Expand-fed shuffle instead of three scans unioned —
    at 100 TB that is the difference between reading the fact table once
    and three times. NULL group keys are coalesced to 'ALL' on both sides
    so the hash compare is sentinel-stable."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(r6(F.sum("l_quantity")).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "sum_qty",
            "n",
        )
    )


@q(
    "q_window_distribution",
    """
    SELECT event_id, event_type,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def q_window_distribution(spark, sf_dir):
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per event_type — the quantile-bucketing shape used for curriculum
    binning and score calibration. The event_id tiebreak removes ORDER BY
    peers, making all three functions engine-deterministic. One exchange
    keyed by event_type; the sort is per-partition."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cume"),
    )


@q(
    "q_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, any_value(m) AS m,
             median(abs(e.value - m)) AS mad
      FROM events e JOIN med USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - m) / nullif(1.4826 * mad, 0.0), 6) AS robust_z
    FROM events e JOIN mad USING (event_type)
    WHERE abs(round((e.value - m) / nullif(1.4826 * mad, 0.0), 6)) > 3.0
    """,
)
def q_mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation — the QC
    filter that survives the heavy tails that break mean/stddev z-scores
    (reference masks on fixed thresholds, process_adcp.py:419-447; MAD is
    the data-driven generalization). Two grouped exact medians over a
    |event_type|-sized key space, each result broadcast back — the fact
    table is never shuffled, only scanned. The outlier cut compares the
    ROUNDED robust z on both engines so the boundary is deterministic."""
    ev = events(spark, sf_dir).select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("m"))
    dev = ev.join(F.broadcast(med), "event_type")
    mad = (
        dev.groupBy("event_type")
        .agg(F.any_value("m").alias("m"), F.median(F.abs(F.col("value") - F.col("m"))).alias("mad"))
    )
    rz = r6((F.col("value") - F.col("m")) / F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0)))
    return (
        ev.join(F.broadcast(mad), "event_type")
        .withColumn("robust_z", rz)
        .filter(F.abs(F.col("robust_z")) > 3.0)
        .select("event_id", "event_type", "value", "robust_z")
    )


@q(
    "q_bloom_semi_reduction",
    """
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 4) AS sum_price
    FROM lineitem
    WHERE l_orderkey IN
          (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag
    """,
)
def q_bloom_semi_reduction(spark, sf_dir):
    """Explicit bloom-filter semi-join reduction (operators/bloomjoin.py):
    the urgent-order keys aggregate into a 32 KiB bitmap (one narrow
    shuffle, n_words rows), cross the driver once as a scalar broadcast,
    and re-enter as a literal-array codegen predicate that drops
    non-matching lineitem rows AT THE SCAN — before any exchange. The
    exact semi join then removes bloom false positives, so results equal
    the plain semi join while the fact-side shuffle carries only
    matches + fpr. This is the reduction AQE's runtime bloom filter
    injects for eligible shapes, made explicit and plan-independent."""
    from ..operators.bloomjoin import bloom_semi_join

    li = table(spark, sf_dir, "lineitem")
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    hits = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return hits.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


@q(
    "txt_chunk_dedup",
    f"""
    WITH tk AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS nt FROM tk WHERE len(toks) > 0),
    c AS (SELECT doc_id, toks, nt,
                 unnest(generate_series(0, CAST(ceil(nt / 24.0) AS BIGINT) - 1)) AS k
          FROM n),
    chunks AS (
      SELECT doc_id, k AS chunk_id,
             array_to_string(toks[k*24 + 1 : least(k*24 + 32, nt)], ' ') AS chunk_text,
             least(k*24 + 32, nt) - k*24 AS chunk_len
      FROM c WHERE k*24 < nt)
    SELECT doc_id, chunk_id, chunk_len, n_copies FROM (
      SELECT doc_id, chunk_id, chunk_len,
             row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn,
             count(*)    OVER (PARTITION BY chunk_text) AS n_copies
      FROM chunks) WHERE rn = 1
    """,
)
def txt_chunk_dedup(spark, sf_dir):
    """Sequence-level exact dedup over the context-window chunks — the
    pretraining step between chunking and packing: duplicated training
    sequences (boilerplate, templates, cross-doc copies) are collapsed to
    their first occurrence (min doc_id, chunk_id) with a survivor
    duplicate count. One shuffle keyed by chunk text; at 100 TB key on
    the chunk digest instead (same semantics, 16-byte keys) and the skew
    bound is the largest duplicate cluster."""
    chunks = txt_chunk(spark, sf_dir)
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_id")
    return (
        chunks.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(Window.partitionBy("chunk_text")))
        .filter(F.col("rn") == 1)
        .select("doc_id", "chunk_id", "chunk_len", "n_copies")
    )


def _pq_oracle_sql(
    n_sub: int = 16, n_cent: int = 16, k: int = 5, shortlist: int = 100,
    dim: int = 64, sample_n: int = 512, iters: int = 8,
) -> str:
    """DuckDB replay of similarity.pq_topk INCLUDING the per-subspace
    codebook training: md5-ordered sample, lowest-id init, ``iters``
    Lloyd rounds on 6-dp rounded subspace distances. All 16 subspaces
    ride ONE CTE chain keyed (sub, c_id) — the unroll is over Lloyd
    rounds only, not subspaces. ADC lookup sums and the cosine re-rank
    compare on 6-dp rounded values exactly like the engine (upgraded
    from rows-only in round 5)."""
    d_sub = dim // n_sub
    parts = [f"""WITH cells AS MATERIALIZED (
      SELECT vec_id, r.range + 1 AS pos1,
             CAST(embedding[r.range + 1] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN range({dim}) r
    ),
    sp AS MATERIALIZED (
      SELECT vec_id, CAST((pos1 - 1) // {d_sub} AS BIGINT) AS sub,
             ((pos1 - 1) % {d_sub}) + 1 AS spos, val
      FROM cells
    ),
    samp AS MATERIALIZED (
      SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        FROM embeddings
      ) WHERE rk <= {sample_n}
    ),
    ps AS MATERIALIZED (
      SELECT sp.vec_id AS id, sp.sub, sp.spos, sp.val
      FROM sp JOIN samp s ON s.vec_id = sp.vec_id
    ),
    cent0 AS MATERIALIZED (
      SELECT CAST(dense_rank() OVER (ORDER BY id) - 1 AS BIGINT) AS c_id, sub, spos, val AS cval
      FROM ps WHERE id IN (SELECT id FROM (SELECT DISTINCT id FROM ps) ORDER BY id LIMIT {n_cent})
    )"""]
    prev = "cent0"
    for t in range(1, iters + 1):
        parts.append(f"""asg{t} AS MATERIALIZED (
      SELECT id, sub, c_id FROM (
        SELECT ps.id, ps.sub, p.c_id,
               row_number() OVER (
                 PARTITION BY ps.id, ps.sub
                 ORDER BY round(SUM((ps.val - p.cval) * (ps.val - p.cval)), 6), p.c_id
               ) AS rn
        FROM ps JOIN {prev} p ON p.sub = ps.sub AND p.spos = ps.spos
        GROUP BY ps.id, ps.sub, p.c_id
      ) WHERE rn = 1
    ),
    mean{t} AS MATERIALIZED (
      SELECT a.sub, a.c_id, ps.spos, AVG(ps.val) AS cval
      FROM asg{t} a JOIN ps ON ps.id = a.id AND ps.sub = a.sub
      GROUP BY 1, 2, 3
    ),
    cent{t} AS MATERIALIZED (
      SELECT p.c_id, p.sub, p.spos, COALESCE(m.cval, p.cval) AS cval
      FROM {prev} p LEFT JOIN mean{t} m
        ON m.c_id = p.c_id AND m.sub = p.sub AND m.spos = p.spos
    )""")
        prev = f"cent{t}"
    parts.append(f"""codes AS MATERIALIZED (
      SELECT vec_id, sub, c_id FROM (
        SELECT sp.vec_id, sp.sub, p.c_id,
               row_number() OVER (
                 PARTITION BY sp.vec_id, sp.sub
                 ORDER BY round(SUM((sp.val - p.cval) * (sp.val - p.cval)), 6), p.c_id
               ) AS rn
        FROM sp JOIN {prev} p ON p.sub = sp.sub AND p.spos = sp.spos
        GROUP BY sp.vec_id, sp.sub, p.c_id
      ) WHERE rn = 1
    ),
    luts AS MATERIALIZED (
      SELECT sp.vec_id AS query_id, sp.sub, p.c_id,
             SUM((sp.val - p.cval) * (sp.val - p.cval)) AS d2q
      FROM sp JOIN {prev} p ON p.sub = sp.sub AND p.spos = sp.spos
      WHERE sp.vec_id < 10
      GROUP BY 1, 2, 3
    ),
    short AS MATERIALIZED (
      SELECT query_id, nbr_id FROM (
        SELECT l.query_id, c.vec_id AS nbr_id,
               row_number() OVER (
                 PARTITION BY l.query_id
                 ORDER BY round(SUM(l.d2q), 6), c.vec_id
               ) AS rn
        FROM codes c JOIN luts l ON l.sub = c.sub AND l.c_id = c.c_id
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id
      ) WHERE rn <= {shortlist}
    ),
    ev AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS MATERIALIZED (
      SELECT s.query_id, s.nbr_id,
             round(list_dot_product(a.v, b.v)
                   / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0.0),
                   6) AS sim
      FROM short s JOIN ev a ON a.vec_id = s.query_id JOIN ev b ON b.vec_id = s.nbr_id
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rank, nbr_id, sim FROM (
      SELECT query_id, nbr_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id) AS rn
      FROM scored
    ) WHERE rn <= {k}""")
    return ",\n    ".join(parts)


@q("ann_topk_pq", _pq_oracle_sql())
def ann_topk_pq(spark, sf_dir):
    """Product-quantization ANN with ADC shortlist + exact re-rank
    (operators/similarity.py::pq_topk): vectors compress 16x into
    16-byte codes, candidate scoring reads ONLY codes + per-query literal
    lookup tables, and just |queries| x shortlist full vectors are touched
    for the re-rank. The third scale path beside banded-LSH and IVF;
    recall@5 pinned vs brute force in tests/test_similarity_recall.py.
    With the md5 sample, lowest-id init and 6-dp rounded code/ADC
    comparisons the quantizer is deterministic and portable, so the
    oracle replays training + encoding + shortlist + re-rank EXACTLY —
    upgraded from rows-only in round 5."""
    from ..operators.similarity import pq_topk

    e = table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(e, qs, n_sub=16, n_cent=16, k=5, shortlist=100)


@q(
    "st_enrich_static",
    """
    WITH dim(event_type, weight, family) AS (VALUES
      ('view', 1.0, 'passive'), ('click', 2.0, 'active'),
      ('signup', 5.0, 'active'), ('purchase', 10.0, 'active'),
      ('error', 0.0, 'ops')
    )
    SELECT epoch_us(ts) // 3600000000 AS hour_bucket, family,
           count(*) AS n, round(sum(value * weight), 6) AS weighted_v
    FROM events JOIN dim USING (event_type)
    GROUP BY 1, 2
    """,
)
def st_enrich_static(spark, sf_dir):
    """Stream-static enrichment shape: the fact side joins a small static
    dimension via broadcast, so the join adds no shuffle of the facts.
    The dim is inline VALUES on both engines."""
    dim = spark.createDataFrame(
        [
            ("view", 1.0, "passive"),
            ("click", 2.0, "active"),
            ("signup", 5.0, "active"),
            ("purchase", 10.0, "active"),
            ("error", 0.0, "ops"),
        ],
        "event_type string, weight double, family string",
    )
    ev = events(spark, sf_dir)
    return (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy(F.expr("ts_us div 3600000000").alias("hour_bucket"), "family")
        .agg(F.count("*").alias("n"), r6(F.sum(F.col("value") * F.col("weight"))).alias("weighted_v"))
    )


