"""Reference-parity operators: scans/predicates, joins, aggregations,
windows, scalar families, regrid (SURVEY §2.1–2.7).

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
    q,
    r6,
    r6p,
    table,
    ts_us_col,
)


# ---------------------------------------------------------------------------
# S/P — scans, projections, predicates (SURVEY §2.1–2.2)
# ---------------------------------------------------------------------------


@q(
    "s1_scan_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           round(l_extendedprice * (1 - l_discount), 6) AS net_price
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-06-01'
    """,
)
def s1_scan_project(spark, sf_dir):
    """S1/P1 — projection + derived column + pushdown filter
    (reference load(): process_adcp.py:80-114, sel_cols :83-92)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") < "1998-06-01").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        r6(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("net_price"),
    )


@q(
    "p2_row_filter",
    """
    SELECT event_id, user_id, value FROM events
    WHERE value < 20.0 AND event_type = 'view'
    """,
)
def p2_row_filter(spark, sf_dir):
    """P2 — row-range predicate (reference tests/test_adcp_processing.py:28-29)."""
    ev = events(spark, sf_dir)
    return ev.filter((F.col("value") < 20.0) & (F.col("event_type") == "view")).select(
        "event_id", "user_id", "value"
    )


@q(
    "p3_qc_mask",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount < 0.02 OR l_tax > 0.06 OR abs(l_quantity) > 45
                THEN NULL ELSE l_extendedprice END AS price_qc
    FROM lineitem
    """,
)
def p3_qc_mask(spark, sf_dir):
    """P3 — QC threshold masking (reference remove_outliers :517-538):
    correlation-floor / amplitude-ceiling / velocity-magnitude analogue."""
    li = table(spark, sf_dir, "lineitem").withColumnsRenamed(
        {
            "l_extendedprice": "velocity_beam1",
            "l_discount": "correlation_beam1",
            "l_tax": "amplitude_beam1",
        }
    )
    out = qc_velocity(
        li.withColumn("qty_abs_src", F.col("l_quantity")),
        beams=[1],
        corr_min=0.02,
        amp_max=0.06,
        vel_max=float("inf"),
    )
    # the |velocity|>thr leg maps to |l_quantity|>45 here (separate column)
    masked = F.when(F.abs(F.col("l_quantity")) > 45, F.lit(None).cast("double")).otherwise(
        F.col("velocity_beam1")
    )
    return out.select("l_orderkey", "l_linenumber", masked.alias("price_qc"))


@q(
    "p4_flag_predicate",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
    WHERE event_type = 'signup' AND value > 10.0
    """,
)
def p4_flag_predicate(spark, sf_dir):
    """P4 — GPS-fix-style boolean predicate (reference :1335
    ``(DeadReckoning < 1) & (NAV_RESOURCE == 116)``)."""
    ev = events(spark, sf_dir)
    return ev.filter((F.col("event_type") == "signup") & (F.col("value") > 10.0)).select(
        "event_id", "user_id", "ts_us"
    )


@q(
    "p6_bin_discard",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_linenumber >= 3",
)
def p6_bin_discard(spark, sf_dir):
    """P6 — drop first N range bins (ADCP_discardFirstBins)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") >= 3).select("l_orderkey", "l_linenumber", "l_quantity")


@q(
    "p7_finite_pair",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice + l_quantity, 6) AS pair_sum
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    """,
)
def p7_finite_pair(spark, sf_dir):
    """P7 — np.isfinite(x+y) mask before interpolation (reference :144-146)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()).select(
        "l_orderkey", "l_linenumber", r6(F.col("l_extendedprice") + F.col("l_quantity")).alias("pair_sum")
    )


# ---------------------------------------------------------------------------
# J — joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@q(
    "j1_interp_join",
    """
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS t, value,
             lead(epoch_us(ts)) OVER w AS nt, lead(value) OVER w AS nv
      FROM events WHERE event_type = 'view' AND value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.t AS t_us,
           round(CASE WHEN p.t = s.t THEN s.value
                      WHEN s.nt IS NULL THEN NULL
                      ELSE s.value + (s.nv - s.value) * ((p.t - s.t) / (s.nt - s.t))
                 END, 6) AS value_i
    FROM p LEFT JOIN s
      ON p.user_id = s.user_id AND p.t >= s.t AND (p.t < s.nt OR s.nt IS NULL)
    """,
)
def j1_interp_join(spark, sf_dir):
    """J1 — linear-interpolation join (reference interp :144-146, ~12 call
    sites): view-event values interpolated at purchase times per user."""
    ev = events(spark, sf_dir)
    samples = ev.filter(F.col("event_type") == "view").select("user_id", "ts_us", "value")
    probes = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us")
    out = interp_join(samples, probes, on="ts_us", values=["value"], partition_by=["user_id"], suffix="_i")
    return out.select(
        "event_id", "user_id", F.col("ts_us").alias("t_us"), r6(F.col("value_i")).alias("value_i")
    )


@q(
    "j2_asof_nearest",
    """
    WITH s AS (SELECT user_id, epoch_us(ts) AS t, value FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'),
    prev AS (
      SELECT p.event_id, max(s.t) AS pt FROM p JOIN s ON s.user_id = p.user_id AND s.t <= p.t
      GROUP BY p.event_id
    ),
    nxt AS (
      SELECT p.event_id, min(s.t) AS nt FROM p JOIN s ON s.user_id = p.user_id AND s.t > p.t
      GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id,
           CASE WHEN prev.pt IS NOT NULL AND (nxt.nt IS NULL OR (p.t - prev.pt) <= (nxt.nt - p.t))
                THEN sp.value ELSE sn.value END AS v_near,
           CASE WHEN prev.pt IS NOT NULL AND (nxt.nt IS NULL OR (p.t - prev.pt) <= (nxt.nt - p.t))
                THEN p.t - prev.pt ELSE nxt.nt - p.t END AS dt_us
    FROM p
    LEFT JOIN prev ON p.event_id = prev.event_id
    LEFT JOIN nxt ON p.event_id = nxt.event_id
    LEFT JOIN s sp ON sp.user_id = p.user_id AND sp.t = prev.pt
    LEFT JOIN s sn ON sn.user_id = p.user_id AND sn.t = nxt.nt
    """,
)
def j2_asof_nearest(spark, sf_dir):
    """J2 — nearest-|Δt| as-of join (reference :1503-1507 argmin loop):
    nearest click value for each purchase, earlier wins ties."""
    ev = events(spark, sf_dir)
    samples = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts_us", "value", F.col("ts_us").cast("double").alias("t_s"))
    )
    probes = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us")
    out = asof_join(samples, probes, on="ts_us", values=["value", "t_s"], partition_by=["user_id"])
    return out.select(
        "event_id",
        "user_id",
        F.col("value").alias("v_near"),
        F.abs(F.col("ts_us").cast("double") - F.col("t_s")).cast("long").alias("dt_us"),
    )


@q(
    "j2b_asof_backward",
    """
    WITH s AS (SELECT user_id, epoch_us(ts) AS t, value FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'),
    prev AS (
      SELECT p.event_id, max(s.t) AS pt FROM p JOIN s ON s.user_id = p.user_id AND s.t <= p.t
      GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id, sp.value AS v_before
    FROM p LEFT JOIN prev ON p.event_id = prev.event_id
    LEFT JOIN s sp ON sp.user_id = p.user_id AND sp.t = prev.pt
    """,
)
def j2b_asof_backward(spark, sf_dir):
    """J2 — classic backward as-of (scatter-back pattern, reference :1586-1595)."""
    ev = events(spark, sf_dir)
    samples = ev.filter(F.col("event_type") == "click").select("user_id", "ts_us", "value")
    probes = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us")
    out = asof_join(samples, probes, on="ts_us", values=["value"], partition_by=["user_id"], direction="backward")
    return out.select("event_id", "user_id", F.col("value").alias("v_before"))


@q(
    "j4_broadcast_dim",
    """
    SELECT p.p_brand, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           count(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def j4_broadcast_dim(spark, sf_dir):
    """J4 — broadcast dim join (reference per-bin correction arrays :762,
    :843-846 → small dim table joined on bin). part is the small side →
    explicit broadcast()."""
    li = table(spark, sf_dir, "lineitem")
    pa = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@q(
    "j5_scalar_broadcast",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * 1.0423, 6) AS adj_price
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def j5_scalar_broadcast(spark, sf_dir):
    """J5 — driver-side scalar applied as a literal (reference declination
    :77, geomag target :341, soundspeed coeff :1978-1984)."""
    li = table(spark, sf_dir, "lineitem")
    coeff = 1.0423  # stands in for the driver-side fetched scalar
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", "l_linenumber", r6(F.col("l_extendedprice") * F.lit(coeff)).alias("adj_price")
    )


@q(
    "j0_equi_3way",
    """
    SELECT c.c_mktsegment, n.n_name,
           round(sum(o.o_totalprice), 4) AS total, count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY c.c_mktsegment, n.n_name
    """,
)
def j0_equi_3way(spark, sf_dir):
    """Spark-native equi-join surface (SURVEY §2.3 note: the reference has no
    hash joins; the engine gets them from df.join). 3-way star join with
    broadcast dims."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("total"), F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# A — aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@q(
    "a1_grid2d_mean",
    """
    SELECT CAST(floor(l_quantity / 5.0) AS BIGINT) AS xbin,
           CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS ybin,
           round(avg(l_discount), 6) AS avg_disc,
           round(sum(l_quantity), 6) AS sum_qty,
           count(l_tax) AS n
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def a1_grid2d_mean(spark, sf_dir):
    """A1 — grid2d, THE core operator (reference :117-134, ~20 call sites).
    One shuffle, all variables aggregated together (the reference re-buckets
    per variable; see SURVEY §4)."""
    li = table(spark, sf_dir, "lineitem")
    return binned_agg_2d(
        li,
        "l_quantity",
        "l_extendedprice",
        {
            "avg_disc": r6(F.avg("l_discount")),
            "sum_qty": r6(F.sum("l_quantity")),
            "n": F.count("l_tax"),
        },
        x_origin=0,
        x_width=5,
        y_origin=0,
        y_width=10000,
    )


@q(
    "a1_grid2d_median",
    """
    SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS xbin,
           CAST(floor(l_extendedprice / 20000.0) AS BIGINT) AS ybin,
           round(median(l_tax), 6) AS med_tax,
           round(median(l_discount), 6) AS med_disc
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def a1_grid2d_median(spark, sf_dir):
    """A1 — grid2d with exact median (reference grid2d('median') :1703;
    exact F.median, never percentile_approx, to hash-match the oracle)."""
    li = table(spark, sf_dir, "lineitem")
    return binned_agg_2d(
        li,
        "l_quantity",
        "l_extendedprice",
        {"med_tax": r6(F.median("l_tax")), "med_disc": r6(F.median("l_discount"))},
        x_origin=0,
        x_width=10,
        y_origin=0,
        y_width=20000,
    )


@q(
    "a2_global_scalars",
    """
    SELECT count(*) AS n, round(avg(value), 6) AS mean_v,
           round(stddev(value), 6) AS std_v, round(median(value), 6) AS med_v
    FROM events
    """,
)
def a2_global_scalars(spark, sf_dir):
    """A2 — global scalar aggregates (reference orientation detect :210-213,
    nanmedian :316-318)."""
    ev = events(spark, sf_dir)
    return ev.agg(
        F.count("*").alias("n"),
        r6(F.avg("value")).alias("mean_v"),
        r6(F.stddev("value")).alias("std_v"),
        r6(F.median("value")).alias("med_v"),
    )


@q(
    "a3_per_bin_stats",
    """
    SELECT event_type, round(avg(value), 6) AS mean_v, round(stddev(value), 6) AS std_v,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def a3_per_bin_stats(spark, sf_dir):
    """A3 — per-bin mean/std over time (reference max-usable-range pick
    :888-891, mean amplitude per bin :867-868)."""
    ev = events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        r6(F.avg("value")).alias("mean_v"),
        r6(F.stddev("value")).alias("std_v"),
        F.count("*").alias("n"),
    )


@q(
    "a4_class_means",
    """
    SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS spd_class, l_returnflag,
           round(avg(l_extendedprice), 6) AS mean_price, count(*) AS n
    FROM lineitem WHERE l_quantity > 5
    GROUP BY 1, 2
    """,
)
def a4_class_means(spark, sf_dir):
    """A4 — speed-conditioned class means (reference get_correction_array
    :712-746: per speed-class per-bin mean profiles)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 5)
        .groupBy(
            F.floor(F.col("l_quantity") / 10.0).cast("long").alias("spd_class"),
            "l_returnflag",
        )
        .agg(r6(F.avg("l_extendedprice")).alias("mean_price"), F.count("*").alias("n"))
    )


@q(
    "a5_per_profile_mean",
    """
    SELECT o_custkey, round(avg(o_totalprice), 6) AS mean_total, count(*) AS n
    FROM orders GROUP BY o_custkey
    """,
)
def a5_per_profile_mean(spark, sf_dir):
    """A5 — per-profile axis aggregation (reference :1652-1653)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        r6(F.avg("o_totalprice")).alias("mean_total"), F.count("*").alias("n")
    )


@q(
    "a6_distinct_days",
    """
    SELECT DISTINCT date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS day_idx
    FROM lineitem
    """,
)
def a6_distinct_days(spark, sf_dir):
    """A6 — distinct rounded days (reference :1654 np.unique(time.round('D'))).
    Day index vs epoch date — integer, tz-free for NTZ timestamps."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("day_idx")
    ).distinct()


@q(
    "a7_group_max_broadcast",
    """
    SELECT event_id, round(max(value) OVER (PARTITION BY user_id) - value, 6) AS below_max
    FROM events
    """,
)
def a7_group_max_broadcast(spark, sf_dir):
    """A7 — per-profile max broadcast back (reference :1509-1517 loop →
    window max, no loop)."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    return ev.select(
        "event_id", r6(F.max("value").over(w) - F.col("value")).alias("below_max")
    )


@q(
    "a8_first_last_per_group",
    """
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS rf,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rl
      FROM events WHERE event_type = 'signup'
    )
    SELECT user_id,
           min(CASE WHEN rf = 1 THEN event_id END) AS first_id,
           min(CASE WHEN rl = 1 THEN event_id END) AS last_id,
           round(min(CASE WHEN rf = 1 THEN value END), 6) AS first_v,
           round(min(CASE WHEN rl = 1 THEN value END), 6) AS last_v
    FROM r GROUP BY user_id
    """,
)
def a8_first_last_per_group(spark, sf_dir):
    """A8 — per-dive first/last GPS row (reference :1352-1369) via min_by/max_by."""
    ev = events(spark, sf_dir).filter(F.col("event_type") == "signup")
    key = F.struct(F.col("ts_us"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.min_by("event_id", key).alias("first_id"),
        F.max_by("event_id", key).alias("last_id"),
        r6(F.min_by("value", key)).alias("first_v"),
        r6(F.max_by("value", key)).alias("last_v"),
    )


_T0_US = 1704067200000000  # 2024-01-01 epoch µs; events start here


@q(
    "a9_filtered_group_median",
    f"""
    SELECT user_id, round(median(value), 6) AS med_v,
           floor(CAST(sum(epoch_us(ts) - {_T0_US}) AS DOUBLE) / count(*) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_t_rel,
           count(*) AS n
    FROM events WHERE event_type = 'click' AND value < 50.0
    GROUP BY user_id
    """,
)
def a9_filtered_group_median(spark, sf_dir):
    """A9 — per-dive surface-drift medians (reference :1456-1464:
    gap-filtered per-dive nanmedian/nanmean). The mean time is computed as
    an EXACT BIGINT sum relative to a base, then one double division —
    avg() over 1e15-µs longs differs between engines in the last ulp."""
    ev = events(spark, sf_dir)
    return (
        ev.filter((F.col("event_type") == "click") & (F.col("value") < 50.0))
        .groupBy("user_id")
        .agg(
            r6(F.median("value")).alias("med_v"),
            r6p(
                F.sum(F.col("ts_us") - F.lit(_T0_US)).cast("double")
                / F.count("*")
                / F.lit(1000000.0)
            ).alias("mean_t_rel"),
            F.count("*").alias("n"),
        )
    )


@q(
    "a10_histogram",
    """
    WITH h AS (
      SELECT CAST(least(floor(l_quantity / 2.0), 24) AS BIGINT) AS bin, count(*) AS n
      FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity >= 0 AND l_quantity <= 50
      GROUP BY 1
    )
    SELECT bin, n, round(n / (sum(n) OVER () * 2.0), 6) AS pdf FROM h
    """,
)
def a10_histogram(spark, sf_dir):
    """A10 — histogram/PDF aggregation (reference verify_depth_bias
    :1884-1896 np.histogram(density=True); right edge closed like
    np.histogram — l_quantity == 50 lands in the last bin)."""
    li = table(spark, sf_dir, "lineitem")
    out = histogram(li, "l_quantity", 0, 50, 25)
    return out.select("bin", "n", r6(F.col("pdf")).alias("pdf"))


@q(
    "a11_rmsd",
    """
    SELECT event_type, round(sqrt(avg(value * value)), 6) AS rmsd_v FROM events
    GROUP BY event_type
    """,
)
def a11_rmsd(spark, sf_dir):
    """A11 — RMSD reduction (reference rmsd :149-150, score :1962-1966)."""
    ev = events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        r6(F.sqrt(F.avg(F.col("value") * F.col("value")))).alias("rmsd_v")
    )


@q(
    "a12_finite_count",
    """
    SELECT user_id, event_type, count(value) AS n_finite FROM events
    GROUP BY user_id, event_type
    """,
)
def a12_finite_count(spark, sf_dir):
    """A12 — finite-count density (reference :569-576; count skips NULLs)."""
    ev = events(spark, sf_dir)
    return ev.groupBy("user_id", "event_type").agg(F.count("value").alias("n_finite"))


# ---------------------------------------------------------------------------
# W — window / ordered operators (SURVEY §2.5)
# ---------------------------------------------------------------------------

_EV_W_SQL = "PARTITION BY user_id ORDER BY epoch_us(ts), event_id"


@q(
    "w1_centered_mean",
    f"""
    SELECT event_id,
           round(avg(value) OVER ({_EV_W_SQL} ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6)
             AS run_mean
    FROM events
    """,
)
def w1_centered_mean(spark, sf_dir):
    """W1 — centered running mean (reference RunningMean :137-141)."""
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id", r6(W.centered_mean("value", 3, ["user_id"], EV_ORDER)).alias("run_mean")
    )


@q(
    "w2_central_diff",
    f"""
    WITH t AS (
      SELECT event_id, value, epoch_us(ts) / 1000000.0 AS x,
             lag(value)  OVER ({_EV_W_SQL}) AS vp,
             lead(value) OVER ({_EV_W_SQL}) AS vn,
             lag(epoch_us(ts) / 1000000.0)  OVER ({_EV_W_SQL}) AS xp,
             lead(epoch_us(ts) / 1000000.0) OVER ({_EV_W_SQL}) AS xn
      FROM events
    )
    SELECT event_id,
           floor(CASE
             WHEN xp IS NULL AND xn IS NULL THEN NULL
             WHEN xp IS NULL THEN (vn - value) / nullif(xn - x, 0)
             WHEN xn IS NULL THEN (value - vp) / nullif(x - xp, 0)
             ELSE ((x - xp) * (x - xp) * vn + ((xn - x) * (xn - x) - (x - xp) * (x - xp)) * value
                   - (xn - x) * (xn - x) * vp)
                  / nullif((x - xp) * (xn - x) * ((x - xp) + (xn - x)), 0)
           END * 1000000.0 + 0.5) / 1000000.0 AS dvdt
    FROM t
    """,
)
def w2_central_diff(spark, sf_dir):
    """W2 — np.gradient central difference (reference :1186-1194, xarray
    differentiate :1171 — second-order nonuniform scheme, one-sided edges)."""
    ev = events(spark, sf_dir).withColumn("x_sec", F.col("ts_us") / F.lit(1000000.0))
    return ev.select(
        "event_id", r6p(W.central_diff("value", "x_sec", ["user_id"], EV_ORDER)).alias("dvdt")
    )


@q(
    "w3_cumsum",
    f"""
    SELECT event_id,
           round(sum(coalesce(value, 0.0)) OVER ({_EV_W_SQL}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_v
    FROM events
    """,
)
def w3_cumsum(spark, sf_dir):
    """W3 — nancumsum integration (reference :1345-1346, :1676-1682)."""
    ev = events(spark, sf_dir)
    return ev.select("event_id", r6(W.cumsum("value", ["user_id"], EV_ORDER)).alias("cum_v"))


@q(
    "w3b_cumsum_reverse",
    f"""
    SELECT event_id,
           round(sum(coalesce(value, 0.0)) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_up
    FROM events
    """,
)
def w3b_cumsum_reverse(spark, sf_dir):
    """W3 — bottom-up cumsum ``np.nancumsum(arr[::-1])[::-1]`` (reference
    :1203, :1957) as a descending-order window, no data reversal."""
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id", r6(W.cumsum("value", ["user_id"], EV_ORDER, reverse=True)).alias("cum_up")
    )


@q(
    "w4_cumsum_reset",
    f"""
    WITH t AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS tu,
             sum(coalesce(value, 0.0)) OVER ({_EV_W_SQL}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM events
    )
    SELECT event_id,
           {R6P_SQL.format(
               "(cum - coalesce(last_value(CASE WHEN event_type = 'signup' THEN cum END"
               " IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tu, event_id"
               " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0))"
           )} AS cum_since_marker
    FROM t
    """,
)
def w4_cumsum_reset(spark, sf_dir):
    """W4 — cumsum with reset at markers (reference reset_transport_at_GPS
    :1329-1333): running value re-zeroed at each 'signup' event.

    Rounded with ``r6p`` on both sides: the two engines' running sums may
    associate differently, so ``cum - marker`` can come out as a tiny
    negative on one side only, which ``round(…, 6)`` turns into -0.0."""
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id",
        r6p(
            W.cumsum_reset("value", F.col("event_type") == "signup", ["user_id"], EV_ORDER)
        ).alias("cum_since_marker"),
    )


@q(
    "w5_ffill",
    f"""
    SELECT event_id,
           round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                 OVER ({_EV_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS last_purchase_v,
           round(first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                 OVER ({_EV_W_SQL} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6) AS next_purchase_v
    FROM events
    """,
)
def w5_ffill(spark, sf_dir):
    """W5 — ffill/bfill (reference :1405-1406, :852-856): carry the last/next
    purchase value across every event."""
    ev = events(spark, sf_dir)
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    ev = ev.withColumn("__pv", pv)
    return ev.select(
        "event_id",
        r6(W.ffill("__pv", ["user_id"], EV_ORDER)).alias("last_purchase_v"),
        r6(W.bfill("__pv", ["user_id"], EV_ORDER)).alias("next_purchase_v"),
    )


@q(
    "w6_demean",
    """
    SELECT event_id, round(value - round(avg(value) OVER (PARTITION BY user_id), 6), 6) AS v_anom
    FROM events
    """,
)
def w6_demean(spark, sf_dir):
    """W6 — per-profile demean (reference :1682, :1959). The group mean is
    rounded to 6dp BEFORE the per-row subtraction: the mean is summation-
    order-sensitive across engines, the subtraction of a rounded mean is
    exact IEEE and bit-identical."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    return ev.select(
        "event_id", r6(F.col("value") - F.round(F.avg("value").over(w), 6)).alias("v_anom")
    )


@q(
    "w7_tail_flag",
    """
    WITH t AS (
      SELECT event_id, value,
             count(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM events
    )
    SELECT event_id, (value IS NOT NULL AND c <= 5) AS in_tail FROM t
    """,
)
def w7_tail_flag(spark, sf_dir):
    """W7 — bottom-most-k finite cells (reference :1756-1759)."""
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id",
        W.tail_flag("value", 5, ["user_id"], [F.col("ts_us").desc(), F.col("event_id").desc()]).alias(
            "in_tail"
        ),
    )


@q(
    "w8_parity",
    """
    SELECT event_id, user_id % 2 AS updown,
           CASE WHEN value > 50.0 THEN 1 ELSE -1 END AS sign_class
    FROM events
    """,
)
def w8_parity(spark, sf_dir):
    """W8 — parity / sign classification (reference :1863-1864 profile%2,
    :1020-1021 pitch-sign split)."""
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(2)).cast("long").alias("updown"),
        F.when(F.col("value") > 50.0, 1).otherwise(-1).alias("sign_class"),
    )


# ---------------------------------------------------------------------------
# F — scalar expression families (SURVEY §2.6), exercised on lineitem columns
# re-labelled as instrument channels (pitch/roll/depth stand-ins)
# ---------------------------------------------------------------------------

from ..functions import geodesy as G  # noqa: E402
from ..functions import math as M  # noqa: E402

# synthetic channel mapping used by all f* queries (documented once):
#   pitch ≔ l_quantity − 25   (≈ ±25°)     roll ≔ l_discount·100 − 5 (≈ ±5°)
#   depth ≔ l_extendedprice/1000           rng  ≔ l_linenumber·2 (m along beam)
_CH_SQL = """
      SELECT l_orderkey, l_linenumber,
             l_quantity - 25.0 AS pitch,
             l_discount * 100.0 - 5.0 AS roll,
             l_extendedprice / 1000.0 AS depth,
             l_linenumber * 2.0 AS rng,
             l_quantity / 10.0 AS b1, l_discount * 10.0 AS b2,
             l_tax * 10.0 AS b3, l_extendedprice / 50000.0 AS b4
      FROM lineitem
"""


def _channels(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") - 25.0).alias("pitch"),
        (F.col("l_discount") * 100.0 - 5.0).alias("roll"),
        (F.col("l_extendedprice") / 1000.0).alias("depth"),
        (F.col("l_linenumber") * 2.0).alias("rng"),
        (F.col("l_quantity") / 10.0).alias("b1"),
        (F.col("l_discount") * 10.0).alias("b2"),
        (F.col("l_tax") * 10.0).alias("b3"),
        (F.col("l_extendedprice") / 50000.0).alias("b4"),
    )


@q(
    "f1_trig_angles",
    f"""
    WITH ch AS ({_CH_SQL})
    SELECT l_orderkey, l_linenumber,
           round(((pitch * 37.0 % 360.0) + 360.0) % 360.0, 6) AS wrapped,
           round(CASE WHEN abs(pitch * 11.0) > 180
                      THEN pitch * 11.0 - 360.0 * sign(pitch * 11.0)
                      ELSE pitch * 11.0 END, 6) AS circd,
           round(degrees(atan2(b2, b3)), 6) AS bearing
    FROM ch
    """,
)
def f1_trig_angles(spark, sf_dir):
    """F1 — trig & angle wrap (reference :228-237, :359-373: wrap=(x+360)%360,
    circ to ±180, atan2d chains)."""
    ch = _channels(spark, sf_dir)
    return ch.select(
        "l_orderkey",
        "l_linenumber",
        r6(M.wrap360(F.col("pitch") * 37.0)).alias("wrapped"),
        r6(M.circ180(F.col("pitch") * 11.0)).alias("circd"),
        r6(M.atan2d(F.col("b2"), F.col("b3"))).alias("bearing"),
    )


@q(
    "f2_beam_depth",
    f"""
    WITH ch AS ({_CH_SQL})
    SELECT l_orderkey, l_linenumber,
           round(depth - rng * cos(acos(cos(radians(47.5 - pitch)) * cos(radians(roll)))), 6) AS d1,
           round(depth - rng * cos(acos(cos(radians(25.0 - roll)) * cos(radians(pitch)))), 6) AS d2,
           round(depth - rng * cos(acos(cos(radians(47.5 + pitch)) * cos(radians(roll)))), 6) AS d3,
           round(depth - rng * cos(acos(cos(radians(25.0 + roll)) * cos(radians(pitch)))), 6) AS d4
    FROM ch
    """,
)
def f2_beam_depth(spark, sf_dir):
    """F2 — per-beam cell depth remap (reference remapADCPdepth :224-270,
    top-mounted orientation): Depth − range·cos(θ_beam(pitch, roll))."""
    ch = _channels(spark, sf_dir)
    cols = [
        M.beam_cell_depth(
            F.col("depth"), F.col("rng"), F.col("pitch"), F.col("roll"), b, F.lit(1.0)
        ).alias(f"d{b}")
        for b in (1, 2, 3, 4)
    ]
    return ch.select("l_orderkey", "l_linenumber", *[r6(c).alias(f"d{i+1}") for i, c in enumerate(cols)])


def _xyzz_sql() -> str:
    m = M.BEAM2XYZZ
    return f"""
           {m[0][0]!r} * b1 + {m[0][2]!r} * b3 AS x4,
           {m[1][1]!r} * b2 + {m[1][3]!r} * b4 AS y4,
           {m[2][0]!r} * b1 + {m[2][2]!r} * b3 AS z4,
           {m[3][1]!r} * b2 + {m[3][3]!r} * b4 AS zz4
    """


@q(
    "f3_beam2xyzz",
    f"""
    WITH ch AS ({_CH_SQL})
    SELECT l_orderkey, l_linenumber,
           floor(({M.BEAM2XYZZ[0][0]!r} * b1 + {M.BEAM2XYZZ[0][2]!r} * b3) * 1000000.0 + 0.5)
             / 1000000.0 AS x4,
           floor(({M.BEAM2XYZZ[1][1]!r} * b2 + {M.BEAM2XYZZ[1][3]!r} * b4) * 1000000.0 + 0.5)
             / 1000000.0 AS y4,
           floor(({M.BEAM2XYZZ[2][0]!r} * b1 + {M.BEAM2XYZZ[2][2]!r} * b3) * 1000000.0 + 0.5)
             / 1000000.0 AS z4,
           floor(({M.BEAM2XYZZ[3][1]!r} * b2 + {M.BEAM2XYZZ[3][3]!r} * b4) * 1000000.0 + 0.5)
             / 1000000.0 AS zz4
    FROM ch
    """,
)
def f3_beam2xyzz(spark, sf_dir):
    """F3 — 4-beam → XYZZ fixed-matrix transform (reference quad_beam2xyzz
    :595-634; the per-column loop :631-632 becomes 4 expressions).

    NOTE: the Spark side builds the full 4-term linear combination from the
    matrix (zero coefficients fold away under constant folding); the oracle
    writes only the nonzero terms — Catalyst constant-folds 0.0*x + y to the
    same arithmetic, keeping both sides bit-identical before rounding.
    """
    ch = _channels(spark, sf_dir)
    xyzz = M.beam2xyzz(F.col("b1"), F.col("b2"), F.col("b3"), F.col("b4"))
    names = ["x4", "y4", "z4", "zz4"]
    # r6p: the beam combinations of 2-decimal-derived channels land exactly
    # on round-half boundaries (and tiny negatives round to DuckDB -0.0) —
    # the portable floor-rounding is bit-identical in both engines
    return ch.select(
        "l_orderkey", "l_linenumber",
        *[r6p(c).alias(n) for c, n in zip(xyzz, names)]
    )


@q(
    "f4_three_beam_xyz",
    f"""
    WITH ch AS ({_CH_SQL}),
    eff AS (
      SELECT *,
             CASE WHEN NOT pitch > 0
                  THEN (2 * {M._b(25.0)!r} * b2 + 2 * {M._b(25.0)!r} * b4 - 2 * {M._b(47.5)!r} * b3)
                       / (2 * {M._b(47.5)!r})
                  ELSE b1 END AS v1e,
             CASE WHEN pitch > 0
                  THEN (2 * {M._b(25.0)!r} * b2 + 2 * {M._b(25.0)!r} * b4 - 2 * {M._b(47.5)!r} * b1)
                       / (2 * {M._b(47.5)!r})
                  ELSE b3 END AS v3e
      FROM ch
    )
    SELECT l_orderkey, l_linenumber,
           round({M._a(47.5)!r} * v1e - {M._a(47.5)!r} * v3e, 6) AS x,
           round(-{M._a(25.0)!r} * b2 + {M._a(25.0)!r} * b4, 6) AS y,
           round(2 * {M._b(25.0)!r} * b2 + 2 * {M._b(25.0)!r} * b4, 6) AS z
    FROM eff
    """,
)
def f4_three_beam_xyz(spark, sf_dir):
    """F4 — pitch-conditional 3-beam XYZ solution (reference calcXYZfrom3beam
    :984-1034, top-mounted: wake-shadowed fore/aft beam replaced by the
    error-zero combination :1018, :1026-1028)."""
    ch = _channels(spark, sf_dir)
    xyz = M.xyz_from_3beam(
        F.col("b1"), F.col("b2"), F.col("b3"), F.col("b4"), F.col("pitch"), F.lit(1.0)
    )
    return ch.select(
        "l_orderkey", "l_linenumber",
        r6(xyz[0]).alias("x"), r6(xyz[1]).alias("y"), r6(xyz[2]).alias("z"),
    )


@q(
    "f5_enu_rotation",
    f"""
    WITH ch AS ({_CH_SQL}),
    ang AS (
      SELECT *, radians((((pitch * 29.0 % 360.0) + 360.0) % 360.0) - 90.0) AS hh,
             radians(pitch) AS pp, radians(roll) AS rr,
             b1 AS vx, b2 AS vy, b3 AS vz
      FROM ch
    )
    SELECT l_orderkey, l_linenumber,
           {R6P_SQL.format('''((cos(hh) * cos(pp)) * vx
                 + (-cos(hh) * sin(pp) * sin(rr) + sin(hh) * cos(rr)) * vy
                 + (-cos(hh) * sin(pp) * cos(rr) - sin(hh) * sin(rr)) * vz)''')} AS e,
           {R6P_SQL.format('''((-sin(hh) * cos(pp)) * vx
                 + (sin(hh) * sin(pp) * sin(rr) + cos(hh) * cos(rr)) * vy
                 + (sin(hh) * sin(pp) * cos(rr) - cos(hh) * sin(rr)) * vz)''')} AS n,
           {R6P_SQL.format('(sin(pp) * vx + (cos(pp) * sin(rr)) * vy + (cos(pp) * cos(rr)) * vz)')} AS u
    FROM ang
    """,
)
def f5_enu_rotation(spark, sf_dir):
    """F5 — XYZ→ENU heading/pitch/roll rotation (reference M_xyz2enu
    :1134-1146, applied :1156-1158; top-mounted → direction=+1).

    Rounded with r6p, not F.round: BigDecimal HALF_UP rounding dominated the
    runtime (1.09 s vs 0.46 s warm at sf0.1 for the same plan) — floor-based
    rounding stays in pure-double codegen, and the ENU outputs are finite
    bounded trig products (the r6p safety domain)."""
    ch = _channels(spark, sf_dir)
    heading = M.wrap360(F.col("pitch") * 29.0)
    enu = M.xyz_to_enu(
        F.col("b1"), F.col("b2"), F.col("b3"), heading, F.col("pitch"), F.col("roll"), F.lit(1.0)
    )
    return ch.select(
        "l_orderkey", "l_linenumber",
        r6p(enu[0]).alias("e"), r6p(enu[1]).alias("n"), r6p(enu[2]).alias("u"),
    )


@q(
    "f8_francois_garrison",
    f"""
    WITH ch AS ({_CH_SQL}),
    env AS (
      SELECT l_orderkey, l_linenumber,
             31.0 + b3 * 5.0 AS s, (pitch + 25.0) / 2.0 AS t, depth AS z
      FROM ch
    ),
    fg AS (
      SELECT *, 1412.0 + 3.21 * t + 1.19 * s + 0.0167 * z AS c, 273.0 + t AS theta,
             307.0 * 307.0 AS fxf
      FROM env
    ),
    fg2 AS (
      SELECT *,
             2.8 * sqrt(s / 35.0) * pow(10.0, 4.0 - 1245.0 / theta) AS f1,
             8.17 * pow(10.0, 8.0 - 1990.0 / theta) / (1.0 + 0.0018 * (s - 35.0)) AS f2,
             8.86 / c * pow(10.0, 0.78 * 8.1 - 5.0) AS a1,
             21.44 * s / c * (1.0 + 0.025 * t) AS a2,
             CASE WHEN t <= 20.0
                  THEN 4.937e-4 - 2.59e-5 * t + 9.11e-7 * t * t - 1.50e-8 * t * t * t
                  ELSE 3.964e-4 - 1.146e-5 * t + 1.45e-7 * t * t - 6.5e-10 * t * t * t END AS a3,
             1.0 - 1.35e-4 * z + 6.2e-9 * z * z AS p2,
             1.0 - 3.83e-5 * z + 4.9e-10 * z * z AS p3
      FROM fg
    )
    SELECT l_orderkey, l_linenumber,
           round((a1 * f1 * fxf / (f1 * f1 + fxf)
                  + a2 * p2 * f2 * fxf / (f2 * f2 + fxf)
                  + a3 * p3 * fxf) / 1000.0, 6) AS alpha_db_m
    FROM fg2
    """,
)
def f8_francois_garrison(spark, sf_dir):
    """F8 — Francois–Garrison seawater absorption α(f,S,T,pH,z) with the
    T≤20 °C branch (reference francoisgarrison :808-838)."""
    ch = _channels(spark, sf_dir)
    s = F.lit(31.0) + F.col("b3") * 5.0
    t = (F.col("pitch") + 25.0) / 2.0
    alpha = M.francois_garrison(307.0, s, t, 8.1, F.col("depth"))
    return ch.select("l_orderkey", "l_linenumber", r6(alpha).alias("alpha_db_m"))


@q(
    "f10_mag_heading",
    f"""
    WITH ch AS ({_CH_SQL}),
    mag AS (
      SELECT l_orderkey, l_linenumber, pitch, roll,
             1.02 * (b1 - 0.1) + 0.03 * (b2 - 0.02) + 0.01 * (b3 - 0.05) AS mx,
             0.02 * (b1 - 0.1) + 0.98 * (b2 - 0.02) + 0.04 * (b3 - 0.05) AS my,
             0.01 * (b1 - 0.1) + 0.02 * (b2 - 0.02) + 1.01 * (b3 - 0.05) AS mz
      FROM ch
    )
    SELECT l_orderkey, l_linenumber,
           round((((degrees(atan2(
                     mx * cos(radians(pitch)) + my * sin(radians(roll)) * sin(radians(pitch))
                        + mz * cos(radians(roll)) * sin(radians(pitch)),
                     my * cos(radians(roll)) - mz * sin(radians(roll))
                   )) - 90.0 + 360.0) % 360.0) + 360.0) % 360.0, 6) AS heading
    FROM mag
    """,
)
def f10_mag_heading(spark, sf_dir):
    """F10 — hard/soft-iron calibration A@(v−B) + tilt-compensated heading
    (reference calibrate :375-387, heading :367-373). Coefficients are
    driver-side literals (the fmin fit O1 happens at the collect boundary).
    """
    ch = _channels(spark, sf_dir)
    coeffs = [1.02, 0.03, 0.01, 0.02, 0.98, 0.04, 0.01, 0.02, 1.01, 0.1, 0.02, 0.05]
    mx, my, mz = M.calibrate_mag(F.col("b1"), F.col("b2"), F.col("b3"), coeffs)
    hdg = M.mag_heading(mx, my, mz, F.col("pitch"), F.col("roll"), F.lit(1.0))
    return ch.select("l_orderkey", "l_linenumber", r6(hdg).alias("heading"))


@q(
    "f6_f11_soundspeed_norm",
    f"""
    WITH ch AS ({_CH_SQL})
    SELECT l_orderkey, l_linenumber,
           round(b1 * ((1500.0 + depth * 0.017) / nullif(1481.0, 0.0)), 6) AS v_corrected,
           round(sqrt(b1 * b1 + b2 * b2 + b3 * b3), 6) AS speed3d
    FROM ch
    """,
)
def f6_f11_soundspeed_norm(spark, sf_dir):
    """F6 — soundspeed ratio correction V·c_new/c_old (reference :464-475);
    F11 — 3-D magnitude (reference :359)."""
    ch = _channels(spark, sf_dir)
    c_new = F.lit(1500.0) + F.col("depth") * 0.017
    return ch.select(
        "l_orderkey",
        "l_linenumber",
        r6(M.soundspeed_ratio_correction(F.col("b1"), c_new, F.lit(1481.0))).alias("v_corrected"),
        r6(M.magnitude3(F.col("b1"), F.col("b2"), F.col("b3"))).alias("speed3d"),
    )


@q(
    "f12_epoch_convert",
    """
    SELECT event_id, epoch_us(ts) AS ts_us,
           round(epoch_us(ts) / 1000000.0, 6) AS ts_sec,
           epoch_us(ts) // 60000000 AS minute_bucket
    FROM events
    """,
)
def f12_epoch_convert(spark, sf_dir):
    """F12 — timestamp↔epoch conversions (reference date_float :93-105,
    /1e9 seconds :1171, :1337)."""
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id",
        "ts_us",
        r6(F.col("ts_us") / F.lit(1000000.0)).alias("ts_sec"),
        F.expr("ts_us div 60000000").alias("minute_bucket"),
    )


@q(
    "f13_round_clip",
    """
    SELECT l_orderkey, l_linenumber,
           least(greatest(l_extendedprice, 1000.0), 50000.0) AS price_clipped,
           round(l_quantity / 7.0, 2) AS qty_r2,
           round(l_extendedprice) AS price_r0
    FROM lineitem
    """,
)
def f13_round_clip(spark, sf_dir):
    """F13 — rounding & clipping (reference np.round :181, clip :1708-1710)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        M.clip(F.col("l_extendedprice"), 1000.0, 50000.0).alias("price_clipped"),
        F.round(F.col("l_quantity") / 7.0, 2).alias("qty_r2"),
        F.round(F.col("l_extendedprice")).alias("price_r0"),
    )


@q(
    "f7_geodesy_distance",
    """
    WITH g AS (
      SELECT event_id, user_id, 58.0 + value * 0.001 AS lat, 11.0 + value * 0.002 AS lon
      FROM events
    )
    SELECT event_id,
           round((lat - 58.0) * 111319.444, 6) AS dy_m,
           round((lon - 11.0) * 40075000.0 * cos(radians(lat)) / 360.0, 6) AS dx_m
    FROM g
    """,
)
def f7_geodesy_distance(spark, sf_dir):
    """F7 — degree→meter geodesy (reference dead-reckoning constants
    :1244-1246; gsw.distance call sites :1386-1387 use the same
    small-displacement approximation)."""
    ev = events(spark, sf_dir)
    lat = F.lit(58.0) + F.col("value") * 0.001
    lon = F.lit(11.0) + F.col("value") * 0.002
    return ev.select(
        "event_id",
        r6(G.dlat_to_m(lat - F.lit(58.0))).alias("dy_m"),
        r6(G.dlon_to_m(lon - F.lit(11.0), lat)).alias("dx_m"),
    )


@q(
    "f9_backscatter",
    f"""
    WITH ch AS ({_CH_SQL})
    SELECT l_orderkey, l_linenumber,
           round((70.0 + b2 * 3.0) + 2.0 * 0.08 * (rng / cos(radians(47.4))), 6) AS amp_corrected
    FROM ch
    """,
)
def f9_backscatter(spark, sf_dir):
    """F9 — backscatter correction Amp + 2·α·BeamRange with slant range
    range/cos(θ) (reference correct_backscatter :843-846, :861-865)."""
    ch = _channels(spark, sf_dir)
    amp = F.lit(70.0) + F.col("b2") * 3.0
    slant = F.col("rng") / F.cos(F.radians(F.lit(47.4)))
    return ch.select(
        "l_orderkey",
        "l_linenumber",
        r6(M.backscatter_correction(amp, F.lit(0.08), slant)).alias("amp_corrected"),
    )


# ---------------------------------------------------------------------------
# R1 — per-group regridding (SURVEY §2.7)
# ---------------------------------------------------------------------------

from ..operators.regrid import regrid_interp  # noqa: E402


@q(
    "r1_regrid_ladder",
    f"""
    WITH s0 AS (
      SELECT user_id, (epoch_us(ts) - {_T0_US}) / 1000000.0 AS x, value, event_id
      FROM events WHERE value IS NOT NULL
    ),
    s1 AS (
      SELECT * FROM s0
      QUALIFY row_number() OVER (PARTITION BY user_id, x ORDER BY event_id) = 1
    ),
    s AS (
      SELECT user_id, x, value,
             lead(x) OVER (PARTITION BY user_id ORDER BY x) AS nx,
             lead(value) OVER (PARTITION BY user_id ORDER BY x) AS nv
      FROM s1
    ),
    lad AS (SELECT unnest(generate_series(0, 29)) AS k),
    probes AS (SELECT u.user_id, lad.k * 86400.0 AS xt
               FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN lad)
    SELECT p.user_id, p.xt AS x_target,
           round(CASE WHEN p.xt = s.x THEN s.value
                      WHEN s.nx IS NULL THEN NULL
                      ELSE s.value + ((s.nv - s.value) / (s.nx - s.x)) * (p.xt - s.x)
                 END, 6) AS value
    FROM probes p LEFT JOIN s
      ON p.user_id = s.user_id AND p.xt >= s.x AND (p.xt < s.nx OR s.nx IS NULL)
    """,
)
def r1_regrid_ladder(spark, sf_dir):
    """R1 — per-group isobar-style regrid (reference regridADCPdata
    :876-981): per user, interpolate event values onto a fixed ladder of
    day-marks. Carry-buffer mapInPandas (0.97 s warm at sf0.1); ties on
    x keep the lowest event_id, as the oracle's row_number does."""
    ev = events(spark, sf_dir).withColumn(
        "x", (F.col("ts_us") - F.lit(_T0_US)) / F.lit(1000000.0)
    )
    ladder = [k * 86400.0 for k in range(30)]
    out = regrid_interp(
        ev, ["user_id"], "x", ["value"], ladder, x_name="x_target",
        order_col="event_id"
    )
    return out.select("user_id", "x_target", r6(F.col("value")).alias("value"))




@q(
    "j3_positional_join",
    """
    WITH l AS (
      SELECT row_number() OVER (ORDER BY c_custkey) AS pos, c_custkey, c_name
      FROM customer
    ),
    r AS (
      SELECT row_number() OVER (ORDER BY c_acctbal, c_custkey) AS pos,
             c_acctbal AS graft_bal, c_mktsegment AS graft_segment,
             c_custkey AS graft_key
      FROM customer
    )
    SELECT pos, c_custkey, c_name, graft_bal, graft_segment, graft_key
    FROM l JOIN r USING (pos)
    """,
)
def j3_positional_join(spark, sf_dir):
    """J3 — positional/index-alignment join (reference
    process_adcp.py:2068-2074 grafts re-read Parquet columns by pandas
    row position; SURVEY §2 J3). The engine's preferred answer stays
    "project at first read" (SURVEY §7 risk 8), but the operator now
    exists for genuinely position-aligned inputs: exact global rank per
    side via rank.py::global_rank (range shuffle + per-partition window
    — NO single-partition window; row_number() OVER (ORDER BY) in the
    oracle is the semantics, not the plan), one equi-join on position.
    Here the i-th customer by key is grafted with the i-th account
    balance in (balance, key) order — a deterministic permutation
    alignment, driver-checked exactly."""
    from ..operators.joins import positional_join

    cust = table(spark, sf_dir, "customer")
    left = cust.select("c_custkey", "c_name")
    right = cust.select(
        F.col("c_acctbal").alias("graft_bal"),
        F.col("c_mktsegment").alias("graft_segment"),
        F.col("c_custkey").alias("graft_key"),
    )
    return positional_join(
        left, right, ["c_custkey"], ["graft_bal", "graft_key"]
    ).select("pos", "c_custkey", "c_name", "graft_bal", "graft_segment", "graft_key")
