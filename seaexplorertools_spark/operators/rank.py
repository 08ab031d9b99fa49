"""Distributed global total-order rank — the scale-correct replacement for
``row_number() OVER (ORDER BY ...)``.

A global window moves EVERY row through one partition (Spark warns
"No Partition Defined for Window operation"); fine for the reference's
single-mission series (SURVEY §2.5 discussion), fatal for a 100 TB
curriculum ordering. The two-pass form here keeps the data distributed:

1. ``repartitionByRange`` on the order key (one range shuffle — sampled
   boundaries, the same machinery as a distributed sort), then the local
   row number WITHOUT any window: ``sortWithinPartitions`` + the record
   number within each partition from ``monotonically_increasing_id()``'s
   low 33 bits (global_rank; round 10 — the per-``__pid`` window this
   replaces cost a second full-data hash exchange plus a per-consumer
   sort). global_cumsum/global_running_max still need a per-``__pid``
   running window (a value aggregate, not a position, so the id trick
   cannot express it).
2. Per-partition row counts (a ≤-num-partitions-row aggregate) turn into
   prefix offsets driver-free and WINDOW-free: partition ids are known up
   front (0..parts-1), so each count row contributes itself to every
   higher id via a ``sequence``-explode (≤ parts² rows) + hash aggregate,
   broadcast back, and added to the local number. No ``WindowExec`` with
   an empty partition spec appears anywhere in the plan — the audit's
   single-partition-window detector stays clean without an allowlist.

Round-4 audit note: these prefix operators (and intervals.py's
concurrency_profile) are the ONLY places in the engine where two plan
branches must agree on a sampled partitioning — hence their consistency
cache. Every other spark_partition_id/monotonically_increasing_id use
(weighted-sample local top-k, skyline's partition-local prune, salt
routing) is layout-independent by algebra: any partition assignment
yields the same final result, so no cross-branch consistency is needed.

The result is the exact global ``row_number`` for the given total order —
independent of partition count or boundary sampling, because rank depends
only on the order, so it is fully deterministic when the order columns are
a tiebroken total order. Used for curriculum ordering (sort by quality,
train in order) and deterministic corpus shuffling (order by hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import consistency_cache

# monotonically_increasing_id() keeps the record number within a partition
# in its low 33 bits; a range partition holding more than 2^33 rows would
# carry into the partition-id bits, so global_rank refuses it
LOCAL_RN_BITS = 33


def global_rank(
    df: DataFrame,
    order_cols: list[str | Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add 1-based ``rank_col`` = exact global row_number under
    ``order_cols`` (must be a total order — include a unique tiebreaker).
    ONE full-data shuffle total (the range repartition) plus the tiny
    count aggregate; no single-partition stage anywhere.

    Round-10 (guide §2.4): the per-``__pid`` row_number WINDOW is gone —
    it forced a second full-data hash exchange on ``__pid`` on top of
    the range exchange (``RangePartitioning(order cols)`` does not
    satisfy the window's ``ClusteredDistribution(__pid)``) plus a
    post-cache sort per materialization. Instead the ranged frame is
    sorted WITHIN partitions once, before the cache, and the local rank
    is read off ``monotonically_increasing_id()``'s documented layout
    (record number within partition in the low 33 bits; the projection
    is nondeterministic, so the optimizer cannot reorder it below the
    sort — pinned by test_global_rank_plan_has_single_shuffle_no_window
    and the cross-partition property tests). Alternative designs that
    also dropped the second exchange but removed the cache or collected
    boundaries were measured this round and REJECTED
    (plans/r10/ab_rank_lanes*.json; OPTIMIZATION_r10.md T5).

    Limit: at most 2^``LOCAL_RN_BITS`` (2^33 ≈ 8.6e9) rows per range
    partition; a larger partition fails the query with an error naming
    the limit instead of returning wrong ranks (raise ``num_partitions``)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__local_rn",
            F.monotonically_increasing_id().bitwiseAND(
                F.lit((1 << LOCAL_RN_BITS) - 1)
            )
            + F.lit(1),
        )
    )
    # CORRECTNESS: the offsets branch below re-materializes `ranged`; the
    # range partitioner samples boundaries per materialization and AQE may
    # plan the two branches differently, so without a persisted cut the
    # __pid assignment can DIFFER between the local-rank pass and the
    # counts pass (observed at sf0.1: block-shifted prefix sums). One
    # cache pins a single consistent partitioning for both consumers.
    ranged = consistency_cache(ranged)
    counts = ranged.groupBy("__pid").agg(F.count("*").alias("__n"))
    # prefix offsets with no window at all: partition p's count lands on
    # every higher id p+1..parts-1 (ids known up front), then a hash
    # aggregate sums contributions per target id — ≤ parts² tiny rows.
    # The size guard is the explode's first branch, so it runs on every
    # count row: the last partition's row explodes to nothing, so a
    # check on the exploded rows would never see that partition.
    limit = 1 << LOCAL_RN_BITS
    contrib = counts.select(
        F.explode(
            F.when(
                F.col("__n") > F.lit(limit),
                F.raise_error(
                    F.format_string(
                        f"global_rank: range partition %d holds %d rows, over "
                        f"the 2^{LOCAL_RN_BITS} = {limit} rows per partition "
                        f"that monotonically_increasing_id can number; raise "
                        f"num_partitions",
                        F.col("__pid"),
                        F.col("__n"),
                    )
                ),
            ).when(
                F.col("__pid") < F.lit(parts - 1),
                F.sequence(F.col("__pid") + F.lit(1), F.lit(parts - 1)),
            )
        ).alias("__pid"),
        F.col("__n"),
    )
    offsets = contrib.groupBy("__pid").agg(F.sum("__n").alias("__off"))
    return (
        ranged.join(F.broadcast(offsets), "__pid", "left")
        .withColumn(
            rank_col,
            (F.coalesce(F.col("__off"), F.lit(0)) + F.col("__local_rn")).cast("long"),
        )
        .drop("__pid", "__local_rn", "__off")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str | list[str],
    out_col: str | list[str] = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = inclusive global running sum of ``value_col``
    under the total order ``order_cols`` — the same windowless two-pass
    shape as ``global_rank``: range repartition, per-partition local
    cumsum, per-partition totals turned into prefix offsets via the
    sequence-explode aggregate (≤ parts² tiny rows, no unpartitioned
    window anywhere). Deterministic whenever ``value_col`` is
    integer-typed or the order is total (ties in the order can reorder
    float additions within a tie group otherwise).

    ``value_col``/``out_col`` may be parallel LISTS — every column rides
    the SAME single range shuffle, local window pass, and offsets join
    (a tree trainer's paired pos/count cumulatives cost one pass, not
    two)."""
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(ocols):
        raise ValueError("value_col and out_col lists must pair up")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for i, v in enumerate(vcols):
        ranged = ranged.withColumn(f"__local_cs{i}", F.sum(v).over(local_w))
    # same consistency cache as global_rank: totals must see the SAME
    # sampled range boundaries as the local cumsum branch
    ranged = consistency_cache(ranged)
    totals = ranged.groupBy("__pid").agg(
        *[F.sum(v).alias(f"__tot{i}") for i, v in enumerate(vcols)]
    )
    contrib = totals.select(
        F.explode(
            F.when(
                F.col("__pid") < F.lit(parts - 1),
                F.sequence(F.col("__pid") + F.lit(1), F.lit(parts - 1)),
            ).otherwise(F.lit(None).cast("array<int>"))
        ).alias("__pid"),
        *[F.col(f"__tot{i}") for i in range(len(vcols))],
    )
    offsets = contrib.groupBy("__pid").agg(
        *[F.sum(f"__tot{i}").alias(f"__off{i}") for i in range(len(vcols))]
    )
    out = ranged.join(F.broadcast(offsets), "__pid", "left")
    for i, oc in enumerate(ocols):
        out = out.withColumn(
            oc, F.coalesce(F.col(f"__off{i}"), F.lit(0)) + F.col(f"__local_cs{i}")
        )
    return out.drop(
        "__pid",
        *[f"__local_cs{i}" for i in range(len(vcols))],
        *[f"__off{i}" for i in range(len(vcols))],
    )


def ntile_from_rank(rank_name: str, n_name: str, k: int) -> Column:
    """The exact ``ntile(k)`` bucket (1-based INT) recovered
    arithmetically from an exact 1-based global row_number column
    ``rank_name`` over ``n_name`` total rows: the first n%k buckets take
    ceil(n/k) rows, the rest floor(n/k) — ntile's exact contract. All
    integer ``div``/``greatest`` arithmetic, engine-portable. Shared by
    global_ntile and any query that already carries a global rank and a
    row-count scalar (e.g. the RFM quartiles, which rank the same table
    three times and reuse ONE count broadcast — calling global_ntile
    three times would re-derive the count per call and compound the
    physical plan across the chained calls)."""
    r, n = rank_name, n_name
    return F.expr(
        f"CAST(IF({r} <= ({n} % {k}) * ({n} div {k} + 1), "
        f"({r} - 1) div ({n} div {k} + 1) + 1, "
        f"({n} % {k}) + ({r} - ({n} % {k}) * ({n} div {k} + 1) "
        f"+ greatest({n} div {k}, 1) - 1) div greatest({n} div {k}, 1)"
        f") AS INT)"
    )


def global_ntile(
    df: DataFrame,
    order_cols: list[str | Column],
    n_tiles: int,
    out_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n_tiles)`` under the total order ``order_cols``
    without a single-partition window: global_rank supplies the exact
    row_number, a 1-row count broadcast supplies N, and the 1-based
    bucket is recovered arithmetically — the first N%n buckets take
    ceil(N/n) rows, the rest floor(N/n), which is ntile's exact
    contract. All arithmetic is integer (div/greatest guards), so the
    result is engine-portable. The count branch re-reads global_rank's
    consistency cache, so both consumers see one partitioning."""
    ranked = global_rank(df, order_cols, "__gr", num_partitions=num_partitions)
    cnt = ranked.agg(F.count("*").alias("__n")).withColumn("__k", F.lit(1))
    out = (
        ranked.withColumn("__k", F.lit(1))
        .join(F.broadcast(cnt), "__k")
        .drop("__k")
    )
    return out.withColumn(
        out_col, ntile_from_rank("__gr", "__n", n_tiles)
    ).drop("__gr", "__n")


def global_running_max(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "running_max",
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = global running max of ``value_col`` under the
    total order ``order_cols`` — same windowless two-pass shape as
    global_cumsum (max is order-insensitive, so no tiebreak caveats).
    ``exclusive=True`` gives the strict-predecessor max (NULL for the
    first row), i.e. ``max(v) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED
    PRECEDING AND -1)`` — what a Pareto-frontier domination test needs."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    end = -1 if exclusive else 0
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    ranged = ranged.withColumn("__local_mx", F.max(value_col).over(local_w))
    # consistency cache (see global_rank): totals must see the SAME
    # sampled range boundaries as the local pass
    ranged = consistency_cache(ranged)
    totals = ranged.groupBy("__pid").agg(F.max(value_col).alias("__tot"))
    contrib = totals.select(
        F.explode(
            F.when(
                F.col("__pid") < F.lit(parts - 1),
                F.sequence(F.col("__pid") + F.lit(1), F.lit(parts - 1)),
            ).otherwise(F.lit(None).cast("array<int>"))
        ).alias("__pid"),
        F.col("__tot"),
    )
    offsets = contrib.groupBy("__pid").agg(F.max("__tot").alias("__off"))
    # greatest() skips NULLs, so a first-in-partition row (NULL local max
    # under exclusive) correctly inherits the earlier partitions' max,
    # and the very first row stays NULL
    return (
        ranged.join(F.broadcast(offsets), "__pid", "left")
        .withColumn(out_col, F.greatest(F.col("__off"), F.col("__local_mx")))
        .drop("__pid", "__local_mx", "__off")
    )
