"""Ordered/window operator kit — reference operators W1–W8 (SURVEY §2.5).

All of these are thin, *explicitly ordered* window compositions. The
reference gets ordering implicitly from a sorted pandas index
(process_adcp.py:112); in Spark ordering must be declared in the window
spec, and ties need a stable tiebreaker column — every helper takes
``order_by`` as a list so callers can append one.

Scale notes
-----------
Each helper is a single window over ``partition_by`` — one shuffle keyed by
the partition columns, sort within partitions. Partition by the natural
session key (``profile_number`` / ``diveNum`` / ``user_id``); an
unpartitioned ordered window collapses to ONE task and is the canonical
100 TB anti-pattern, so ``partition_by=[]`` is allowed but logged in the
docstring as a deliberate small-data-only escape hatch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec


def _w(partition_by: list[str | Column], order_by: list[str | Column]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def centered_mean(
    col: Column | str, n: int, partition_by: list, order_by: list
) -> Column:
    """W1 — RunningMean(x, N): mean over 2N+1 centered rows, NaN-padded edges
    (reference process_adcp.py:137-141). Spark's avg skips NULLs like nanmean;
    edge windows are shorter (reference pads with NaN, which nanmean also
    skips — identical semantics).
    """
    return F.avg(col).over(_w(partition_by, order_by).rowsBetween(-n, n))


def centered_median(col: Column | str, n: int, partition_by: list, order_by: list) -> Column:
    """W1 variant — running median over 2N+1 centered rows (reference
    notebook ProcessADCPSeaExplorer cell 10 RunningMedian). Exact
    interpolated median via ``percentile`` (Spark's ``median`` refuses
    window frames; percentile(0.5) is the same exact computation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.percentile(c, F.lit(0.5)).over(_w(partition_by, order_by).rowsBetween(-n, n))


def centered_max(col: Column | str, n: int, partition_by: list, order_by: list) -> Column:
    """W1 variant — running max (notebook RunningMax)."""
    return F.max(col).over(_w(partition_by, order_by).rowsBetween(-n, n))


def centered_min(col: Column | str, n: int, partition_by: list, order_by: list) -> Column:
    """W1 variant — running min (notebook RunningMin)."""
    return F.min(col).over(_w(partition_by, order_by).rowsBetween(-n, n))


def central_diff(
    v: Column | str,
    x: Column | str,
    partition_by: list,
    order_by: list,
) -> Column:
    """W2 — np.gradient semantics: central difference in the interior,
    one-sided at the edges (reference process_adcp.py:1186-1194; xarray
    ``differentiate`` at :1171 is the same central scheme).

    Matches np.gradient's second-order scheme exactly, including the
    non-uniform-spacing interior formula

        f'_i = (hp²·f₊ + (hn² − hp²)·f_i − hn²·f₋) / (hp·hn·(hp + hn))

    with hp = x_i − x_{i−1}, hn = x_{i+1} − x_i (reduces to
    (f₊ − f₋)/(2h) when uniform), and one-sided differences at the edges.
    """
    w = _w(partition_by, order_by)
    vc = F.col(v) if isinstance(v, str) else v
    xc = F.col(x) if isinstance(x, str) else x
    v_next, v_prev = F.lead(vc).over(w), F.lag(vc).over(w)
    x_next, x_prev = F.lead(xc).over(w), F.lag(xc).over(w)
    hp = xc - x_prev
    hn = x_next - xc
    interior = (hp * hp * v_next + (hn * hn - hp * hp) * vc - hn * hn * v_prev) / F.nullif(
        hp * hn * (hp + hn), F.lit(0.0)
    )
    first = (v_next - vc) / F.nullif(hn, F.lit(0.0))
    last = (vc - v_prev) / F.nullif(hp, F.lit(0.0))
    return (
        F.when(x_prev.isNull() & x_next.isNull(), F.lit(None).cast("double"))
        .when(x_prev.isNull(), first)
        .when(x_next.isNull(), last)
        .otherwise(interior)
    )


def diff(v: Column | str, partition_by: list, order_by: list) -> Column:
    """np.diff-style backward first difference: v[i] - v[i-1]; NULL first row."""
    w = _w(partition_by, order_by)
    vc = F.col(v) if isinstance(v, str) else v
    return vc - F.lag(vc).over(w)


def cumsum(
    v: Column | str,
    partition_by: list,
    order_by: list,
    nan_as_zero: bool = True,
    reverse: bool = False,
) -> Column:
    """W3 — running sum (integration). ``nan_as_zero`` reproduces
    np.nancumsum (reference :1203, :1679-1682, :1957): NULL contributes 0 but
    the running total keeps flowing. ``reverse=True`` is the bottom-up
    integration ``np.nancumsum(arr[::-1])[::-1]`` — expressed by descending
    order, no data reversal.
    """
    order = [F.col(c).desc() if isinstance(c, str) else c.desc() for c in order_by] if reverse else order_by
    w = _w(partition_by, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc = F.col(v) if isinstance(v, str) else v
    body = F.coalesce(vc, F.lit(0.0)) if nan_as_zero else vc
    return F.sum(body).over(w)


def cumsum_reset(
    v: Column | str,
    marker: Column,
    partition_by: list,
    order_by: list,
) -> Column:
    """W4 — cumulative sum reset to zero at each marker row (reference
    ``reset_transport_at_GPS``, process_adcp.py:1329-1333: dead-reckoned
    displacement re-zeroed at each GPS fix).

    cum[i] - ffill(cum at last marker) — the classic sessionized cumsum, two
    window passes over the same (partition, order) sort so Catalyst reuses
    one exchange+sort.
    """
    w_all = _w(partition_by, order_by).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc = F.col(v) if isinstance(v, str) else v
    cum = F.sum(F.coalesce(vc, F.lit(0.0))).over(w_all)
    at_marker = F.when(marker, cum)
    last_marker_cum = F.last(at_marker, ignorenulls=True).over(w_all)
    return cum - F.coalesce(last_marker_cum, F.lit(0.0))


def ffill(v: Column | str, partition_by: list, order_by: list) -> Column:
    """W5 — pandas fillna(method='ffill') (reference :1405-1406, :852-856)."""
    w = _w(partition_by, order_by).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc = F.col(v) if isinstance(v, str) else v
    return F.last(vc, ignorenulls=True).over(w)


def bfill(v: Column | str, partition_by: list, order_by: list) -> Column:
    """W5 — fillna(method='bfill').

    Expressed as a RUNNING frame over the REVERSED order: Spark executes
    (currentRow, unboundedFollowing) frames by re-scanning the remaining
    partition per row — O(n²) per partition, observed as a multi-minute
    hang at 50k rows/partition — while (unboundedPreceding, currentRow)
    is incremental O(n). first-non-null-at-or-after ascending ≡
    last-non-null-at-or-before descending.

    ``order_by`` must be plain ASCENDING keys (str or bare Column);
    bfill owns the sort direction and reverses internally."""
    rev = Window.partitionBy(*partition_by).orderBy(
        *[_plain_ascending_key(c).desc() for c in order_by]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc = F.col(v) if isinstance(v, str) else v
    return F.last(vc, ignorenulls=True).over(rev)


def _plain_ascending_key(c: Column | str) -> Column:
    """Reject SortOrder inputs loudly: ``.desc()`` on an already-ordered
    Column (e.g. ``F.col('t').desc()``) nests a SortOrder inside a
    SortOrder, which Spark only reports at runtime as INTERNAL_ERROR
    'Cannot evaluate expression: ... DESC NULLS LAST'. bfill reverses the
    order itself, so callers pass bare keys."""
    col = F.col(c) if isinstance(c, str) else c
    if repr(col).rstrip("> '\"").endswith(("NULLS FIRST", "NULLS LAST")):
        raise TypeError(
            "bfill(order_by=...) takes plain ascending sort keys; got a "
            "SortOrder (.asc()/.desc()) — pass the bare column, bfill "
            "applies the reversal internally"
        )
    return col


def demean(v: Column | str, partition_by: list) -> Column:
    """W6 — subtract the per-partition mean (reference :1682, :1959: baroclinic
    profile demeaning). NULL-skipping avg == nanmean.
    """
    w = Window.partitionBy(*partition_by)
    vc = F.col(v) if isinstance(v, str) else v
    return vc - F.avg(vc).over(w)


def tail_flag(
    v: Column | str, k: int, partition_by: list, order_by_desc: list
) -> Column:
    """W7 — flag rows in the bottom-most k non-null observations per
    partition (reference :1756-1759: reversed cumulative count of finite
    cells kept while <= 10). ``order_by_desc`` should order deepest-first.
    """
    w = _w(partition_by, order_by_desc).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc = F.col(v) if isinstance(v, str) else v
    running_nonnull = F.count(vc).over(w)
    return vc.isNotNull() & (running_nonnull <= k)
