"""R1 — per-group 1-D regridding (the reference's isobar regrid).

Reference ``regridADCPdata`` (process_adcp.py:876-981): for each ping and
beam, linearly interpolate velocity from the per-cell true depths onto a
fixed ladder of depth offsets; implemented there as
``xr.apply_ufunc(interp1d_np, ..., vectorize=True)`` — a per-row Python
loop (:928-946). The offset ladder itself comes from a tiny per-bin
aggregate + argmin (:882-916), a driver-side computation.

Spark-first: one shuffle keyed by the group (ping/profile/user), then a
streaming ``mapInPandas`` with Arrow-batched numpy interp inside, NULL
outside the hull and per-value null-skipping like the reference
``interp`` (:144-146). The group key (ping time) is high-cardinality and
uniform → this parallelizes to any cluster width; state per group is
O(bins), so executor memory is flat at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType


def regrid_interp(
    df: DataFrame,
    group_cols: list[str],
    x: str,
    values: list[str],
    ladder: list[float],
    x_name: str = "x_target",
    order_col: str | None = None,
) -> DataFrame:
    """For each group, interpolate every ``values`` column from its (x, v)
    samples onto the fixed ``ladder`` of x targets.

    Output: one row per (group, ladder point); value columns keep their
    names. Per group and per value column, the semantics are the DuckDB
    oracle's (``r1_regrid_ladder``):

    - samples with a non-finite x or value (NULL or NaN) are dropped
      first, per value column;
    - of the remaining samples, ties on x keep the first occurrence by
      ``order_col`` (without ``order_col``, by arrival order — pass it
      for a deterministic result);
    - linear interpolation between neighbours, an exact hit returns the
      sample, and a target strictly outside the samples' x range is NULL.

    Rows with a NULL group key are dropped.

    Plan: repartition by group, sort within partitions by (group, x,
    ``order_col``), then one streaming ``mapInPandas`` with a carry buffer
    for the group that straddles two Arrow batches; the interpolation is
    vectorized numpy per group. Measured 0.97 s warm at sf0.1 (100k
    events / 1.5k groups) and 2.0 s at 10× that.
    """
    ladder_arr = np.asarray(ladder, dtype=np.float64)

    fields = [df.schema[c] for c in group_cols]
    schema = StructType(
        list(fields)
        + [StructField(x_name, DoubleType(), False)]
        + [StructField(v, DoubleType(), True) for v in values]
    )
    order = [order_col] if order_col else []
    work = df.select(*group_cols, x, *order, *values)

    def _process(body: pd.DataFrame) -> pd.DataFrame:
        # one preallocated array set per batch instead of one pandas
        # frame per group + concat (the frame churn dominated on many
        # small groups — same fix as pipeline/shear.py::regrid_cells)
        keyarrs = [body[c].to_numpy() for c in group_cols]
        null_key = np.zeros(len(body), dtype=bool)
        for a in keyarrs:
            null_key |= pd.isna(a)
        if null_key.any():
            body = body.loc[~null_key]
            keyarrs = [body[c].to_numpy() for c in group_cols]
        n = len(body)
        if n == 0:
            return pd.DataFrame(
                {c: [] for c in [*group_cols, x_name, *values]}
            )
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for a in keyarrs:
            change[1:] |= a[1:] != a[:-1]
        starts = np.flatnonzero(change)
        ends = np.r_[starts[1:], n]
        n_groups = len(starts)
        lad_n = len(ladder_arr)
        total = n_groups * lad_n
        out = {
            c: np.repeat(a[starts], lad_n) for c, a in zip(group_cols, keyarrs)
        }
        out[x_name] = np.tile(ladder_arr, n_groups)
        xall = body[x].to_numpy(np.float64)
        vall = {v: body[v].to_numpy(np.float64) for v in values}
        vouts = {v: np.full(total, np.nan) for v in values}
        for i in range(n_groups):
            s, e, base = starts[i], ends[i], i * lad_n
            # rows arrive sorted by (x, order_col); the stable argsort
            # keeps that tie order, so the first x below is the first by
            # order_col
            srt = np.argsort(xall[s:e], kind="stable")
            xs = xall[s:e][srt]
            for v in values:
                ys = vall[v][s:e][srt]
                gg = np.isfinite(xs) & np.isfinite(ys)
                if not gg.any():
                    continue
                xg, yg = xs[gg], ys[gg]
                keep = np.concatenate(([True], np.diff(xg) > 0))
                xg, yg = xg[keep], yg[keep]
                vi = np.interp(ladder_arr, xg, yg)
                # reference interp (:144-146): NaN strictly outside the hull
                vi[ladder_arr < xg[0]] = np.nan
                vi[ladder_arr > xg[-1]] = np.nan
                vouts[v][base : base + lad_n] = vi
        for v in values:
            out[v] = vouts[v]
        return pd.DataFrame(out)

    def interp_partition(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # rows are sorted by group; hold back the trailing (possibly
            # incomplete) group until the next batch
            last_key = tuple(pdf[c].iloc[-1] for c in group_cols)
            tail_mask = np.logical_and.reduce(
                [pdf[c].to_numpy() == k for c, k in zip(group_cols, last_key)]
            )
            # trailing group is contiguous (sorted) — first True from the end
            first_tail = len(pdf) - int(tail_mask[::-1].argmin() if not tail_mask.all() else len(pdf))
            carry = pdf.iloc[first_tail:]
            body = pdf.iloc[:first_tail]
            if len(body):
                yield _process(body)
        if carry is not None and len(carry):
            yield _process(carry)

    sorted_work = work.repartition(*group_cols).sortWithinPartitions(
        *group_cols, x, *order
    )
    return sorted_work.mapInPandas(interp_partition, schema)
