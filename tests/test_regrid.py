"""regrid_interp against the DuckDB oracle's semantics (r1_regrid_ladder):
NULL values dropped before the x dedup, ties on x keep the first
occurrence by ``order_col``, linear interpolation, NULL outside the hull
(reference regridADCPdata)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from seaexplorertools_spark.operators.regrid import regrid_interp

LADDER = [0.0, 2.5, 5.0, 7.5, 10.0, 12.5]
SCHEMA = "g long, ord long, x double, v double, w double"


def _rows():
    rng = np.random.default_rng(11)
    rows = []
    order = 0
    for g in range(40):
        n = int(rng.integers(2, 15))
        xs = np.sort(rng.uniform(0, 12, n))
        for x in xs:
            v = float(rng.normal()) if rng.random() > 0.15 else None
            w = float(rng.normal()) if rng.random() > 0.3 else None
            rows.append((g, order, float(x), v, w))
            order += 1
    # a group with a single sample and one with none finite
    rows.append((90, order, 4.0, 1.5, None)); order += 1
    rows.append((91, order, 3.0, None, None)); order += 1
    # duplicate x: first occurrence (by ord) must win
    rows.append((92, order, 5.0, 10.0, 1.0)); order += 1
    rows.append((92, order, 5.0, 99.0, 2.0)); order += 1
    rows.append((92, order, 8.0, 20.0, 3.0)); order += 1
    return rows


@pytest.fixture(scope="module")
def sample_df(spark):
    return spark.createDataFrame(_rows(), SCHEMA)


def _collect(df, values=("v", "w")):
    return {(r["g"], r["x_target"]): tuple(r[c] for c in values) for r in df.collect()}


def _oracle_replay(rows, ladder, values=("v", "w")):
    """numpy replay of the oracle: per group and value column, drop NULL
    values, keep the first x by ord, np.interp, NULL outside the hull."""
    cols = {"v": 3, "w": 4}
    lad = np.asarray(ladder)
    out = {}
    for g in sorted({r[0] for r in rows}):
        per_value = []
        for c in values:
            first = {}
            for r in sorted((r for r in rows if r[0] == g), key=lambda r: r[1]):
                if r[cols[c]] is not None:
                    first.setdefault(r[2], r[cols[c]])
            xs = np.array(sorted(first))
            ys = np.array([first[x] for x in xs])
            if len(xs) == 0:
                per_value.append([None] * len(lad))
                continue
            vi = np.interp(lad, xs, ys)
            per_value.append(
                [None if t < xs[0] or t > xs[-1] else float(y) for t, y in zip(lad, vi)]
            )
        for i, t in enumerate(ladder):
            out[(g, t)] = tuple(pv[i] for pv in per_value)
    return out


def test_matches_oracle_replay(sample_df):
    got = _collect(
        regrid_interp(sample_df, ["g"], "x", ["v", "w"], LADDER, order_col="ord")
    )
    want = _oracle_replay(_rows(), LADDER)
    assert set(got) == set(want)
    for k in want:
        for a, b in zip(want[k], got[k]):
            if a is None:
                assert b is None, k
            else:
                assert b == pytest.approx(a, rel=1e-9, abs=1e-12), k


def test_jvm_dedup_first_occurrence(sample_df):
    out = regrid_interp(
        sample_df.filter(F.col("g") == 92),
        ["g"], "x", ["v", "w"], [5.0, 6.5, 8.0], order_col="ord",
    ).orderBy("x_target").collect()
    assert [r["v"] for r in out] == [10.0, pytest.approx(15.0), 20.0]


def test_jvm_null_outside_hull(sample_df):
    out = regrid_interp(
        sample_df.filter(F.col("g") == 90),
        ["g"], "x", ["v"], [0.0, 4.0, 10.0], order_col="ord",
    ).orderBy("x_target").collect()
    assert out[0]["v"] is None  # below hull
    assert out[1]["v"] == 1.5   # exact hit on the single sample
    assert out[2]["v"] is None  # above hull


def _ladder_values(spark, rows, repartition=None):
    df = spark.createDataFrame(rows, SCHEMA)
    if repartition:
        df = df.repartition(repartition)
    out = regrid_interp(df, ["g"], "x", ["v"], [5.0, 6.5, 8.0], order_col="ord")
    return [r["v"] for r in out.orderBy("x_target").collect()]


def test_tie_on_x_keeps_lowest_order_whatever_the_input_order(spark):
    rows = [(1, 1, 5.0, 99.0, None), (1, 0, 5.0, 10.0, None), (1, 2, 8.0, 20.0, None)]
    assert _ladder_values(spark, rows, repartition=8) == [
        10.0, pytest.approx(15.0), 20.0
    ]


def test_null_at_first_occurrence_falls_to_the_next_sample(spark):
    rows = [(1, 0, 5.0, None, None), (1, 1, 5.0, 7.0, None), (1, 2, 8.0, 10.0, None)]
    assert _ladder_values(spark, rows) == [7.0, pytest.approx(8.5), 10.0]
