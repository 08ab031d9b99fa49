"""Distributed PCA (top principal component) by power iteration — engine
addition for embedding-pipeline preprocessing (dominant-direction removal,
whitening before PQ/IVF quantization; public textbook algorithm).

Scale shape: ONE aggregate pass over the data per iteration. Scores
s_r = (x_r − μ)·v are computed row-local from the embedding ARRAY with a
literal v (JVM ``zip_with``/``aggregate`` fold — no 64× posexplode
materialization, no per-iteration row shuffle); the update
y = Σ_r (x_r − μ) s_r reaches the driver as ONE |dim|-row aggregate
(map-side partial sums, shuffle = |dim| keys). Centering never
materializes x − μ: s_r = x_r·v − μ·v (scalar) and
y_p = Σ x_{rp} s_r − μ_p Σ s_r, both from the same single aggregate.
Driver-side state is two |dim| vectors per iteration — the documented
collect boundary (SURVEY §3), identical in spirit to the reference's
driver-side optimizer loops.

Determinism: fixed init v₀ = 1/√dim, fixed iteration count, final sign
fixed by the largest-|loading| element — reproducible across engines; the
DuckDB oracle replays the SAME update expressions (see contract), so
agreement is within float-summation reordering, absorbed by 6-dp output
rounding (power iteration is a contraction onto the dominant eigenvector;
last-ulp perturbations do not amplify).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import consistency_cache
from ..functions.litarrays import double_array


def _dot_lit(vec_col, lits: list[float]):
    """x·c for a literal vector, as a row-local JVM fold (index order)."""
    arr = double_array(lits)
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def mean_vector(df: DataFrame, vec_col: str, dim: int) -> list[float]:
    """Column means μ via one posexplode aggregate (|dim| rows)."""
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.avg(F.col("val").cast("double")).alias("m"))
        .collect()
    )
    mu = [0.0] * dim
    for r in rows:
        mu[r["pos"]] = r["m"]
    return mu


def power_iteration_top(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int = 6,
    center: bool = True,
    rebalance: bool | None = None,
) -> tuple[list[float], float]:
    """(loadings, eigenvalue) of the top principal component of the
    (optionally centered) row vectors, after ``n_iter`` fixed power
    iterations from v₀ = 1/√dim."""
    # one aggregate ACTION per iteration: the mean pass is FUSED into the
    # first iteration's aggregate (v₀ is a known constant, so the raw
    # moments Σx_p, Σx_p·(x·v₀), Σ(x·v₀), n determine both μ and the
    # first centered update: Σx_p·s = Σx_p(x·v₀) − (μ·v₀)Σx_p and
    # Σs = Σ(x·v₀) − n(μ·v₀)) — n_iter jobs total instead of n_iter+1;
    # cache the input so they share one materialization. The cache pins
    # the input LAYOUT too: a few-split source (the local fixture parquet
    # is one split) would put every iteration's map-side aggregation on
    # one core, so rebalance once to the cluster's parallelism before
    # caching when the source is under-partitioned — one shuffle
    # amortized over n_iter scans (measured 5.2 → 2.9 s at sf0.1).
    # ``rebalance=None`` (auto) probes the partition count via .rdd —
    # free on scan-shaped inputs, but under AQE that probe finalizes the
    # physical plan and EXECUTES any upstream shuffle stages just to read
    # a number (then the cache recomputes them). Callers handing in
    # expensive shuffle-lineage inputs should pass rebalance=True/False
    # explicitly to skip the probe.
    src = df.select(vec_col)
    parts = df.sparkSession.sparkContext.defaultParallelism
    do = rebalance
    if do is None:
        do = src.rdd.getNumPartitions() < parts
    if do:
        src = src.repartition(parts)
    df = consistency_cache(src)
    mu = [0.0] * dim
    v = [1.0 / math.sqrt(dim)] * dim
    eig = 0.0
    for it in range(n_iter):
        if it == 0 and center:
            d = _dot_lit(F.col(vec_col), v).alias("__d")
            agg = (
                df.select(d, F.posexplode(vec_col).alias("pos", "val"))
                .groupBy("pos")
                .agg(
                    F.sum(F.col("val").cast("double") * F.col("__d")).alias("sxd"),
                    F.sum(F.col("val").cast("double")).alias("sx"),
                    F.sum("__d").alias("sd"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
            n = agg[0]["n"]  # dense arrays: every position sees every row
            sd = agg[0]["sd"]
            sx = [0.0] * dim
            sxd = [0.0] * dim
            for r in agg:
                sx[r["pos"]] = r["sx"]
                sxd[r["pos"]] = r["sxd"]
                mu[r["pos"]] = r["sx"] / r["n"]
            mdv = sum(m * c for m, c in zip(mu, v))
            ssum = sd - n * mdv
            y = [sxd[p] - mdv * sx[p] - mu[p] * ssum for p in range(dim)]
        else:
            mu_dot_v = sum(m * c for m, c in zip(mu, v))
            s = (_dot_lit(F.col(vec_col), v) - F.lit(mu_dot_v)).alias("__s")
            agg = (
                df.select(s, F.posexplode(vec_col).alias("pos", "val"))
                .groupBy("pos")
                .agg(
                    F.sum(F.col("val").cast("double") * F.col("__s")).alias("xy"),
                    F.sum("__s").alias("ssum"),
                )
                .collect()
            )
            y = [0.0] * dim
            for r in agg:
                y[r["pos"]] = r["xy"] - mu[r["pos"]] * r["ssum"]
        nrm = math.sqrt(sum(c * c for c in y))
        eig = nrm  # Rayleigh-quotient estimate ‖C v‖ for unit v
        v = [c / nrm for c in y]
    # canonical sign: the largest-|loading| element is positive
    pivot = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-c for c in v]
    return v, eig


def top_component_df(
    spark: SparkSession,
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int = 6,
    center: bool = True,
) -> DataFrame:
    """(dim, loading) rows, loadings 6-dp rounded — the contract shape."""
    v, _ = power_iteration_top(df, vec_col, dim, n_iter=n_iter, center=center)
    rows = [(i, round(c, 6) + 0.0) for i, c in enumerate(v)]
    return spark.createDataFrame(rows, "dim int, loading double")


def gram_covariance(df: DataFrame, vec_col: str, dim: int) -> list[list[float]]:
    """Centered covariance-scatter matrix C = Σ x xᵀ − n·μμᵀ as a
    driver-side dim×dim list — computed in ONE distributed aggregation
    (explode each row's (i, j, xᵢ·xⱼ) pairs → 4096-group sum). This is
    the right PCA form for SMALL dim: one pass over the data and the
    eigenproblem becomes driver-side arithmetic on dim² numbers, versus
    one distributed pass PER power iteration (power_iteration_top — the
    right form when dim is too large to materialize dim²)."""
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                idx,
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (
                        F.element_at(F.col(vec_col), i + 1).cast("double")
                        * F.element_at(F.col(vec_col), j + 1).cast("double")
                    ).alias("xx"),
                ),
            ),
        )
    )
    cells = (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .agg(F.sum("p.xx").alias("sxx"))
        .collect()
    )
    sums = df.select(
        F.posexplode(vec_col).alias("i", "x")
    ).groupBy("i").agg(F.sum(F.col("x").cast("double")).alias("si"), F.count("*").alias("n"))
    srows = sums.collect()
    n = float(srows[0]["n"])
    s = [0.0] * dim
    for r in srows:
        s[r["i"]] = r["si"]
    C = [[0.0] * dim for _ in range(dim)]
    for r in cells:
        C[r["i"]][r["j"]] = r["sxx"] - s[r["i"]] * s[r["j"]] / n
    return C


def top_component_gram(
    spark: SparkSession,
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int = 6,
) -> DataFrame:
    """Top principal component via the one-pass Gram matrix + driver-side
    power iteration — same v₀/update/sign conventions as
    power_iteration_top, same (dim, loading) contract shape. The 6-dp
    rounding uses the portable floor form so the oracle's SQL replay is
    bit-compatible."""
    C = gram_covariance(df, vec_col, dim)
    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(n_iter):
        y = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        nrm = math.sqrt(sum(c * c for c in y))
        v = [c / nrm for c in y]
    pivot = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-c for c in v]
    rows = [
        (i, math.floor(c * 1000000.0 + 0.5) / 1000000.0 + 0.0)
        for i, c in enumerate(v)
    ]
    return spark.createDataFrame(rows, "dim int, loading double")

