"""power_iteration_top: distributed steps replay bit-close to the same
fixed-iteration algorithm in numpy, and converge to the true top
eigenvector when a dominant direction exists."""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from seaexplorertools_spark.operators.pca import (
    mean_vector,
    power_iteration_top,
)


def _numpy_replay(X: np.ndarray, n_iter: int, center: bool) -> np.ndarray:
    dim = X.shape[1]
    mu = X.mean(axis=0) if center else np.zeros(dim)
    v = np.full(dim, 1.0 / math.sqrt(dim))
    for _ in range(n_iter):
        s = X @ v - mu @ v
        y = X.T @ s - mu * s.sum()
        v = y / np.linalg.norm(y)
    piv = int(np.argmax(np.abs(v)))
    return -v if v[piv] < 0 else v


@pytest.mark.parametrize("center", [True, False])
def test_matches_numpy_replay_of_same_iterations(spark, sf_dir, center):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    X = np.array([r["embedding"] for r in df.select("embedding").collect()], dtype=np.float32).astype(np.float64)
    v_np = _numpy_replay(X, n_iter=6, center=center)
    v_sp, eig = power_iteration_top(df, "embedding", dim=64, n_iter=6, center=center)
    assert np.allclose(np.array(v_sp), v_np, atol=1e-9)
    assert eig > 0
    mu = mean_vector(df, "embedding", 64)
    assert np.allclose(np.array(mu), X.mean(axis=0), atol=1e-9)


def test_converges_on_planted_dominant_direction(spark):
    rng = random.Random(3)
    d = 16
    true_v = np.zeros(d)
    true_v[2], true_v[9] = 3.0, 4.0
    true_v /= np.linalg.norm(true_v)
    rows = []
    for i in range(400):
        coef = rng.gauss(0, 10.0)
        noise = np.array([rng.gauss(0, 0.5) for _ in range(d)])
        rows.append((i, (coef * true_v + noise).astype(float).tolist()))
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    v, eig = power_iteration_top(df, "embedding", dim=d, n_iter=8)
    cos = abs(float(np.dot(np.array(v), true_v)))
    assert cos > 0.99
    # eigenvalue ~ N * var(coef) for the dominant direction
    assert eig > 100.0


def test_gram_and_power_paths_agree(spark, sf_dir):
    from seaexplorertools_spark.operators.pca import (
        top_component_df,
        top_component_gram,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    power = {r["dim"]: r["loading"] for r in top_component_df(spark, e, "v", 64).collect()}
    gram = {r["dim"]: r["loading"] for r in top_component_gram(spark, e, "v", 64).collect()}
    assert set(power) == set(gram) == set(range(64))
    # same component, same conventions: agree to the 6-dp output rounding
    for i in range(64):
        assert abs(power[i] - gram[i]) <= 2e-6, (i, power[i], gram[i])

