"""Distributed global rank (operators/rank.py): exact equality with the
single-partition row_number, determinism across partition counts, the
no-global-window plan property, and the per-partition size guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from seaexplorertools_spark.operators import rank
from seaexplorertools_spark.operators.rank import global_rank


def test_global_rank_matches_naive_row_number(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    order = [F.col("n_chars").desc(), F.col("doc_id")]
    got = global_rank(docs, order, "rank", num_partitions=7)
    naive = docs.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    assert got.exceptAll(naive).count() == 0 and naive.exceptAll(got).count() == 0


def test_global_rank_independent_of_partition_count(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    order = [F.col("n_chars").desc(), F.col("doc_id")]
    a = global_rank(docs, order, "rank", num_partitions=3).orderBy("doc_id").collect()
    b = global_rank(docs, order, "rank", num_partitions=17).orderBy("doc_id").collect()
    assert a == b


def test_global_rank_plan_has_single_shuffle_no_window(spark, sf_dir):
    """Round-10 pin: global_rank's plan contains NO Window node at all
    (local rank = sortWithinPartitions + monotonically_increasing_id's
    low 33 bits) and exactly ONE full-data exchange — the range
    repartition; every other exchange operates on the <= parts-row
    counts/offsets side. The Sort must sit BELOW the id projection
    (a nondeterministic projection the optimizer must not reorder)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    df = global_rank(docs, [F.col("n_chars").desc(), F.col("doc_id")], "rank")
    txt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" not in txt, txt
    assert txt.count("rangepartitioning") == 1, txt
    assert "hashpartitioning(__pid" not in txt.split("InMemoryRelation")[0], txt
    # inside the cached subtree: Project(monotonically_increasing_id)
    # above Sort above Exchange — the sorted-position contract
    cached = txt.split("InMemoryRelation")[1]
    tree = [ln for ln in cached.splitlines() if "(" in ln]
    idx = {
        kind: next(i for i, ln in enumerate(tree) if kind in ln)
        for kind in ("Project", "Sort", "Exchange")
    }
    assert idx["Project"] < idx["Sort"] < idx["Exchange"], cached[:800]


def test_global_rank_guard_single_partition(spark, monkeypatch):
    """The only partition is also the last one, whose count row the
    prefix explode drops: the guard must still see it."""
    monkeypatch.setattr(rank, "LOCAL_RN_BITS", 2)
    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(Exception, match=r"partition 0 holds 10 rows, over the 2\^2 = 4"):
        global_rank(df, ["k"], num_partitions=1).collect()


def test_global_rank_guard_two_partitions(spark, monkeypatch):
    """Two range partitions: filled exactly to the limit the ranks stay
    exact; one row more per partition, the last partition included,
    fails the query."""
    monkeypatch.setattr(rank, "LOCAL_RN_BITS", 2)
    full = spark.range(8).withColumnRenamed("id", "k")
    got = sorted((r["k"], r["rank"]) for r in global_rank(full, ["k"], num_partitions=2).collect())
    assert got == [(i, i + 1) for i in range(8)]
    over = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(Exception, match=r"holds 5 rows, over the 2\^2 = 4"):
        global_rank(over, ["k"], num_partitions=2).collect()


def test_global_cumsum_matches_naive_window(spark, sf_dir):
    from seaexplorertools_spark.operators.rank import global_cumsum

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    got = global_cumsum(docs, ["doc_id"], "n_chars", "cs", num_partitions=7)
    naive = docs.withColumn(
        "cs",
        F.sum("n_chars").over(
            Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert got.exceptAll(naive).count() == 0 and naive.exceptAll(got).count() == 0


def test_global_cumsum_partition_count_independent(spark, sf_dir):
    from seaexplorertools_spark.operators.rank import global_cumsum

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    a = global_cumsum(docs, ["doc_id"], "n_chars", "cs", num_partitions=3).orderBy("doc_id").collect()
    b = global_cumsum(docs, ["doc_id"], "n_chars", "cs", num_partitions=17).orderBy("doc_id").collect()
    assert a == b


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
    parts=st.integers(min_value=1, max_value=9),
)
def test_global_rank_property(spark, vals, parts):
    """Random values (with duplicates) + unique tiebreak: global_rank
    equals the naive single-window row_number for ANY partition count."""
    from seaexplorertools_spark.operators.rank import global_rank

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v long")
    order = [F.col("v"), F.col("i")]
    got = {
        r["i"]: r["rank"]
        for r in global_rank(df, order, "rank", num_partitions=parts).collect()
    }
    naive = {
        i: rank + 1
        for rank, (v, i) in enumerate(sorted((v, i) for i, v in enumerate(vals)))
    }
    assert got == naive


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
    parts=st.integers(min_value=1, max_value=9),
)
def test_global_cumsum_property(spark, vals, parts):
    """Random integer weights keyed by unique order col: global_cumsum
    equals the python prefix sum for ANY partition count."""
    from seaexplorertools_spark.operators.rank import global_cumsum

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v long")
    got = {
        r["i"]: r["cs"]
        for r in global_cumsum(df, ["i"], "v", "cs", num_partitions=parts).collect()
    }
    acc, want = 0, {}
    for i, v in enumerate(vals):
        acc += v
        want[i] = acc
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(min_value=1, max_value=80),
    tiles=st.integers(min_value=1, max_value=7),
    parts=st.integers(min_value=1, max_value=6),
)
def test_global_ntile_property(spark, n, tiles, parts):
    """global_ntile equals the naive window ntile for any N, tile count,
    and partition count — including N < tiles."""
    from seaexplorertools_spark.operators.rank import global_ntile

    df = spark.createDataFrame([(i, (i * 37) % 13) for i in range(n)], "i long, v long")
    order = [F.col("v"), F.col("i")]
    got = {
        r["i"]: r["tile"]
        for r in global_ntile(df, order, tiles, num_partitions=parts).collect()
    }
    naive = {
        r["i"]: r["tile"]
        for r in df.withColumn("tile", F.ntile(tiles).over(Window.orderBy(*order))).collect()
    }
    assert got == naive


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(-100, 100), min_size=1, max_size=50),
    parts=st.integers(min_value=1, max_value=7),
    exclusive=st.booleans(),
)
def test_global_running_max_property(spark, vals, parts, exclusive):
    from seaexplorertools_spark.operators.rank import global_running_max

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v long")
    got = {
        r["i"]: r["mx"]
        for r in global_running_max(
            df, ["i"], "v", "mx", exclusive=exclusive, num_partitions=parts
        ).collect()
    }
    want, run = {}, None
    for i, v in enumerate(vals):
        want[i] = run if exclusive else (v if run is None else max(run, v))
        run = v if run is None else max(run, v)
    assert got == want
