"""stage_boundary (pipeline/fleet.py): rows identical, lineage replaced by
a flat checkpointed scan."""

from pyspark.sql import functions as F

from seaexplorertools_spark.pipeline import stage_boundary


def test_stage_boundary_truncates_and_preserves_rows(spark):
    df = (
        spark.range(200)
        .select(F.col("id"), (F.col("id") * 3.5).alias("v"))
        .filter(F.col("id") % 2 == 0)
    )
    cut = stage_boundary(df)
    assert sorted(r["v"] for r in cut.collect()) == sorted(
        r["v"] for r in df.collect()
    )
    plan = cut._jdf.queryExecution().analyzed().toString()
    assert "Range" not in plan and "Filter" not in plan
