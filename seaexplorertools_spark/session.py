"""SparkSession factory.

The engine never *requires* its own session — every operator takes the
caller's ``SparkSession``/``DataFrame`` — but this factory pins the configs
the engine is designed around (UTC session timezone so timestamp math
matches a UTC-naive oracle, Arrow for pandas-UDF exchange, AQE for runtime
re-planning, shuffle partitions sized for the local core count).

It also pins ``spark.python.sql.dataFrameDebugging.enabled=false``. With
the flag on (the PySpark 4 default) every ``pyspark.sql.functions`` call
records its Python call site in the JVM for error messages: a stack walk
plus about five py4j round trips per call. Building the shear stage of a
20-dive mission made about 12.3k py4j calls with the flag on and 4.2k
with it off. The price is that a DataFrame error message no longer names
the Python file and line that built the failing expression.
Sessions a caller builds itself keep PySpark's default.

All query code in this package is written ANSI-safe (``nullif`` guards on
divisions, explicit casts) so it behaves identically whether the session
has ``spark.sql.ansi.enabled`` true (Spark 4 default) or false.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "seaexplorertools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet tables from ``sf_dir`` as a dict of DataFrames."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
