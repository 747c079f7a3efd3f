"""SparkSession construction.

Local-mode tuning (tests/bench run on ``local[N]``) plus the settings we
would carry to a real 1000-executor cluster. The graded ``queries()``
callables receive the driver's own session and must not depend on any of
this; these builders exist for tests, bench.py, and demos.

Scale posture (SURVEY.md §4.3): at 100 TB the same logical plans run
unchanged — the knobs that change are cluster-level (executor count,
``spark.sql.shuffle.partitions`` sized to ~128 MB post-shuffle
partitions, AQE left on to coalesce/split at runtime, broadcast
threshold covering the dimension tables).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dwos-spark",
    shuffle_partitions: int | None = None,
    cpus: str | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this workload.

    - AQE on: runtime shuffle-partition coalescing and skew-join splits,
      so a single static ``shuffle.partitions`` works across sf0.001–0.1.
      Streams get no AQE coalescing, so ``streaming/replay.py`` sizes
      their state partitions when a query starts.
    - UTC session timezone: parquet timestamps here are timezone-naive;
      pinning UTC keeps Spark/DuckDB comparisons value-identical.
    - Arrow on: fast toPandas / pandas_udf transfer for the few
      Python-side operators (multimodal stubs, grouped-map demos).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        # Local mode: ~cores beats the 200 default for sub-GB inputs; AQE
        # coalesces further when partitions come out tiny.
        shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("DWOS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
