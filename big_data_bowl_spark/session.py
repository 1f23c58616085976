"""SparkSession builder.

Every plan goes through Catalyst with AQE on: AQE coalesces small
post-shuffle partitions, splits skewed joins and demotes sort-merge
joins to broadcast at runtime. Shuffle partitions are explicit and
environment-tunable, and Arrow is on for the pandas boundaries.
Cached plans may change their output partitioning, so a persisted
table is written and read in as many partitions as its bytes need,
not in ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "big-data-bowl-spark",
    cpus: str | int | None = None,
    shuffle_partitions: str | int | None = None,
) -> SparkSession:
    """Build (or fetch) the local SparkSession.

    On a real cluster these configs move to spark-submit/cluster conf;
    nothing in the engine assumes local mode.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = str(
        shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS") or 32
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of small post-shuffle partitions,
        # skew-join splitting, dynamic sort-merge->broadcast demotion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.shuffle.partitions", shuffle)
        # Arrow for toPandas()/pandas UDF boundaries (similarity, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamps in oracle comparisons.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read it as raw int64 nanos and
        # convert in the loader (sources/io.py) — same truncation DuckDB
        # applies when it casts TIMESTAMP_NS to TIMESTAMP.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()
