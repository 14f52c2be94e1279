"""SparkSession factory tuned for the engine.

The reference configures Spark per-job through an Airflow conf dict
(/root/reference/airflow/main-dw-project.py:20-47: AQE on, coalesce
partitions, skew-join, Kryo, Arrow). We keep the useful parts, drop the
benchmarking artifacts (it disables shuffle compression), and pin the
session timezone to UTC so timestamps compare exactly against UTC-naive
engines (DuckDB oracle, Parquet logical types).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "lfb_data_warehouse_spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults target local[N] testing but every knob is the one you would
    set on a real cluster: AQE handles runtime partition coalescing and
    skew joins, shuffle partitions sized to available parallelism, Arrow
    enabled for the Pandas-UDF slow path.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces a persisted frame's partitions as it does an
        # uncached plan's: the warehouse fact is written as 1 file, not 4
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
