"""Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an ``sf_dir``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
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
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}")
    if name in ("documents", "embeddings"):
        # these arrive as one small parquet file — a single input split
        # would serialize every downstream stage. Fan out to the session's
        # parallelism (at warehouse scale inputs arrive pre-partitioned
        # and this branch is a no-op).
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        cores = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(2, cores // 2):
            df = df.repartition(cores)
        return df
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS) across testdata generations, so branch on the
        # schema Spark actually reads rather than assuming either:
        #   - TIMESTAMP(NANOS): Spark has no ns timestamp type; with
        #     nanosAsLong it arrives as LongType — truncate ns→µs with
        #     integer division (a double division would lose precision at
        #     ~1.7e18) like engines that truncate on read.
        #   - TIMESTAMP(MICROS) without isAdjustedToUTC: arrives as
        #     TIMESTAMP_NTZ — cast to session-tz TIMESTAMP (session tz is
        #     pinned UTC, so the cast is value-preserving).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
