"""Dense global ID assignment without a single-reducer sort.

The naive ``row_number() OVER (ORDER BY key)`` puts the entire table
through ONE window partition — a single reducer at 100 TB. The scalable
formulation:

1. ``repartitionByRange`` on the order key — rows land in globally
   ordered, roughly equal ranges (sampled boundaries);
2. count rows per partition (tiny aggregate: one row per partition);
3. prefix-sum those counts into per-partition offsets (driver-side —
   one row per partition, not the data);
4. broadcast the offsets back and add the partition-local
   ``row_number``.

The result equals the global ``row_number() - 1`` (which is exactly
what the DuckDB oracle asserts), but no task ever sees more than one
partition of data. ``monotonically_increasing_id`` is the cheaper
alternative when ids only need to be unique, not dense or
order-aligned.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.io import local_frame


def assign_dense_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "dense_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = 0-based dense rank of the row in the total order
    given by ``order_cols`` (which must be a total order — include a
    unique tiebreak column)."""
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    rp = df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
    # localCheckpoint pins ONE materialization of the range exchange:
    # the boundary sampling runs once, so the counts pass and the id
    # pass below see identical partitions (two independent evaluations
    # of repartitionByRange may sample different boundaries, silently
    # duplicating/skipping ids). Blocks are GC-managed, not
    # caller-unpersisted.
    with_pid = rp.withColumn("__pid", F.spark_partition_id()).localCheckpoint(eager=True)
    counts = sorted(
        (r["__pid"], r["__n"])
        for r in with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = local_frame(spark, offsets, "__pid int, __offset long")
    w_local = Window.partitionBy("__pid").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        with_pid.join(F.broadcast(off_df), "__pid")
        .withColumn(id_col, (F.col("__offset") + F.row_number().over(w_local) - 1).cast("long"))
        .drop("__pid", "__offset")
    )
