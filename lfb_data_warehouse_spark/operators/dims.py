"""Dimension-building operators — SURVEY §7.1 module 6.

- :func:`date_spine` — contiguous daily calendar dimension from a date
  range (reference date-dimension.py:36-75: sequence/explode + attribute
  derivations, including the ISO weekday remap — Spark's dayofweek is
  Sunday=1, the warehouse wants Monday=1).
- :func:`collapse_per_key` — one row per key taking, per column, the
  value from the "first" row by a deterministic ordering (reference
  ward-dimension.py:42-46 uses first(ignorenulls) *without* an order —
  nondeterministic under parallelism; we require an order column).
- :func:`latest_per_group` — SCD-style "most recent value wins"
  (reference lfb-cleanse.py:61-66 window-first over desc date).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def date_spine(
    spark: SparkSession,
    start: Column | str,
    end: Column | str,
    date_col: str = "date",
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Daily date dimension over [start, end] with the reference's
    attribute battery (date-dimension.py:51-75). ``start``/``end`` are
    evaluated over the one-row ``bounds`` frame when given (e.g. a lazy
    min/max aggregate), else over a one-row range."""
    lo = F.lit(start).cast("date") if isinstance(start, str) else start.cast("date")
    hi = F.lit(end).cast("date") if isinstance(end, str) else end.cast("date")
    spine = (spark.range(1) if bounds is None else bounds).select(
        F.explode(F.sequence(lo, hi, F.expr("interval 1 day"))).alias(date_col)
    )
    d = F.col(date_col)
    iso_dow = F.when(F.dayofweek(d) == 1, 7).otherwise(F.dayofweek(d) - 1)
    return spine.select(
        d,
        F.year(d).cast("long").alias("year"),
        F.quarter(d).cast("long").alias("quarter"),
        F.month(d).cast("long").alias("month"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.weekofyear(d).cast("long").alias("week_of_year"),
        F.dayofmonth(d).cast("long").alias("day_of_month"),
        iso_dow.cast("long").alias("day_of_week"),
        F.date_format(d, "EEEE").alias("day_name"),
        iso_dow.isin(6, 7).alias("is_weekend"),
    )


def collapse_per_key(
    df: DataFrame,
    key: Sequence[str],
    order_col: str,
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """One row per key; each value column takes the first non-null value
    ordered by ``order_col`` ascending (deterministic A3 collapse).

    Implemented as min_by-style aggregation: ``min(struct(order, value))``
    over non-null values — a single hash aggregate, no window shuffle.
    """
    # order_col may itself be collapsed (min(struct(v, v)) ≡ min(v))
    value_cols = [c for c in (value_cols or df.columns) if c not in key]
    aggs = []
    for c in value_cols:
        pair = F.when(
            F.col(c).isNotNull(), F.struct(F.col(order_col).alias("o"), F.col(c).alias("v"))
        )
        aggs.append(F.min(pair).getField("v").alias(c))
    return df.groupBy(*key).agg(*aggs)


def latest_per_group(
    df: DataFrame,
    key: Sequence[str],
    order_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Keep each group's most-recent row (order_col desc, then tiebreak
    desc) — deterministic W1/W2 top-1."""
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*key).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def scd2_from_history(
    df: DataFrame,
    key: Sequence[str],
    order_col: str,
    attrs: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Build an SCD Type 2 dimension (effective-dated versions) from a
    change-event history.

    Consecutive rows per key whose tracked ``attrs`` are unchanged
    collapse into one version; each surviving change row opens a
    version with ``valid_from`` = its ``order_col``, ``valid_to`` =
    the next version's start (NULL on the current version), and an
    ``is_current`` flag. The reference only needs SCD-style
    latest-value overwrite (lfb-cleanse.py:61-66, W1); this is the full
    slowly-changing-dimension form a warehouse needs for time-travel
    joins (fact.date BETWEEN dim.valid_from AND dim.valid_to — which
    ``interval_join`` then executes scalably).

    Two windows over the same (key, order) partitioning — one shuffle.
    Attribute comparison is null-safe (NULL → NULL is "no change").
    """
    order = [F.col(order_col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*key).orderBy(*order)
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    first_row = F.row_number().over(w) == 1
    versions = df.withColumn("__new_version", first_row | changed).filter("__new_version")
    w2 = Window.partitionBy(*key).orderBy(*order)
    valid_to = F.lead(order_col).over(w2)
    return (
        versions.select(
            *key,
            *attrs,
            F.col(order_col).alias("valid_from"),
            valid_to.alias("valid_to"),
            valid_to.isNull().alias("is_current"),
        )
    )
