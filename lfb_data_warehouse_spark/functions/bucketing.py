"""Strategy-table → CASE bucketing (SURVEY §2.8).

The reference builds ordinal-label columns by folding ``[lo, hi, label)``
strategy tables into a ``when``-chain (weather-cleanse.py:117-137,
aq-cleanse.py:160-187, wb-cleanse.py:133-155). Two NULL policies exist:
NULL→"Unknown" (weather/aq) and NULL→NULL (well-being).

One generator, :func:`bucketize_sql`, writes the fold as an ANSI-SQL
CASE. The DuckDB oracles embed its text and :func:`bucketize` parses it
(a few Py4J round trips, where a Column-API chain costs about ten per
literal, comparison and branch), so engine and oracle cannot drift. The
CASE is a pure column expression that Catalyst folds into codegen.

Bucket edges are half-open ``lo <= x < hi``; pass ``lo=None`` /
``hi=None`` for unbounded edges. Spark SQL reads an edge such as
``75.0`` as a DECIMAL literal and compares a DOUBLE column with it as
the double ``75.0``.
"""

from __future__ import annotations

import enum
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

Bucket = tuple[float | None, float | None, str]


class NullPolicy(enum.Enum):
    UNKNOWN = "unknown"  # NULL → "Unknown"  (weather/aq variant)
    NULL = "null"  # NULL → NULL      (well-being variant)


def bucketize(
    col: str,
    buckets: Sequence[Bucket],
    null_policy: NullPolicy = NullPolicy.UNKNOWN,
    default: str | None = None,
) -> Column:
    """The strategy table's CASE (:func:`bucketize_sql`) over column
    ``col``, parsed into one Spark column."""
    return F.expr(bucketize_sql(f"`{col}`", buckets, null_policy, default))


def sql_string(s: str) -> str:
    """``s`` as a SQL string literal that Spark SQL and DuckDB read alike.

    A quote is doubled. A backslash is rejected: Spark SQL reads it as an
    escape, DuckDB as itself."""
    if "\\" in s:
        raise ValueError(f"a backslash reads differently in Spark SQL and DuckDB: {s!r}")
    return "'" + s.replace("'", "''") + "'"


def bucketize_sql(col: str, buckets: Sequence[Bucket], null_policy: NullPolicy = NullPolicy.UNKNOWN,
                  default: str | None = None) -> str:
    """The strategy table as one ANSI-SQL CASE over the SQL expression
    ``col``: the engine's column (:func:`bucketize`) and the DuckDB
    oracles' text."""
    parts = ["CASE"]
    if null_policy is NullPolicy.UNKNOWN:
        parts.append(f"WHEN {col} IS NULL THEN 'Unknown'")
    for lo, hi, label in buckets:
        conds = []
        if lo is not None:
            conds.append(f"{col} >= {lo}")
        if hi is not None:
            conds.append(f"{col} < {hi}")
        cond = " AND ".join(conds) if conds else "TRUE"
        parts.append(f"WHEN {cond} THEN {sql_string(label)}")
    parts.append(f"ELSE {'NULL' if default is None else sql_string(default)} END")
    return " ".join(parts)
