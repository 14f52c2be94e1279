"""Surrogate-key generation and sentinel rows (SURVEY §1.2).

The reference derives every dimension key as a content hash —
``sha2(concat_ws("|", cols), 256)`` — so keys are deterministic and
idempotent across incremental loads (ward-dimension.py:23-28,
wb-dimension.py:69-74, aq-cleanse.py:260-265, weather-cleanse.py:164-187).
One site uses NULL-propagating ``concat`` instead
(incident-type-populate.py:51-61) and patches the NULL back to
"Unknown" in the fact load (load_fact.py:162-169); both variants are
exposed here because fact/dimension key parity depends on matching the
exact hash text.

Content-hash keys are the right call at 100 TB: no sequence bottleneck,
no driver round-trip, keys computable independently on any executor.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.io import local_frame
from .bucketing import sql_string

UNKNOWN = "Unknown"
SEP = "|"


def hash_key(*cols: str, sep: str = SEP) -> Column:
    """sha256 over pipe-joined columns; NULLs are skipped (concat_ws).
    One parsed SQL expression: built through the Column API, each column
    would cost Py4J round trips for its reference and its cast."""
    parts = ", ".join(f"CAST(`{c}` AS STRING)" for c in cols)
    return F.expr(f"sha2(concat_ws({sql_string(sep)}, {parts}), 256)")


def hash_key_nullable(*cols: Column | str, sep: str = SEP, patch: str | None = UNKNOWN) -> Column:
    """sha256 over ``concat`` (NULL-propagating): any NULL input → whole
    key NULL, then patched to ``patch`` (reference load_fact.py:162-169).
    Pass ``patch=None`` to keep the NULL."""
    cs = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]
    parts: list[Column] = []
    for i, c in enumerate(cs):
        if i:
            parts.append(F.lit(sep))
        parts.append(c)
    key = F.sha2(F.concat(*parts), 256)
    if patch is not None:
        key = F.coalesce(key, F.lit(patch))
    return key


def sentinel_row(df: DataFrame, key_col: str, defaults: dict[str, object] | None = None) -> DataFrame:
    """Append the "Unknown" sentinel member so fact FKs are never NULL
    (reference appends one to every dimension, e.g. aq-cleanse.py:267-283).

    Builds the row type-driven from the frame's schema (mirrors
    wb-dimension.py:53-66): key column ← "Unknown", string columns ←
    "Unknown", everything else ← NULL unless overridden in ``defaults``.
    """
    fill = {**(defaults or {}), key_col: UNKNOWN}
    row = [
        fill.get(f.name, UNKNOWN if f.dataType.typeName() == "string" else None)
        for f in df.schema.fields
    ]
    return df.unionByName(local_frame(df.sparkSession, [row], df.schema))


def with_hash_id(df: DataFrame, id_col: str, cols: Sequence[str], sep: str = SEP) -> DataFrame:
    """Reference ``add_hash_id`` (ward-dimension.py:23-28) as an operator."""
    return df.withColumn(id_col, hash_key(*cols, sep=sep))
