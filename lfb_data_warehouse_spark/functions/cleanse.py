"""Cleansing scrubs (SURVEY §2.2 P5-P7, §7.1 module 2).

Parameterized versions of the reference's inline cleanup passes
(lfb-cleanse.py, aq-cleanse.py): string-sentinel→NULL, zero→NULL,
linked-column scrub, initcap standardization, and single-pass z-score
outlier removal.

The reference computes per-column mean/stddev with one ``collect()`` per
column inside a loop (aq-cleanse.py:136-139 — 8 eager jobs before the
write). :func:`zscore_scrub` computes all column statistics in ONE
aggregate pass and applies the scrubs lazily — at 100 TB that is the
difference between 1 scan and N scans of the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_sentinels(df: DataFrame, sentinel: str = "NULL", subset: Sequence[str] | None = None) -> DataFrame:
    """Replace literal sentinel strings with real NULLs
    (reference lfb-cleanse.py:33 ``df.replace("NULL", None)``)."""
    return df.replace(sentinel, None, subset=list(subset) if subset else None)


def zero_to_null(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """0 used as fake-NULL → NULL (reference lfb-cleanse.py:44, USRN)."""
    return df.withColumns({c: F.when(F.col(c) == 0, None).otherwise(F.col(c)) for c in cols})


def linked_scrub(df: DataFrame, guard: Column, cols: Sequence[str]) -> DataFrame:
    """NULL-out a set of columns when a guard condition holds (reference
    lfb-cleanse.py:50-55: Latitude==0 ⇒ both Latitude and Longitude→NULL)."""
    return df.withColumns({c: F.when(guard, None).otherwise(F.col(c)) for c in cols})


def standardize_names(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """initcap standardization (reference lfb-cleanse.py:58)."""
    return df.withColumns({c: F.initcap(F.col(c)) for c in cols})


def mad_scrub_grouped(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    threshold: float = 3.5,
    consistency: float = 0.6745,
) -> DataFrame:
    """Robust (median/MAD) per-group outlier scrub: NULL-out values with
    ``|x - median| > threshold * MAD / consistency`` within their group.

    The robust sibling of :func:`zscore_scrub` (reference
    aq-cleanse.py:123-157 uses mean/stddev): median and MAD have a 50%
    breakdown point, so heavy outliers cannot drag the statistics that
    decide their own removal. ``consistency`` = 0.6745 rescales MAD to
    a normal-equivalent sigma (the modified z-score of Iglewicz & the
    classic 3.5 cutoff).

    Scale shape: two grouped exact-percentile passes over (group, value)
    pairs, then ONE broadcast join back — group cardinality is small by
    construction (a scrub keyed on a category column), so the stats
    frame broadcasts and the scrub itself is a map-only pass over the
    fact. At 100 TB swap ``F.percentile`` for ``percentile_approx``
    (mergeable t-digest) without touching the join shape.

    Returns the input with ``value_col`` scrubbed plus ``{value_col}_med``
    and ``{value_col}_mad`` stat columns (constant per group).
    """
    gc = list(group_cols)
    med_col, mad_col = f"{value_col}_med", f"{value_col}_mad"
    med = df.groupBy(*gc).agg(F.percentile(value_col, F.lit(0.5)).alias(med_col))
    mad = (
        df.join(F.broadcast(med), gc)
        .groupBy(*gc)
        .agg(F.percentile(F.abs(F.col(value_col) - F.col(med_col)), F.lit(0.5)).alias(mad_col))
    )
    stats = med.join(mad, gc)
    cutoff = F.lit(threshold) * F.col(mad_col) / F.lit(consistency)
    return df.join(F.broadcast(stats), gc).withColumn(
        value_col,
        F.when(F.abs(F.col(value_col) - F.col(med_col)) > cutoff, None).otherwise(F.col(value_col)),
    )


def zscore_scrub(df: DataFrame, cols: Sequence[str], threshold: float = 3.0) -> DataFrame:
    """NULL-out values with |z| > threshold, all columns in one stats pass.

    Mean/stddev are derived from exact DECIMAL sums (sum, sum-of-squares)
    so the statistics — and therefore which rows get scrubbed — are
    deterministic and order-independent (see functions.exact). The
    reference recomputes stats per column with eager collects
    (aq-cleanse.py:123-157); here a single aggregate row feeds every
    scrub expression.
    """
    aggs = []
    for c in cols:
        # decimal(19,4): d*d → decimal(38,8) stays exact on both Spark and
        # the DuckDB oracle (wider inputs overflow the 38-digit limit,
        # narrower ones overflow DuckDB's int64 decimal storage)
        d = F.col(c).cast("decimal(19,4)")
        aggs += [
            F.sum(d).alias(f"__sum_{c}"),
            F.sum(d * d).alias(f"__ssq_{c}"),
            F.count(F.col(c)).alias(f"__n_{c}"),
        ]
    stats = df.agg(*aggs).collect()[0]
    scrubs = {}
    for c in cols:
        n = stats[f"__n_{c}"]
        if not n or n < 2:
            continue
        s = float(stats[f"__sum_{c}"])
        ssq = float(stats[f"__ssq_{c}"])
        mean = s / n
        var = (ssq - n * mean * mean) / (n - 1)
        std = var**0.5 if var > 0 else 0.0
        if std == 0.0:
            continue
        z = (F.col(c) - F.lit(mean)) / F.lit(std)
        scrubs[c] = F.when(F.abs(z) > threshold, None).otherwise(F.col(c))
    return df.withColumns(scrubs)
