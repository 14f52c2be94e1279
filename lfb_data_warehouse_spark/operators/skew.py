"""Skew mitigation: salted two-phase aggregation and salted joins.

AQE's skew-join splitting (on by default in the engine session) handles
most runtime skew; these operators are for the cases AQE cannot fix:

- a groupBy where one key holds a double-digit percentage of all rows
  (one reducer owns the key no matter how AQE splits scan partitions) —
  :func:`salted_agg` shards the hot key across ``salt`` reducers with a
  partial aggregate, then combines the shards;
- a shuffle join against a hot key — :func:`salted_join` replicates the
  small side over the salt range so each shard of the hot key joins
  locally.

The salt must be deterministic (tests and oracles replay) but
well-spread: derived by hashing a high-cardinality column, never
``rand()`` (which breaks task retry idempotency — a retried task would
re-salt rows differently and double-count).

Salting is algebra-aware: COUNT recombines by SUM, SUM by SUM, MIN by
MIN, MAX by MAX (AVG must be decomposed to SUM+COUNT by the caller —
an average of partial averages is wrong under skew by construction).

Honest scope note (round 12; BASELINE.md "Hot-key salting crossover",
measured by tools/skew_crossover.py, last held at commit 1e57315): for
exactly the algebraic measures :func:`salted_agg` supports, Spark's
map-side partial aggregation is ALREADY the skew insurance — each map
task pre-combines the hot key to one partial row, so the unsalted
single-exchange plan never inverts at any amplification (ratio flat
1.6-2.1x from 100k to 10.2M hot rows). Use :func:`salted_agg` only
when partial aggregation is defeated (wide group-state, spilling map
hash); the operators that earn the second exchange on measurement are
:func:`salted_collect_set` (holistic state — crossover ~4-5M hot rows,
0.62x at 10.2M) and :func:`salted_join`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_RECOMBINE = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}

_PARTIAL = {
    "count": F.count,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


def salt_column(spread_col: Column | str, buckets: int) -> Column:
    """Deterministic salt in [0, buckets): hash of a high-cardinality
    column. xxhash64 is Spark-side only — fine, because results of
    salted operators are salt-invariant (the salt never reaches the
    output)."""
    c = F.col(spread_col) if isinstance(spread_col, str) else spread_col
    return F.pmod(F.xxhash64(c), F.lit(buckets)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    measures: Sequence[tuple[str, str, str]],
    spread_col: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    ``measures`` is (column, fn, alias) with fn ∈ {count,sum,min,max}.
    Phase 1 aggregates on (keys, salt) — the hot key's rows split
    across ``buckets`` reducers; phase 2 combines the ≤ buckets partial
    rows per key. Output is identical to the unsalted groupBy (the
    oracle for any salted query is the plain GROUP BY).
    """
    for _, fn, _ in measures:
        if fn not in _PARTIAL:
            raise ValueError(f"non-decomposable aggregate {fn!r} (decompose avg to sum+count)")
    salted = df.withColumn("_salt", salt_column(spread_col, buckets))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[_PARTIAL[fn](col).alias(alias) for col, fn, alias in measures]
    )
    return partial.groupBy(*keys).agg(
        *[_RECOMBINE[fn](alias).alias(alias) for _, fn, alias in measures]
    )


def salted_collect_set(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    alias: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase distinct-collect for skewed keys — the shape where
    salting actually earns its second exchange.

    Unlike the algebraic measures (see module docstring: map-side
    combine already collapses those to one partial row per map task),
    a collect_set's partial state is proportional to the key's DATA —
    the unsalted plan's one hot reducer must merge every map task's
    set for the hot key. Phase 1 here collects per (keys, salt-of-
    value): the hot key's set merge spreads over ``buckets`` reducers,
    each deduplicating a disjoint value shard; phase 2 flattens the
    ≤ buckets pre-shrunk arrays per key (shards are disjoint by
    construction — the salt is a hash OF THE VALUE — so the flatten
    needs no re-dedup). Output equals the unsalted
    ``collect_set(value)`` up to array order; sort before comparing.

    Measured crossover (BASELINE.md "Hot-key salting crossover", sf0.1
    events, hot key amplified with distinct values scaling): naive wins below ~2.5M
    hot rows, salted wins from ~4-5M (0.62x at 10.2M rows / 780k
    distinct values) — at 100 TB every skewed key is deep inside the
    salted win regime."""
    salted = df.withColumn("_salt", salt_column(value_col, buckets))
    partial = salted.groupBy(*keys, "_salt").agg(
        F.collect_set(value_col).alias(alias)
    )
    return partial.groupBy(*keys).agg(
        F.flatten(F.collect_list(alias)).alias(alias)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    spread_col: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Shuffle join with the big side's hot keys sharded: the big side
    gets a salt from ``spread_col``; the small side is replicated once
    per salt value (explode over 0..buckets-1), so the join keys become
    (on..., salt) and the hot key spreads over ``buckets`` tasks.

    Use when the small side is too large to broadcast but the key
    distribution is pathological. Output equals ``big.join(small, on,
    how)`` for how ∈ {inner, left}.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (semantics proven salt-invariant)")
    salted_big = big.withColumn("_salt", salt_column(spread_col, buckets))
    replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<int>"))
    )
    return salted_big.join(replicated, [*on, "_salt"], how).drop("_salt")


def skew_audit(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Measure key skew BEFORE choosing a shuffle strategy — the
    decision input for :func:`salted_agg` / :func:`salted_join` /
    AQE-only. One row of distribution stats over the key's row counts:
    top-1 key share (the fraction one reducer would own), p50/p99
    per-key counts, and the max/p50 ratio (heavy-tail indicator).

    Rule of thumb encoded downstream: top1_share above ~1/shuffle
    partitions means AQE cannot balance the hot key by splitting scan
    partitions — salt it. The audit is one count aggregate plus a
    6-row reduction over the (bounded, one row per key) count table,
    so it is safe to run inline before a 100 TB shuffle."""
    counts = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        F.percentile("cnt", F.lit(0.5)).alias("p50_cnt"),
        F.percentile("cnt", F.lit(0.99)).alias("p99_cnt"),
    ).select(
        "n_keys",
        "total_rows",
        "max_cnt",
        "p50_cnt",
        "p99_cnt",
        F.round(F.col("max_cnt").cast("double") / F.col("total_rows"), 6).alias(
            "top1_share"
        ),
        F.round(F.col("max_cnt").cast("double") / F.col("p50_cnt"), 6).alias(
            "max_over_p50"
        ),
    )
