"""Sequence packing — assign documents to fixed-token-budget training
sequences without a single-reducer prefix sum.

LLM pre-training consumes documents concatenated in a deterministic
order and chunked into fixed-length sequences (e.g. 2048 tokens); the
pack id of a document is ``floor(start_offset / seq_len)`` where
``start_offset`` is the running token total of everything before it in
its group. The naive formulation is one window cumsum per group
(``SUM(tok) OVER (PARTITION BY source ORDER BY doc_id)``) — with a
handful of sources that is a handful of reducers each swallowing a
whole source at 100 TB.

Scalable formulation (same two-phase prefix-sum as ids.assign_dense_ids,
generalized from counts to token sums):

1. ``repartitionByRange`` on (group, order) — globally ordered ranges,
   sampled boundaries, uniform task sizes regardless of group skew;
2. per (physical partition, group) token totals — one row per
   (partition, group) pair, collected to the driver;
3. driver-side prefix sum within each group → per-(partition, group)
   token offsets (tiny: partitions x groups rows, not the data);
4. broadcast the offsets back; each task computes its local cumsum via
   a window keyed by (partition id, group) — every window partition is
   at most one task's slice of one group.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.io import local_frame


def pack_sequences(
    df: DataFrame,
    group_col: str,
    order_cols: Sequence[str],
    token_col: str | Column,
    seq_len: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``start_offset`` (tokens before this row within its group, in
    the total order given by ``order_cols``) and ``pack_id`` =
    ``floor(start_offset / seq_len)``.

    ``order_cols`` must be a total order within each group (include a
    unique tiebreak). ``token_col`` may be a column name or an
    expression (e.g. ``F.size(tokens("text"))``).
    """
    spark = df.sparkSession
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    parts = num_partitions or spark.sparkContext.defaultParallelism
    rp = df.withColumn("__tok", tok.cast("long")).repartitionByRange(
        parts, F.col(group_col), *[F.col(c) for c in order_cols]
    )
    # pin ONE materialization of the range exchange (boundary sampling
    # must not rerun between the offsets pass and the cumsum pass)
    staged = rp.withColumn("__pid", F.spark_partition_id()).localCheckpoint(eager=True)
    sums = staged.groupBy("__pid", group_col).agg(F.sum("__tok").alias("__t")).collect()
    offsets: list[tuple[int, object, int]] = []
    acc: dict[object, int] = {}
    for row in sorted(sums, key=lambda r: (str(r[group_col]), r["__pid"])):
        g = row[group_col]
        offsets.append((row["__pid"], g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + row["__t"]
    off_df = local_frame(
        spark, offsets, staged.select("__pid", group_col).schema.add("__offset", "long")
    )
    w_local = Window.partitionBy("__pid", group_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    return (
        staged.join(F.broadcast(off_df), ["__pid", group_col])
        .withColumn(
            "start_offset",
            (F.col("__offset") + F.sum("__tok").over(w_local) - F.col("__tok")).cast("long"),
        )
        .withColumn(
            # integer DIV, not floor(double/double): start_offset is a
            # nonnegative long, and double arithmetic loses exactness past
            # 2^53 token offsets — DIV on longs is exact for the full range
            "pack_id",
            F.expr(f"CAST(start_offset DIV {int(seq_len)} AS LONG)"),
        )
        .drop("__pid", "__offset", "__tok")
    )


def training_order_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str,
    n_shards: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Seeded deterministic global training-order shuffle (round 14) —
    the standard corpus-prep step between packing and shard writing:
    every epoch consumes documents in a pseudorandom but REPRODUCIBLE
    order, so reruns, resumes and multi-engine audits all see the same
    stream. Order key = ``sha256(seed | id)`` (engine-portable — any
    system with sha256 replays the order; change ``seed`` per epoch);
    ``order_pos`` = dense global rank over that key (the two-phase
    prefix sum from :func:`ids.assign_dense_ids` — no single-reducer
    window); ``shard`` = ``order_pos mod n_shards`` (round-robin
    stripe: equal sizes ±1, each shard itself hash-ordered);
    ``pos_in_shard`` = ``order_pos div n_shards`` (the within-file
    write order). Reading contract: each shard file alone is a
    uniform, hash-ordered 1/n_shards subsample of the epoch (what
    N independent data-loader workers consume); reconstructing the
    EXACT global order requires round-robin interleaving one document
    at a time across the shard files — plain concatenation of shard
    files yields 0, n, 2n, …, 1, n+1, …, NOT the global permutation
    (use a contiguous-block stripe, shard = pos·n/total, if
    concatenation-order is the requirement).

    Scale: one range exchange on the hash key (uniform by
    construction — sha256 output has no skew) + a per-partition-counts
    collect of ``num_partitions`` rows; the shard stripe is a map-side
    expression. Writers follow with
    ``repartition(n_shards, 'shard').sortWithinPartitions('pos_in_shard')``.
    """
    if n_shards < 1:
        raise ValueError("training_order_shuffle needs n_shards >= 1")
    from .ids import assign_dense_ids

    key = F.sha2(
        F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")), 256
    )
    ordered = assign_dense_ids(
        df.withColumn("__okey", key),
        ["__okey", id_col],
        id_col="order_pos",
        num_partitions=num_partitions,
    )
    return (
        ordered.withColumn(
            "shard", (F.col("order_pos") % n_shards).cast("long")
        )
        .withColumn(
            # integer DIV on longs, exact for the full range (same
            # rationale as pack_id above)
            "pos_in_shard",
            F.expr(f"CAST(order_pos DIV {int(n_shards)} AS LONG)"),
        )
        .drop("__okey")
    )
