"""Connected components — dedup-cluster assignment over near-dup pairs.

A dedup pipeline's pair finders (MinHash/SimHash/embedding LSH) emit
EDGES (doc_a, doc_b); keeping one survivor per *cluster* needs the
transitive closure. :func:`connected_components` takes one of two paths,
chosen by one bounded fetch of at most ``LOCAL_EDGE_CAP + 1`` distinct
edges:

* At or below the cap, the driver labels the fetched edges with
  union-find and sends the labels back as an Arrow-built frame: no
  round, no fixpoint check.
* Above it, alternating large-star/small-star rounds (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC 2014) run in
  DataFrame joins. They converge in O(log n) regardless of component
  DIAMETER, so a chain-shaped dup cluster at 100 TB costs a few dozen
  rounds, not one round per link as min-label propagation would. Each
  round is a handful of shuffles on the node key. The driver takes one
  action per round: a one-row aggregate asking whether the edge set has
  become a star forest. Lineage is truncated by a local checkpoint every
  second round (executor-side, no driver collect).

The cap was measured on a 4-core box in one ``local[4]`` session with
a 2 GB driver heap, timing both paths (input plan, kernel and a noop
write) on random and chain-shaped graphs. At 10k, 100k and 1M edges the
union-find path took 0.19/0.55/4.5 s on random graphs against
2.5/4.3/20.7 s for the star rounds, and 0.17/0.50/3.9 s on chains
against 7.6/17.3/91.8 s. The driver's Python process peaked 2, 13 and
146 MB higher. 100k is the largest of these sizes at which that growth
stays small; at 1M it does not.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.io import local_frame

# Largest distinct-edge count labelled on the driver (measured above).
LOCAL_EDGE_CAP = 100_000


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-LARGER
    neighbors to the minimum of its closed neighborhood."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    # NO distinct here (r14): the only consumer is _small_star, whose
    # per-u min is duplicate-insensitive and whose own output IS
    # distinct'd — so deduping large-star's output paid a full (u, v)
    # shuffle per round for a set the next operator re-derives anyway.
    # The join cannot expand rows (one output row per sym row with
    # v > u), so the multiset stays bounded by |sym|.
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges large→small, then every node
    connects its (all-smaller) neighbors — and itself — to the
    neighborhood minimum. Every output edge points to a strictly
    smaller id."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """Whether every ``u`` has exactly one ``v`` and no ``v`` is also a
    ``u``: per node, out-degree plus an is-a-target flag never exceeds
    1. One action returning one row; an empty set is a star forest."""
    worst = (
        e.selectExpr("u AS n", "1 AS o", "0 AS i")
        .union(e.selectExpr("v AS n", "0 AS o", "1 AS i"))
        .groupBy("n")
        .agg(F.expr("sum(o) + max(i) AS k"))
        .agg(F.max("k"))
        .collect()[0][0]
    )
    return worst is None or worst <= 1


def _label_on_driver(e: DataFrame, head: pa.Table) -> DataFrame:
    """Union-find over the fetched ``(u, v)`` edges, each root the
    minimum id of its set, returned as a local frame of
    ``(node, component)`` in ``u``'s type."""
    parent: dict = {}

    def find(x):
        while (p := parent.setdefault(x, x)) != x:
            parent[x] = x = parent[p]
        return x

    for a, b in zip(head.column("u").to_pylist(), head.column("v").to_pylist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    t = e.schema["u"].dataType.simpleString()
    return local_frame(e.sparkSession, [(n, find(n)) for n in parent], f"node {t}, component {t}")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Assign each node the minimum node id reachable from it.

    ``edges`` is an undirected edge list (each pair once is enough);
    self-loops and edges with a NULL endpoint are dropped. Returns
    ``(node, component)`` — component = min id in the cluster; singleton
    nodes that never appear in an edge are absent (callers left-join and
    coalesce to the node's own id). Both columns keep the node type
    (``src`` and ``dst`` share one).

    Up to ``LOCAL_EDGE_CAP`` distinct edges are labelled on the driver.
    Above it the star rounds run, and the loop stops at the first round
    whose output is a star forest. That test is exact: every small-star
    edge points to a strictly smaller id and the rounds preserve
    connectivity, so each star's centre is its component's minimum."""
    e = (
        edges.selectExpr(f"{src} AS u", f"{dst} AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # lazy: the fetch below materializes the blocks, so the star
        # rounds read them and the upstream pair finders run once
        .localCheckpoint(eager=False)
    )
    # bounded: at most LOCAL_EDGE_CAP + 1 rows
    head = e.limit(LOCAL_EDGE_CAP + 1).toArrow()
    if head.num_rows <= LOCAL_EDGE_CAP:
        return _label_on_driver(e, head)
    for i in range(max_iter):
        e2 = _small_star(_large_star(e))
        # lazy for the same reason: the check is the materializing action
        e2 = e2.localCheckpoint(eager=False) if i % 2 else e2.persist()
        converged = _is_star_forest(e2)
        e.unpersist()
        e = e2
        if converged:
            break
    else:
        e.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # leaves → their centre, plus each centre → itself; the two sets are
    # disjoint because no centre is also a leaf
    leaves = e.selectExpr("u AS node", "v AS component")
    roots = e.selectExpr("v AS node").distinct().selectExpr("node", "node AS component")
    out = leaves.union(roots).localCheckpoint(eager=True)
    e.unpersist()
    return out


# The benchmark's tracer (perfbench/trace.py) wraps each graph name it
# lists via getattr, this one included; without it every traced run
# fails with AttributeError.
connected_components_star = connected_components


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Fold a NEW batch of near-dup edges into an existing component
    labeling without re-deriving pairs over the full corpus — the
    incremental-dedup step a daily 100 TB ingest needs (pair finders
    run new×new and new×old only; this merges their edges with
    yesterday's labels).

    The old ``(node, component)`` labeling IS an edge set (each node —
    its component representative), so the union of labels-as-edges and
    the new edges fed to :func:`connected_components` yields the
    labeling of the merged graph in O(log n) rounds over |new edges| +
    |old nodes| rows — never the original pair graph. Representatives
    stay stable unless a new edge actually bridges clusters (min id
    wins, as in the full recompute — equality with the from-scratch
    labeling is the unit-test contract)."""
    as_edges = labels.selectExpr(f"node AS {src}", f"component AS {dst}")
    merged = as_edges.unionByName(
        new_edges.selectExpr(f"{src} AS {src}", f"{dst} AS {dst}")
    )
    return connected_components(merged, src=src, dst=dst, max_iter=max_iter)
