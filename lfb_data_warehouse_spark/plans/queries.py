"""Query/oracle registry — the engine's enumerable query surface.

Every operator from SURVEY.md §2 (plus the large-scale data-pipeline
operators) is exposed here as a named query over the driver's TPC-H-ish
test tables, paired with an ANSI-SQL oracle that DuckDB runs on the same
parquet. The driver compares row count + schema + order-insensitive
value hash at sf0.01 (CORRECTNESS_r{N}.json).

Determinism rules (so value hashes match bit-for-bit):
- every aggregate over floats goes through exact DECIMAL arithmetic and
  is cast back to DOUBLE (functions.exact) — order-independent;
- every computed column is explicitly cast to one of
  {string, bigint, double, date, timestamp, boolean} on BOTH sides;
- every window/top-k has a total order (explicit tiebreak columns);
- shared lookup tables (bucket strategies, hash salts, stopword lists)
  generate both the Spark expression and the oracle SQL from one source.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.bucketing import bucketize, bucketize_sql
from ..functions.exact import avg_exact, scale_to_long, sum_exact, sum_scaled, unscale
from ..functions.keys import hash_key, hash_key_nullable, sentinel_row, with_hash_id
from ..operators.agg import pivot_agg, rollup_mart
from ..operators.checks import profile, referential_orphans
from ..operators.dims import collapse_per_key, date_spine, latest_per_group
from ..operators.incremental import incremental_new_rows
from ..operators.temporal import nearest_within
from ..operators.topk import top_k_per_group
from ..sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None
    headline: bool = False  # included in bench.py's headline set


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, headline: bool = False):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


DEC = "decimal(18,2)"
SUM_DEC = "CAST(SUM(CAST({x} AS DECIMAL(18,2))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# A1/O1 — rollup marts (reference load_sample_aggregates.py:28-43 et al.)
# ---------------------------------------------------------------------------

@register(
    "mart_per_month",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           strftime(o_orderdate, '%Y-%m') AS year_month,
           COUNT(*) AS order_count,
           {SUM_DEC.format(x='o_totalprice')} AS total_price,
           {SUM_DEC.format(x='o_totalprice')} / COUNT(o_totalprice) AS avg_price
    FROM orders
    GROUP BY 1, 2, 3
    """,
    headline=True,
)
def mart_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month mart (reference analytics.per_month shape)."""
    orders = load_table(spark, sf_dir, "orders")
    return rollup_mart(
        orders,
        keys=[
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
            F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
        ],
        measures=[
            F.count(F.lit(1)).alias("order_count"),
            sum_exact("o_totalprice").alias("total_price"),
            avg_exact("o_totalprice").alias("avg_price"),
        ],
        order_by=["order_year", "order_month"],
    )


@register(
    "mart_per_segment",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS order_count,
           COUNT(DISTINCT o_custkey) AS customer_count,
           {SUM_DEC.format(x='o_totalprice')} AS total_price,
           {SUM_DEC.format(x='o_totalprice')} / COUNT(o_totalprice) AS avg_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    headline=True,
)
def mart_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment mart over a broadcast dimension join (analytics.per_ward
    shape — dim side broadcast, zero shuffle of the fact)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    return rollup_mart(
        joined,
        keys=["c_mktsegment"],
        measures=[
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("o_custkey").alias("customer_count"),
            sum_exact("o_totalprice").alias("total_price"),
            avg_exact("o_totalprice").alias("avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        ],
    )


@register(
    "mart_types_per_segment",
    oracle=f"""
    SELECT c_mktsegment, o_orderpriority,
           COUNT(*) AS order_count,
           {SUM_DEC.format(x='o_totalprice')} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
    """,
)
def mart_types_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key mart (analytics.types_per_ward shape)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    return rollup_mart(
        joined,
        keys=["c_mktsegment", "o_orderpriority"],
        measures=[
            F.count(F.lit(1)).alias("order_count"),
            sum_exact("o_totalprice").alias("total_price"),
        ],
    )


# ---------------------------------------------------------------------------
# A2 — pivot aggregate (reference aq-cleanse.py:214-219)
# ---------------------------------------------------------------------------

PRIORITIES = {
    "1-URGENT": "urgent",
    "2-HIGH": "high",
    "3-MEDIUM": "medium",
    "4-NOT SPECIFIED": "not_specified",
    "5-LOW": "low",
}


def _pivot_oracle() -> str:
    cols = []
    for val, short in PRIORITIES.items():
        s = f"CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderpriority = '{val}') AS DOUBLE)"
        n = f"COUNT(o_totalprice) FILTER (o_orderpriority = '{val}')"
        cols.append(f"{s} / {n} AS avg_{short}")
    return (
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, "
        + ", ".join(cols)
        + " FROM orders GROUP BY 1"
    )


@register("pivot_priority_by_year", oracle=_pivot_oracle(), headline=True)
def pivot_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with a FIXED value list (schema-stable, and Spark
    skips the distinct-values pre-job — one aggregate total)."""
    orders = load_table(spark, sf_dir, "orders")
    piv = pivot_agg(
        orders.select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            "o_orderpriority",
            "o_totalprice",
        ),
        key=["order_year"],
        pivot_col="o_orderpriority",
        values=list(PRIORITIES),
        agg=F.struct(
            # pivot demands bare aggregates: exact scaled total + count,
            # divided back down after the pivot (functions.exact.unscale)
            sum_scaled("o_totalprice").alias("s"),
            F.count("o_totalprice").alias("n"),
        ),
    )
    cols = [F.col("order_year")]
    for val, short in PRIORITIES.items():
        cols.append(
            (unscale(F.col(f"`{val}`").getField("s")) / F.col(f"`{val}`").getField("n")).alias(f"avg_{short}")
        )
    return piv.select(*cols)


# ---------------------------------------------------------------------------
# A3 — deterministic first-per-key collapse (reference ward-dimension.py:42-46)
# ---------------------------------------------------------------------------

@register(
    "dim_collapse_first",
    oracle="""
    SELECT c_nationkey,
           arg_min(c_name, c_custkey) AS first_name,
           arg_min(c_acctbal, c_custkey) AS first_acctbal
    FROM customer
    GROUP BY 1
    """,
)
def dim_collapse_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-non-null per key with a deterministic order (the reference's
    unordered first(ignorenulls) is nondeterministic under parallelism —
    SURVEY §7.4). Single hash aggregate, no window shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    out = collapse_per_key(
        customer, key=["c_nationkey"], order_col="c_custkey", value_cols=["c_name", "c_acctbal"]
    )
    return out.select(
        "c_nationkey",
        F.col("c_name").alias("first_name"),
        F.col("c_acctbal").alias("first_acctbal"),
    )


# ---------------------------------------------------------------------------
# W1/W2 — latest-per-group, top-k (reference lfb-cleanse.py:61-66,
# load_fact.py:278-290)
# ---------------------------------------------------------------------------

@register(
    "scd_latest_order",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def scd_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-style most-recent-row-wins per key, deterministic tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    return latest_per_group(orders, key=["o_custkey"], order_col="o_orderdate", tiebreak="o_orderkey").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )


@register(
    "scd2_customer_priority",
    oracle="""
    WITH h AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               lag(o_orderpriority) OVER w AS prev,
               row_number() OVER w AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    versions AS (
        SELECT * FROM h WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
    )
    SELECT o_custkey, o_orderpriority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           lead(o_orderdate) OVER w2 IS NULL AS is_current
    FROM versions
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build: each customer's order-priority
    history collapsed into effective-dated versions (valid_from /
    valid_to / is_current). The full slowly-changing form behind the
    reference's latest-value-only W1 window; versioned dims then join
    facts by date range via interval_join."""
    from ..operators.dims import scd2_from_history

    orders = load_table(spark, sf_dir, "orders")
    return scd2_from_history(
        orders,
        key=["o_custkey"],
        order_col="o_orderdate",
        attrs=["o_orderpriority"],
        tiebreak="o_orderkey",
    )


@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH h AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               lag(o_orderpriority) OVER w AS prev,
               row_number() OVER w AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    versions AS (
        SELECT o_custkey, o_orderpriority AS effective_priority,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        FROM h WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, v.effective_priority,
           v.valid_to IS NULL AS from_current_version
    FROM orders o JOIN versions v
      ON o.o_custkey = v.o_custkey
     AND o.o_orderdate >= v.valid_from
     AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-travel join: every order enriched with the dimension
    version that was effective ON ITS DATE — scd2_from_history builds
    the half-open [valid_from, valid_to) versions, interval_join
    executes the range predicate as a bucketed equi-join (open-ended
    current versions closed at the global max date, end shifted 1 µs
    for half-open semantics). This is the composition the SCD2 and
    interval-join operators exist for."""
    from ..operators.dims import scd2_from_history
    from ..operators.temporal import interval_join

    orders = load_table(spark, sf_dir, "orders")
    versions = scd2_from_history(
        orders,
        key=["o_custkey"],
        order_col="o_orderdate",
        attrs=["o_orderpriority"],
        tiebreak="o_orderkey",
    ).select(
        F.col("o_custkey").alias("v_custkey"),
        F.col("o_orderpriority").alias("effective_priority"),
        "valid_from",
        "valid_to",
        "is_current",
    )
    max_date = orders.agg(F.max("o_orderdate").alias("__max_date"))
    closed = versions.crossJoin(F.broadcast(max_date)).withColumn(
        "valid_end",
        F.coalesce(F.col("valid_to"), F.col("__max_date") + F.expr("INTERVAL 1 DAY"))
        - F.expr("INTERVAL 1 MICROSECOND"),
    ).drop("__max_date")
    points = orders.select("o_orderkey", F.col("o_custkey").alias("v_custkey"), "o_orderdate")
    joined = interval_join(
        points,
        closed,
        point_ts="o_orderdate",
        start_ts="valid_from",
        end_ts="valid_end",
        on=["v_custkey"],
        granularity_sec=90 * 86400,
    )
    return joined.select(
        "o_orderkey",
        F.col("v_custkey").alias("o_custkey"),
        "o_orderdate",
        "effective_priority",
        F.col("is_current").alias("from_current_version"),
    )


@register(
    "incremental_mart_update",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           o_orderpriority,
           COUNT(*) AS order_count,
           {SUM_DEC.format(x='o_totalprice')} AS total_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY 1, 2
    """,
)
def incremental_mart_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental mart maintenance: the mart is materialized from
    history (< 1998), then a delta batch (≥ 1998) is folded in WITHOUT
    rescanning history — algebraic recombine (COUNT/SUM by SUM, MIN by
    MIN, MAX by MAX). The oracle is the full recompute over all rows:
    incremental maintenance must be indistinguishable from it."""
    from ..operators.incremental import merge_mart

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    keyed = orders.select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderpriority",
        "o_totalprice",
        F.col("o_totalprice").cast(DEC).alias("price_dec"),
        "o_orderdate",
    )
    measures = [
        ("o_totalprice", "count", "order_count"),
        ("price_dec", "sum", "total_price_dec"),
        ("o_totalprice", "min", "min_price"),
        ("o_totalprice", "max", "max_price"),
    ]
    history = keyed.filter(F.col("o_orderdate") < cutoff)
    delta = keyed.filter(F.col("o_orderdate") >= cutoff)
    existing_mart = history.groupBy("order_year", "o_orderpriority").agg(
        F.count("o_totalprice").alias("order_count"),
        F.sum("price_dec").alias("total_price_dec"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    merged = merge_mart(existing_mart, delta, keys=["order_year", "o_orderpriority"], measures=measures)
    return merged.select(
        "order_year",
        "o_orderpriority",
        F.col("order_count").cast("long").alias("order_count"),
        F.col("total_price_dec").cast("double").alias("total_price"),
        "min_price",
        "max_price",
    )


@register(
    "topk_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_name, p_retailprice,
           CAST(row_number() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rank
    FROM part
    QUALIFY rank <= 5
    """,
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    out = top_k_per_group(
        part,
        group=["p_brand"],
        order_by=[F.col("p_retailprice").desc(), F.col("p_partkey").asc()],
        k=5,
    )
    return out.select(
        "p_brand", "p_partkey", "p_name", "p_retailprice", F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# J4/J5 — left joins with sentinel coalesce (reference load_fact.py:181-204,
# 329-336)
# ---------------------------------------------------------------------------

@register(
    "join_enrich_brand_revenue",
    oracle="""
    SELECT COALESCE(p_brand, 'Unknown') AS brand,
           COUNT(*) AS item_count,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
    headline=True,
)
def join_enrich_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact←dimension enrichment: broadcast left join + Unknown coalesce
    (the reference's post-join FK pattern), then rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"), "left"
    )
    return joined.groupBy(F.coalesce("p_brand", F.lit("Unknown")).alias("brand")).agg(
        F.count(F.lit(1)).alias("item_count"),
        sum_exact(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "decimal(18,4)"
        ).alias("revenue"),
    )


@register(
    "join_composite_customer_year",
    oracle=f"""
    WITH cy AS (
        SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS order_year,
               {SUM_DEC.format(x='o_totalprice')} AS cy_total,
               COUNT(*) AS cy_orders
        FROM orders GROUP BY 1, 2
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           cy.cy_total, cy.cy_orders
    FROM orders o
    LEFT JOIN cy ON o.o_custkey = cy.o_custkey
               AND CAST(year(o.o_orderdate) AS BIGINT) = cy.order_year
    """,
)
def join_composite_customer_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key left join (reference well-being join on
    (WardCode, YearOfCall), load_fact.py:329-336)."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.withColumn("order_year", F.year("o_orderdate").cast("long"))
    cy = keyed.groupBy("o_custkey", "order_year").agg(
        sum_exact("o_totalprice").alias("cy_total"),
        F.count(F.lit(1)).alias("cy_orders"),
    )
    return keyed.join(cy, on=["o_custkey", "order_year"], how="left").select(
        "o_orderkey", "o_custkey", "order_year", "cy_total", "cy_orders"
    )


# ---------------------------------------------------------------------------
# J1/J3 — incremental anti-join, referential integrity
# (reference lfb-extract.py:36-47, ref-int-load-check.py)
# ---------------------------------------------------------------------------

@register(
    "incremental_new_orders",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderkey % 3 <> 0
    """,
)
def incremental_new_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change detection: staged ∖ existing on the natural key — the
    idempotent at-least-once upsert core."""
    orders = load_table(spark, sf_dir, "orders")
    staged = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    existing = orders.filter(F.col("o_orderkey") % 3 == 0)
    return incremental_new_rows(staged, existing, keys=["o_orderkey"]).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


@register(
    "cdc_merge_orders",
    oracle="""
    WITH snap AS (
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, o_orderpriority
        FROM orders
    ), ch AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               o_totalprice + 1000.0 AS o_totalprice, o_orderpriority,
               CAST(1 AS BIGINT) AS seq, 'U' AS op
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderdate,
               o_totalprice + 500.0, o_orderpriority, 1, 'U'
        FROM orders WHERE o_orderkey % 10 = 5
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderdate,
               o_totalprice + 900.0, o_orderpriority, 2, 'U'
        FROM orders WHERE o_orderkey % 10 = 5
        UNION ALL
        SELECT o_orderkey, NULL, NULL, NULL, NULL, 1, 'D'
        FROM orders WHERE o_orderkey % 10 = 7
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_orderdate,
               99.99, '9-BACKFILL', 1, 'I'
        FROM orders WHERE o_orderkey % 10 = 9
    ), latest AS (
        SELECT * FROM ch
        QUALIFY row_number() OVER (
            PARTITION BY o_orderkey
            ORDER BY seq DESC, CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC, op
        ) = 1
    )
    SELECT s.o_orderkey, s.o_custkey, s.o_orderdate, s.o_totalprice, s.o_orderpriority
    FROM snap s
    WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = s.o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, o_orderpriority
    FROM latest WHERE op <> 'D'
    """,
)
def cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (Delta ``MERGE INTO`` semantics, no Delta needed): a
    deterministic change batch — updates (keys ≡3 mod 10), conflicting
    same-key updates where the higher sequence must win (≡5), deletes
    (≡7), inserts of brand-new keys (≡9 shifted) — applied to the
    orders snapshot via ``operators/cdc.py``. The snapshot is never
    shuffled: latest-per-key windows the BATCH only, and the snapshot
    sees one broadcast anti-join plus a union."""
    from ..operators.cdc import apply_changes

    cols = ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority"]
    snap = load_table(spark, sf_dir, "orders").select(*cols)

    def batch(mod: int, price_delta, seq: int, op: str) -> DataFrame:
        src = snap.filter(F.col("o_orderkey") % 10 == mod)
        if op == "D":
            return src.select(
                "o_orderkey",
                *[F.lit(None).cast(snap.schema[c].dataType).alias(c) for c in cols[1:]],
                F.lit(seq).cast("long").alias("seq"),
                F.lit(op).alias("op"),
            )
        if op == "I":
            return src.select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_custkey",
                "o_orderdate",
                F.lit(99.99).alias("o_totalprice"),
                F.lit("9-BACKFILL").alias("o_orderpriority"),
                F.lit(seq).cast("long").alias("seq"),
                F.lit(op).alias("op"),
            )
        return src.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            (F.col("o_totalprice") + F.lit(price_delta)).alias("o_totalprice"),
            "o_orderpriority",
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
        )

    changes = (
        batch(3, 1000.0, 1, "U")
        .unionByName(batch(5, 500.0, 1, "U"))
        .unionByName(batch(5, 900.0, 2, "U"))
        .unionByName(batch(7, None, 1, "D"))
        .unionByName(batch(9, None, 1, "I"))
    )
    return apply_changes(snap, changes, keys=["o_orderkey"], seq_col="seq", op_col="op")


@register(
    "reconcile_order_snapshots",
    oracle=f"""
    WITH yday AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
    ), today AS (
        SELECT o_orderkey,
               o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 10.0 ELSE 0.0 END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0
    ), diff AS (
        SELECT COALESCE(y.o_orderkey, t.o_orderkey) AS o_orderkey,
               CASE WHEN y.o_orderkey IS NULL THEN 'added'
                    WHEN t.o_orderkey IS NULL THEN 'removed'
                    WHEN y.o_totalprice <> t.o_totalprice THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(abs(t.o_totalprice - y.o_totalprice), 0.0) AS drift
        FROM yday y FULL OUTER JOIN today t ON y.o_orderkey = t.o_orderkey
    )
    SELECT status, COUNT(*) AS key_count,
           {SUM_DEC.format(x='drift')} AS total_drift
    FROM diff GROUP BY 1
    """,
)
def reconcile_order_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: FULL OUTER join of two table versions on
    the natural key, each row classified added / removed / changed /
    unchanged, with the absolute value drift summed per class. The one
    shuffle (both sides on the key) is irreducible for a full diff;
    with both snapshots bucket-written on the key it disappears (the
    engine proves that layout in ``bucketed_join_colocated``)."""
    orders = load_table(spark, sf_dir, "orders")
    yday = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("y_key"), F.col("o_totalprice").alias("y_price")
    )
    today = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("t_key"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, F.lit(10.0)).otherwise(F.lit(0.0))
        ).alias("t_price"),
    )
    diff = yday.join(today, yday.y_key == today.t_key, "full_outer").select(
        F.when(F.col("y_key").isNull(), "added")
        .when(F.col("t_key").isNull(), "removed")
        .when(F.col("y_price") != F.col("t_price"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.abs(F.col("t_price") - F.col("y_price")), F.lit(0.0)).alias("drift"),
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("key_count"),
        sum_exact("drift").alias("total_drift"),
    )


@register(
    "bloom_semijoin_revenue",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           COUNT(*) AS line_count,
           {SUM_DEC.format(x='l_extendedprice')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995
    GROUP BY 1
    """,
)
def bloom_semijoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime bloom filter (operators/bloomjoin.py): the
    selective dimension subquery (urgent 1995 orders, ~0.5% of keys)
    builds a broadcast bitmap; the fact scan discards non-partner rows
    map-side BEFORE the join shuffle, then the exact join removes the
    bounded false-positive tail. Same algebra Spark's InjectRuntimeFilter
    applies when thresholds allow; here it is explicit, always-on, and
    built from public expressions only."""
    from ..operators.bloomjoin import bloom_build, bloom_prune

    dim = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.year("o_orderdate") == 1995))
        .select("o_orderkey", "o_orderdate")
    )
    bloom = bloom_build(dim, "o_orderkey", nbits=1 << 17)
    fact = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    pruned = bloom_prune(fact, bloom, "l_orderkey", nbits=1 << 17)
    return (
        pruned.join(dim, pruned.l_orderkey == dim.o_orderkey)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            sum_exact("l_extendedprice").alias("revenue"),
        )
    )


_FK_PAIRS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _ref_int_oracle() -> str:
    parts = []
    for fact, fk, dim, dk in _FK_PAIRS:
        parts.append(
            f"SELECT '{fact}.{fk}' AS fk, (SELECT COUNT(*) FROM "
            f"(SELECT DISTINCT {fk} FROM {fact}) f WHERE NOT EXISTS "
            f"(SELECT 1 FROM {dim} d WHERE d.{dk} = f.{fk})) AS orphan_count"
        )
    return " UNION ALL ".join(parts)


@register("dq_referential_integrity", oracle=_ref_int_oracle())
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All FK orphan probes of the star schema in one result (reference
    runs one job per pair; here one unioned plan)."""
    out = None
    for fact, fk, dim, dk in _FK_PAIRS:
        orphans = referential_orphans(
            load_table(spark, sf_dir, fact), fk, load_table(spark, sf_dir, dim), dk
        )
        one = orphans.agg(F.count(F.lit(1)).alias("orphan_count")).select(
            F.lit(f"{fact}.{fk}").alias("fk"), "orphan_count"
        )
        out = one if out is None else out.unionByName(one)
    return out


@register(
    "dq_profile_customer",
    oracle="""
    SELECT COUNT(*) AS row_count,
           COUNT(DISTINCT c_custkey) AS distinct_c_custkey,
           COUNT(*) FILTER (c_custkey IS NULL) AS nulls_c_custkey,
           COUNT(*) FILTER (c_name IS NULL) AS nulls_c_name,
           COUNT(*) FILTER (c_nationkey IS NULL) AS nulls_c_nationkey,
           COUNT(*) FILTER (c_acctbal IS NULL) AS nulls_c_acctbal,
           COUNT(*) FILTER (c_mktsegment IS NULL) AS nulls_c_mktsegment
    FROM customer
    """,
)
def dq_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass DQ profile (reference post-extract contract as ONE job)."""
    return profile(load_table(spark, sf_dir, "customer"), pk="c_custkey")


# ---------------------------------------------------------------------------
# §1.2 — content-hash surrogate keys + sentinel dimension
# ---------------------------------------------------------------------------

@register(
    "hash_surrogate_keys",
    oracle="""
    SELECT n_nationkey,
           sha256(concat_ws('|', n_name, CAST(n_nationkey AS VARCHAR))) AS nation_hash,
           COALESCE(sha256(NULLIF(n_name, 'FRANCE') || '|' || CAST(n_nationkey AS VARCHAR)),
                    'Unknown') AS nullable_hash
    FROM nation
    """,
)
def hash_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both hash-key variants: concat_ws (NULL-skipping) and concat
    (NULL-propagating, patched to Unknown) — reference §1.2 semantics."""
    nation = load_table(spark, sf_dir, "nation")
    nullable_name = F.when(F.col("n_name") == "FRANCE", None).otherwise(F.col("n_name"))
    return nation.select(
        "n_nationkey",
        hash_key("n_name", "n_nationkey").alias("nation_hash"),
        hash_key_nullable(nullable_name, F.col("n_nationkey")).alias("nullable_hash"),
    )


@register(
    "dim_region_sentinel",
    oracle="""
    SELECT sha256(r_name) AS region_id, r_regionkey, r_name FROM region
    UNION ALL
    SELECT 'Unknown', NULL, 'Unknown'
    """,
)
def dim_region_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension build: content-hash id + Unknown sentinel member."""
    region = load_table(spark, sf_dir, "region")
    dim = with_hash_id(region, "region_id", ["r_name"]).select("region_id", "r_regionkey", "r_name")
    return sentinel_row(dim, key_col="region_id")


# ---------------------------------------------------------------------------
# Date spine (reference date-dimension.py:36-75)
# ---------------------------------------------------------------------------

@register(
    "date_spine_orders",
    oracle="""
    WITH b AS (SELECT CAST(MIN(o_orderdate) AS DATE) lo, CAST(MAX(o_orderdate) AS DATE) hi FROM orders),
    s AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date FROM b)
    SELECT date,
           CAST(year(date) AS BIGINT) AS year,
           CAST(quarter(date) AS BIGINT) AS quarter,
           CAST(month(date) AS BIGINT) AS month,
           monthname(date) AS month_name,
           CAST(week(date) AS BIGINT) AS week_of_year,
           CAST(day(date) AS BIGINT) AS day_of_month,
           CAST(isodow(date) AS BIGINT) AS day_of_week,
           dayname(date) AS day_name,
           isodow(date) IN (6, 7) AS is_weekend
    FROM s
    """,
)
def date_spine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous calendar dimension over the fact's date range, with the
    ISO weekday remap (Spark Sunday=1 → Monday=1) and weekend flag."""
    orders = load_table(spark, sf_dir, "orders")
    lo, hi = orders.agg(
        F.min(F.col("o_orderdate").cast("date")), F.max(F.col("o_orderdate").cast("date"))
    ).collect()[0]
    return date_spine(spark, F.lit(lo), F.lit(hi))


# ---------------------------------------------------------------------------
# Strategy-table bucketing (reference weather-cleanse.py:117-137)
# ---------------------------------------------------------------------------

ACCTBAL_BUCKETS = [
    (None, 0.0, "negative"),
    (0.0, 1000.0, "low"),
    (1000.0, 5000.0, "medium"),
    (5000.0, None, "high"),
]


@register(
    "bucketize_acctbal",
    oracle=f"""
    SELECT {bucketize_sql('c_acctbal', ACCTBAL_BUCKETS)} AS balance_band,
           COUNT(*) AS customer_count,
           {SUM_DEC.format(x='c_acctbal')} AS total_balance
    FROM customer
    GROUP BY 1
    """,
)
def bucketize_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy-table bucketing: the engine parses the same generated
    CASE text the oracle embeds (no drift possible)."""
    customer = load_table(spark, sf_dir, "customer")
    banded = customer.withColumn("balance_band", bucketize("c_acctbal", ACCTBAL_BUCKETS))
    return banded.groupBy("balance_band").agg(
        F.count(F.lit(1)).alias("customer_count"),
        sum_exact("c_acctbal").alias("total_balance"),
    )


# ---------------------------------------------------------------------------
# P6 — fillna / na.replace battery (reference wb-dimension.py:92
# ``fillna(NULL_REPLACEMENT, subset=label_columns)``; value replace per
# weather-cleanse NULL-sentinel handling)
# ---------------------------------------------------------------------------

@register(
    "fillna_value_battery",
    oracle=f"""
    WITH holed AS (
        SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS acctbal_h,
               CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS segment_h,
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    ELSE CAST(c_nationkey AS BIGINT) END AS nation_h
        FROM customer
    ),
    filled AS (
        SELECT COALESCE(acctbal_h, -1.0) AS acctbal_f,
               COALESCE(nation_h, -1) AS nation_f,
               CASE WHEN COALESCE(segment_h, 'Unknown') = 'MACHINERY'
                    THEN 'MACH' ELSE COALESCE(segment_h, 'Unknown')
               END AS segment
        FROM holed
    )
    SELECT segment,
           COUNT(*) AS row_count,
           {SUM_DEC.format(x='acctbal_f')} AS total_balance,
           CAST(SUM(CASE WHEN nation_f = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nation_defaulted,
           CAST(SUM(CASE WHEN acctbal_f = -1.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS acctbal_defaulted
    FROM filled
    GROUP BY 1
    """,
)
def fillna_value_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 fillna battery: both fillna API shapes the reference uses —
    the typed dict form (per-column defaults; double and long) and the
    scalar+subset form (wb-dimension.py:92) — plus na.replace for the
    post-fill value rewrite. Nulls are punched deterministically with
    key-modulus predicates so the oracle reproduces the exact same
    holes with NULLIF-style CASEs; the aggregation proves the fills
    landed (default-value counts per segment) rather than merely that
    rows survived. Map-only until the single groupBy — the fill is a
    Project, never a shuffle, at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    holed = (
        customer.withColumn(
            "acctbal_h",
            F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
                F.col("c_acctbal")
            ),
        )
        .withColumn(
            "segment_h",
            F.when(F.col("c_custkey") % 5 == 0, F.lit(None)).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .withColumn(
            "nation_h",
            F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(
                F.col("c_nationkey").cast("bigint")
            ),
        )
    )
    filled = (
        holed.fillna({"acctbal_h": -1.0, "nation_h": -1})
        .fillna("Unknown", subset=["segment_h"])
        .na.replace({"MACHINERY": "MACH"}, subset=["segment_h"])
    )
    return (
        filled.withColumnRenamed("segment_h", "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            sum_exact("acctbal_h").alias("total_balance"),
            F.sum(F.when(F.col("nation_h") == -1, 1).otherwise(0))
            .cast("bigint")
            .alias("nation_defaulted"),
            F.sum(F.when(F.col("acctbal_h") == -1.0, 1).otherwise(0))
            .cast("bigint")
            .alias("acctbal_defaulted"),
        )
    )


# ---------------------------------------------------------------------------
# Z-score outlier scrub (reference aq-cleanse.py:123-157), exact stats
# ---------------------------------------------------------------------------

@register(
    "zscore_scrub_prices",
    oracle="""
    WITH stats AS (
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) / COUNT(l_extendedprice) AS mean,
               sqrt((CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE)
                     - COUNT(l_extendedprice) * (CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) / COUNT(l_extendedprice))
                       * (CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) / COUNT(l_extendedprice)))
                    / (COUNT(l_extendedprice) - 1)) AS std
        FROM lineitem
    )
    SELECT COUNT(*) FILTER (abs((l_extendedprice - mean) / std) <= 3) AS kept_count,
           COUNT(*) FILTER (abs((l_extendedprice - mean) / std) > 3) AS scrubbed_count,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (abs((l_extendedprice - mean) / std) <= 3) AS DOUBLE)
             / COUNT(*) FILTER (abs((l_extendedprice - mean) / std) <= 3) AS kept_avg
    FROM lineitem, stats
    """,
)
def zscore_scrub_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier scrub with exact (decimal-derived) mean/std so
    the scrub set is deterministic; all column stats in ONE pass."""
    from ..functions.cleanse import zscore_scrub

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    before = li.withColumnRenamed("l_extendedprice", "orig")
    scrubbed = zscore_scrub(li, ["l_extendedprice"], threshold=3.0)
    return scrubbed.agg(
        F.count("l_extendedprice").alias("kept_count"),
        F.sum(F.col("l_extendedprice").isNull().cast("long")).alias("scrubbed_count"),
        avg_exact("l_extendedprice").alias("kept_avg"),
    )


# ---------------------------------------------------------------------------
# Robust median/MAD outlier scrub (grouped sibling of zscore_scrub_prices)
# ---------------------------------------------------------------------------

@register(
    "mad_scrub_event_values",
    oracle="""
    WITH m AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT e.event_type, any_value(m.med) AS med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN m USING (event_type) GROUP BY 1
    )
    SELECT e.event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CASE WHEN abs(e.value - s.med) > 3.5 * s.mad / 0.6745
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(any_value(s.med), 4) AS med,
           round(any_value(s.mad), 4) AS mad
    FROM events e JOIN s USING (event_type)
    GROUP BY 1
    """,
)
def mad_scrub_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier scrub: median/MAD modified z-score
    (cutoff 3.5), the heavy-tail-safe sibling of the reference's
    mean/stddev scrub (aq-cleanse.py:123-157). Exact percentiles match
    the oracle bit-for-bit (linear interpolation is identical on
    doubles); at 100 TB the same shape runs on percentile_approx."""
    from ..functions.cleanse import mad_scrub_grouped

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    scrubbed = mad_scrub_grouped(ev, "value", ["event_type"], threshold=3.5)
    return scrubbed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_outliers"),
        F.round(F.first("value_med"), 4).alias("med"),
        F.round(F.first("value_mad"), 4).alias("mad"),
    )


# ---------------------------------------------------------------------------
# J6/J7 — nearest-within as-of join (reference load_fact.py:225-290)
# ---------------------------------------------------------------------------

@register(
    "asof_nearest_purchase",
    oracle="""
    SELECT event_id, user_id, purchase_event_id, dt_us, purchase_value
    FROM (
        SELECT c.event_id, c.user_id, p.event_id AS purchase_event_id,
               abs(epoch_us(c.ts) - epoch_us(p.ts)) AS dt_us,
               p.value AS purchase_value,
               row_number() OVER (
                   PARTITION BY c.event_id
                   ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), p.event_id) AS rn
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 43200000000
        WHERE c.event_type = 'click'
    ) WHERE rn = 1
    """,
    headline=True,
)
def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest purchase within ±12h of each click, per user — the
    reference's bucketed as-of join with intended (bug-fixed) semantics
    and a deterministic tiebreak. Scales as a plain equi-join on
    (user, time-bucket), never a range cross-join."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    matched = nearest_within(
        clicks,
        purchases,
        left_ts="ts",
        right_ts="ts",
        tolerance_sec=43200,
        on=["user_id"],
        left_key="event_id",
        right_tiebreak="right_event_id",
    )
    return matched.select(
        "event_id",
        "user_id",
        F.col("right_event_id").alias("purchase_event_id"),
        F.col("nearest_dt_us").alias("dt_us"),
        F.col("right_value").alias("purchase_value"),
    )


@register(
    "asof_backward_last_click",
    oracle="""
    SELECT event_id, user_id, click_event_id, dt_us
    FROM (
        SELECT p.event_id, p.user_id, c.event_id AS click_event_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS dt_us,
               row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY epoch_us(p.ts) - epoch_us(c.ts), c.event_id) AS rn
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND c.event_type = 'click'
         AND epoch_us(c.ts) <= epoch_us(p.ts)
         AND epoch_us(p.ts) - epoch_us(c.ts) <= 7200000000
        WHERE p.event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def asof_backward_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional (backward) ASOF join — pandas merge_asof / kdb aj
    semantics: each purchase attributed to the user's LATEST click
    at-or-before it, within a 2h window. Same bucketed equi-join shape
    as the nearest variant but probes replicate into only two buckets
    (the backward window spans at most two), so it shuffles 2/3 of the
    probe volume. Ties on Δt break on smallest click id."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    clicks = events.filter(F.col("event_type") == "click")
    matched = nearest_within(
        purchases,
        clicks,
        left_ts="ts",
        right_ts="ts",
        tolerance_sec=7200,
        on=["user_id"],
        left_key="event_id",
        right_tiebreak="right_event_id",
        direction="backward",
    )
    return matched.select(
        "event_id",
        "user_id",
        F.col("right_event_id").alias("click_event_id"),
        F.col("nearest_dt_us").alias("dt_us"),
    )


@register(
    "interval_join_purchase_clicks",
    headline=True,
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(*) AS click_count,
           MIN(c.event_id) AS first_click_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(p.ts)
     AND epoch_us(c.ts) <= epoch_us(p.ts) + 7200000000
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def interval_join_purchase_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap (range) join: clicks inside each purchase's
    2-hour attribution window, per user. Spark would run the naive
    BETWEEN predicate as a nested-loop product; ``interval_join``
    buckets both sides so it executes as a hash equi-join on
    (user, time-bucket) with a residual containment filter."""
    from ..operators.temporal import interval_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withColumn("end_ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
    )
    joined = interval_join(
        clicks,
        purchases,
        point_ts="ts",
        start_ts="ts",
        end_ts="end_ts",
        on=["user_id"],
        granularity_sec=7200,
    )
    return joined.groupBy(
        F.col("ivl_event_id").alias("purchase_id"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).alias("click_count"),
        F.min("event_id").alias("first_click_id"),
    )


# ---------------------------------------------------------------------------
# Sessionization + tumbling windows (beyond-reference, streaming-shaped)
# ---------------------------------------------------------------------------

@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.t_view
          GROUP BY 1),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
          GROUP BY 1)
    SELECT COUNT(*) AS viewed,
           COUNT(t_click) AS clicked,
           COUNT(t_purchase) AS purchased,
           COUNT(*) FILTER (
               epoch_us(t_purchase) - epoch_us(t_view) <= 86400000000) AS converted_24h
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: view → first click at-or-after the
    first view → first purchase at-or-after that click, plus 24h
    conversion — the sequential-pattern query every events warehouse
    runs. One scan, one exchange (r14, guide §2.4): the three
    conditional mins are CHAINED WINDOWS over the same user_id
    partitioning — each stage's min conditions on the previous stage's
    window column, so consecutive Window operators share one shuffle
    and one sort, and the per-user collapse reuses the same
    partitioning (no second exchange). The previous join-chained
    formulation recomputed each stage's lineage (the v aggregate ran
    3×, c ran 2× — six scans of events in one plan); per-user event
    counts still never multiply (no self-join)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        events.withColumn(
            "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    funnel = (
        staged.filter(F.col("t_view").isNotNull())
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.first("t_purchase").alias("t_purchase"),
        )
    )
    return funnel.agg(
        F.count(F.lit(1)).alias("viewed"),
        F.count("t_click").alias("clicked"),
        F.count("t_purchase").alias("purchased"),
        F.coalesce(
            F.sum(
                (
                    (F.unix_micros("t_purchase") - F.unix_micros("t_view")) <= 86_400_000_000
                ).cast("long")
            ),
            F.lit(0),
        ).alias("converted_24h"),
    )


@register(
    "user_event_sequences",
    oracle="""
    SELECT user_id,
           array_to_string(list(event_type ORDER BY epoch_us(ts), event_id), '|') AS sequence,
           CAST(len(list(event_type ORDER BY epoch_us(ts), event_id)) AS BIGINT) AS seq_len
    FROM events
    WHERE epoch_us(ts) < 1704153600000000
    GROUP BY 1
    """,
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation: each user's event-type sequence (the
    input shape for sequence mining / next-event models). collect_list
    gives no ordering guarantee under parallel merge, so the rows are
    collected as (ts, id, type) structs and sorted IN the array —
    deterministic regardless of partitioning. Filtered to the first day
    to keep arrays bounded (unbounded per-key arrays are the classic
    grouped-aggregation OOM at 100 TB). The sequence ships as a
    '|'-joined string: the driver's pandas canonicalizer cannot sort
    list columns, and a delimited string hashes identically on both
    sides."""
    events = load_table(spark, sf_dir, "events").filter(
        F.unix_micros("ts") < 1_704_153_600_000_000
    )
    seq = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
        ),
        lambda s: s.getField("event_type"),
    )
    return events.groupBy("user_id").agg(
        F.array_join(seq, "|").alias("sequence"),
        F.size(seq).cast("long").alias("seq_len"),
    )


@register(
    "sessionize_events",
    oracle="""
    WITH gaps AS (
        SELECT user_id, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS session_count,
           COUNT(*) AS event_count
    FROM gaps GROUP BY 1
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    flag — the batch twin of streaming session windows."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    lag_us = F.lag(us).over(w)
    new_session = F.when(lag_us.isNull() | ((us - lag_us) > 1800 * 1_000_000), 1).otherwise(0)
    return (
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("session_count"),
            F.count(F.lit(1)).alias("event_count"),
        )
    )


@register(
    "tumbling_hourly_events",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation via F.window — identical semantics to
    the Structured Streaming windowed aggregate (streaming/ops.py)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            sum_exact(F.col("value"), "decimal(18,4)", wide=False).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) windows + skew-salted aggregation (beyond-reference)
# ---------------------------------------------------------------------------

@register(
    "sliding_window_events",
    oracle="""
    WITH x AS (SELECT event_type, value,
                      make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 * 1000000 AS BIGINT))
                        - k * INTERVAL '30 minutes' AS window_start
               FROM events, unnest([0, 1]) t(k))
    SELECT window_start, event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM x GROUP BY 1, 2
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregate (1 h window, 30 min slide): each event
    lands in window_size/slide = 2 windows. F.window generates the
    window copies JVM-side; the oracle replicates via an unnest over the
    two hop offsets (both engines align windows to the Unix epoch)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            sum_exact(F.col("value"), "decimal(18,4)", wide=False).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


@register(
    "salted_agg_events",
    headline=True,
    oracle="""
    SELECT event_type,
           COUNT(value) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events GROUP BY 1
    """,
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation: events has ~5 event types
    over 100k+ rows — the canonical hot-key shape. The salted plan
    shards each type over 16 reducers then recombines; the oracle is the
    plain GROUP BY (salting must be output-invariant)."""
    from ..functions.exact import scale_to_long, unscale
    from ..operators.skew import salted_agg

    # exact sum rides the scaled-long fast path THROUGH both salt
    # phases: per-row grid-scale to LONG, plain long sums in the salted
    # partial and the recombine, one decimal division at the very end
    # (values <=1e3 at 4dp -> 1e7 scaled units/row; long headroom ~9e11
    # rows per (type, salt) shard)
    events = load_table(spark, sf_dir, "events").withColumn(
        "value_s", scale_to_long(F.col("value"), "decimal(18,4)")
    )
    out = salted_agg(
        events,
        keys=["event_type"],
        measures=[
            ("value", "count", "event_count"),
            ("value_s", "sum", "total_s"),
            ("value", "min", "min_value"),
            ("value", "max", "max_value"),
        ],
        spread_col="event_id",
        buckets=16,
    )
    return out.select(
        "event_type",
        F.col("event_count").cast("long").alias("event_count"),
        unscale(F.col("total_s"), "decimal(18,4)").alias("total_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


@register(
    "salted_collect_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events GROUP BY 1
    """,
)
def salted_collect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant HOLISTIC collect (round 12 — the shape where the
    salted second exchange measurably earns its keep, unlike the
    algebraic salted_agg_events; see operators/skew.py's scope note
    and the "Hot-key salting crossover" table in BASELINE.md): distinct
    users are collected per (event_type, hash-of-user salt) so the hot
    key's set merge spreads over 16 reducers, then the disjoint shards
    flatten without re-dedup. The gate reduces the array to scalars
    (size/min/max) so the oracle is the plain COUNT(DISTINCT) — the
    salted collect must be content-invariant."""
    from ..operators.skew import salted_collect_set

    events = load_table(spark, sf_dir, "events")
    out = salted_collect_set(
        events, keys=["event_type"], value_col="user_id", alias="users",
        buckets=16,
    )
    return out.select(
        "event_type",
        F.size("users").cast("long").alias("n_users"),
        F.array_min("users").cast("long").alias("min_user"),
        F.array_max("users").cast("long").alias("max_user"),
    )


@register(
    "salted_join_events",
    oracle="""
    WITH dim AS (SELECT DISTINCT event_type,
                        CAST(length(event_type) AS BIGINT) AS type_weight
                 FROM events)
    SELECT e.event_id, e.event_type, d.type_weight,
           round(e.value * d.type_weight, 4) AS weighted_value
    FROM events e JOIN dim d USING (event_type)
    """,
)
def salted_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant SHUFFLE join (the companion gate to
    salted_agg_events): the big side's hot join keys (~5 event types
    over the whole table) are salt-sharded over 8 reducers and the
    small side is replicated once per salt — the shape for small sides
    too large to broadcast over pathological key distributions. The
    oracle is the plain join: salting must be output-invariant, row for
    row, not just in aggregate."""
    from ..operators.skew import salted_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = events.select("event_type").distinct().select(
        "event_type", F.length("event_type").cast("long").alias("type_weight")
    )
    joined = salted_join(events, dim, ["event_type"], "event_id", buckets=8)
    return joined.select(
        "event_id",
        "event_type",
        "type_weight",
        F.round(F.col("value") * F.col("type_weight"), 4).alias("weighted_value"),
    )


# ---------------------------------------------------------------------------
# Semi-structured columns: typed JSON extraction (beyond-reference)
# ---------------------------------------------------------------------------

@register(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
    FROM events GROUP BY 1
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction: events.props is a JSON string;
    from_json with an explicit schema (the scale path — a declared
    struct column prunes and vectorizes, unlike per-row get_json_object
    string scans) then a typed aggregation."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.sum("p.k").cast("long").alias("k_sum"),
        F.min("p.k").cast("long").alias("k_min"),
        F.max("p.k").cast("long").alias("k_max"),
    )


@register(
    "variant_shred_events",
    oracle="""
    SELECT event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(COUNT(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                           THEN 1 END) AS BIGINT) AS k_over_50
    FROM events GROUP BY 1
    """,
)
def variant_shred_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for schema-FREE payloads: parse_json once
    into the binary-encoded VariantType, then variant_get typed
    extraction. Unlike from_json (json_extract_events) this needs no
    declared struct — the right default when payload schemas drift; the
    binary encoding parses once and shreds lazily instead of re-scanning
    JSON text per field. Same aggregate as the from_json twin, so the
    oracle also proves the two semi-structured paths agree."""
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return events.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.sum("k").cast("long").alias("k_sum"),
        F.count(F.when(F.col("k") > 50, 1)).cast("long").alias("k_over_50"),
    )


# ---------------------------------------------------------------------------
# OLAP battery: exact percentiles, ROLLUP grouping, window functions
# (beyond-reference completeness — none of these appear in the reference)
# ---------------------------------------------------------------------------

@register(
    "try_cast_dirty_ingest",
    oracle="""
    WITH dirty AS (
        SELECT CASE WHEN o_orderkey % 7 = 0
                    THEN CAST(o_totalprice AS VARCHAR) || 'x'
                    ELSE CAST(o_totalprice AS VARCHAR) END AS raw_price,
               o_orderpriority
        FROM orders
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           COUNT(TRY_CAST(raw_price AS DOUBLE)) AS parsed,
           COUNT(*) - COUNT(TRY_CAST(raw_price AS DOUBLE)) AS rejected,
           CAST(SUM(CAST(TRY_CAST(raw_price AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE)
               AS parsed_total
    FROM dirty GROUP BY 1
    """,
)
def try_cast_dirty_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant typed ingest: try_cast turns unparseable values
    into NULL instead of failing the job (ANSI mode) or silently
    corrupting (legacy CAST) — counted as an explicit reject metric.
    Every 7th price is deterministically dirtied so both engines reject
    the same rows."""
    orders = load_table(spark, sf_dir, "orders")
    raw = F.when(
        F.col("o_orderkey") % 7 == 0, F.concat(F.col("o_totalprice").cast("string"), F.lit("x"))
    ).otherwise(F.col("o_totalprice").cast("string"))
    dirty = orders.select(raw.alias("raw_price"), "o_orderpriority")
    typed = dirty.withColumn("p", F.expr("try_cast(raw_price AS DOUBLE)"))
    return typed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("p").alias("parsed"),
        (F.count(F.lit(1)) - F.count("p")).alias("rejected"),
        sum_exact("p").alias("parsed_total"),
    )


@register(
    "string_function_battery",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up,
           trim(p_name) AS trimmed,
           substring(p_name, 1, 5) AS first5,
           reverse(p_brand) AS rev_brand,
           CAST(length(p_name) AS BIGINT) AS name_len,
           replace(p_type, ' ', '_') AS type_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           CAST(levenshtein(p_brand, 'Brand#45') AS BIGINT) AS brand_dist,
           CAST(strpos(p_name, 'a') AS BIGINT) AS first_a
    FROM part
    """,
)
def string_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery (SURVEY §2.8 made gate-visible): case
    mapping, trim, substring, reverse, length, replace, pad,
    levenshtein edit distance, first-occurrence position — all pinned
    byte-for-byte against the oracle (ASCII corpus; collation-sensitive
    functions like initcap are exercised in the LFB pipeline tests
    instead, where the dialects' word-boundary rules are controlled)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.trim("p_name").alias("trimmed"),
        F.substring("p_name", 1, 5).alias("first5"),
        F.reverse("p_brand").alias("rev_brand"),
        F.length("p_name").cast("long").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#45")).cast("long").alias("brand_dist"),
        F.locate("a", F.col("p_name")).cast("long").alias("first_a"),
    )


@register(
    "map_explode_props",
    oracle="""
    SELECT k AS key,
           COUNT(*) AS n,
           CAST(MIN(CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS BIGINT) AS min_val,
           CAST(MAX(CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS BIGINT) AS max_val
    FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
    GROUP BY 1
    """,
)
def map_explode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType semantics: the JSON payload parsed as map<string,string>
    and EXPLODED into (key, value) rows — the schema-free cousin of the
    typed-struct extraction (json_extract_events) for payloads whose
    keys aren't known at plan time. Generate + aggregate, all JVM-side."""
    events = load_table(spark, sf_dir, "events")
    kv = events.select(
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "value")
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("value").cast("long")).alias("min_val"),
        F.max(F.col("value").cast("long")).alias("max_val"),
    )


@register(
    "unpivot_priority_measures",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           o_orderpriority AS priority,
           {SUM_DEC.format(x='o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    GROUP BY 1, 2
    """,
)
def unpivot_priority_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-year priority matrix built by the
    pivot operator is melted BACK to long via stack() — proving
    pivot→unpivot is lossless. The oracle is the direct long aggregate,
    so both the pivot's cell values and the melt's label mapping are
    checked in one query. stack() is a Generate (row-expanding
    projection), not a shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    keep = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    wide = pivot_agg(
        orders.select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            "o_orderpriority",
            "o_totalprice",
        ),
        key=["order_year"],
        pivot_col="o_orderpriority",
        values=keep,
        agg=sum_exact("o_totalprice"),
    )
    stack_args = ", ".join(f"'{v}', `{v}`" for v in keep)
    long = wide.selectExpr(
        "order_year", f"stack({len(keep)}, {stack_args}) AS (priority, total_price)"
    )
    return long.filter(F.col("total_price").isNotNull())


@register(
    "percentile_prices_by_flag",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.95) AS p95
    FROM lineitem GROUP BY 1
    """,
)
def percentile_prices_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — both engines implement
    PERCENTILE_CONT identically on doubles). At 100 TB use
    percentile_approx (t-digest sketch, mergeable map-side); the exact
    variant is the oracle-checkable correctness anchor."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
    )


@register(
    "rollup_priority_year",
    oracle="""
    SELECT o_orderpriority,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY ROLLUP (o_orderpriority, order_year)
    """,
)
def rollup_priority_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: (priority, year) + (priority) + grand total
    in ONE aggregation pass (Catalyst Expand — no N-pass union of
    GROUP BYs)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority",
            F.year("o_orderdate").cast("long").alias("order_year"),
            "o_totalprice",
        )
        .rollup("o_orderpriority", "order_year")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            sum_exact("o_totalprice").alias("total_price"),
        )
    )


@register(
    "window_battery_customer_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER w AS BIGINT) AS seq,
           CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_rank,
           CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS BIGINT) AS priority_drank,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_battery_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window battery the reference never needed (it uses
    only first/row_number, SURVEY §2.5): rank, dense_rank, ntile, lag,
    lead, running sum — one shuffle on the partition key serves every
    frame (all windows share PARTITION BY o_custkey)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_price = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_prio = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    running = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("seq"),
        F.rank().over(w_price).cast("long").alias("price_rank"),
        F.dense_rank().over(w_prio).cast("long").alias("priority_drank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        running.alias("running_total"),
    )


@register(
    "window_trailing_30d",
    headline=True,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d_total,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_30d_orders
    FROM orders
    """,
)
def window_trailing_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range window frame (RANGE, not ROWS): each order's trailing
    30-day revenue per customer. The frame is keyed on a day-number
    column (datediff from an epoch) so the RANGE offsets are integers —
    the portable formulation of a time-range frame, and the only one
    Spark's rangeBetween accepts. One shuffle on the partition key."""
    orders = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_no)
        .rangeBetween(-29, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("trailing_30d_total"),
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_30d_orders"),
    )


HIST_LO, HIST_HI, HIST_BINS = 0.0, 600000.0, 12


@register(
    "histogram_order_prices",
    oracle=f"""
    SELECT CAST(LEAST(GREATEST(floor((o_totalprice - {HIST_LO}) / (({HIST_HI} - {HIST_LO}) / {HIST_BINS})), 0), {HIST_BINS - 1}) AS BIGINT) AS bin,
           CAST({HIST_LO} + LEAST(GREATEST(floor((o_totalprice - {HIST_LO}) / (({HIST_HI} - {HIST_LO}) / {HIST_BINS})), 0), {HIST_BINS - 1}) * (({HIST_HI} - {HIST_LO}) / {HIST_BINS}) AS DOUBLE) AS bin_lo,
           COUNT(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def histogram_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width histogram (12 bins, clamped edges) — the
    profiling primitive behind NDV/selectivity estimation. One map-side
    bin expression + one aggregate; at 100 TB this is how you look at a
    column's shape without sorting it (histogram_numeric's approximate
    variant trades the fixed grid for adaptive bins)."""
    orders = load_table(spark, sf_dir, "orders")
    width = (HIST_HI - HIST_LO) / HIST_BINS
    raw_bin = F.floor((F.col("o_totalprice") - HIST_LO) / width)
    bin_ = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(HIST_BINS - 1))
    return (
        orders.select(
            bin_.cast("long").alias("bin"),
            (F.lit(HIST_LO) + bin_ * width).cast("double").alias("bin_lo"),
        )
        .groupBy("bin", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# TPC-H classics (adapted to the driver's column subset) — the canonical
# multi-join OLAP competence check on this star schema
# ---------------------------------------------------------------------------

@register(
    "tpch_q1_pricing_summary",
    headline=True,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY 1, 2
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: single-pass pricing summary — the filter reaches the
    parquet scan, every measure is a map-side partial aggregate, and the
    derived sums reuse one decimal-exact kernel."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # charge has 6 exact decimal places (2dp price x 2dp disc x 2dp tax);
    # summing on the (18,6) grid keeps the exact value so both engines
    # round identically (at (18,4) half-way ties split HALF_UP vs
    # HALF_EVEN). All sums ride functions.exact's long-scaled fast path
    # (~2.7x the decimal-buffer formulation on this query).
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_exact("l_quantity").alias("sum_qty"),
        sum_exact("l_extendedprice").alias("sum_base_price"),
        sum_exact(disc_price, "decimal(18,4)").alias("sum_disc_price"),
        sum_exact(charge, "decimal(18,6)").alias("sum_charge"),
        avg_exact("l_quantity").alias("avg_qty"),
        avg_exact("l_extendedprice").alias("avg_price"),
        # |l_discount| <= 1: scaled units are ~1e4/row, so the long
        # accumulator holds ~9e14 rows per group — no wide buffer needed
        avg_exact("l_discount", "decimal(18,4)", wide=False).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "sql_api_top_segment_customers",
    oracle="""
    WITH rev AS (
        SELECT c_mktsegment AS segment, c_custkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    )
    SELECT segment, c_custkey, revenue, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT segment, c_custkey, revenue,
                 row_number() OVER (PARTITION BY segment
                                    ORDER BY revenue DESC, c_custkey) AS rnk
          FROM rev)
    WHERE rnk <= 5
    """,
)
def sql_api_top_segment_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end as a first-class entry point: ``spark.sql``
    running ANSI SQL (CTE, 3-way join, windowed top-k) — the same
    Catalyst plan the DataFrame queries compile to, proving users can
    drive this engine from either API. Deterministic top-5: revenue
    ties break on c_custkey. DataFrames are passed as ``{placeholder}``
    sql() arguments (PySpark DataFrame-interpolation) — a pure lazy
    plan with NO session-global temp-view state, so concurrent callers
    against different sf_dirs can never interact."""
    return spark.sql(
        """
        WITH rev AS (
            SELECT c_mktsegment AS segment, c_custkey,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM {customer} JOIN {orders} ON c_custkey = o_custkey
                            JOIN {lineitem} ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        )
        SELECT segment, c_custkey, revenue, CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT segment, c_custkey, revenue,
                     row_number() OVER (PARTITION BY segment
                                        ORDER BY revenue DESC, c_custkey) AS rnk
              FROM rev)
        WHERE rnk <= 5
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (o_orderpriority standing in for the absent
    o_shippriority): selective dimension filter broadcast into a 3-way
    join, aggregate, global top-10. Both date filters push to scans; the
    customer side collapses to a broadcast after the segment filter."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = (
        orders.join(F.broadcast(cust.select("c_custkey")), orders.o_custkey == F.col("c_custkey"))
        .join(li, li.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            sum_exact(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "decimal(18,4)"
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    headline=True,
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: the 6-way star join. Every dimension side (supplier ⋈
    nation ⋈ region, customer) broadcasts; the only shuffled join is
    lineitem ⋈ orders on the orderkey — at 100 TB that one shuffle is
    irreducible without co-bucketing both tables on orderkey."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s_n_r = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    joined = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s_n_r),
            (li.l_suppkey == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        sum_exact(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "decimal(18,4)"
        ).alias("revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H semi/anti/outer-join battery (Q4, Q6, Q13, Q16, Q18 — adapted to the
# driver's column subset; no partsupp/commitdate in testdata). These cover
# the join shapes the reference never uses (SURVEY §2.3: "no inner/semi"):
# existential semi join, NOT-IN anti join, outer-join distribution,
# aggregate-filtered join.
# ---------------------------------------------------------------------------


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (l_shipdate lag standing in for the absent
    commit/receipt dates): EXISTS → LEFT SEMI join, so lineitem rows are
    never duplicated into the probe side and the aggregate input stays
    one-row-per-order. The date filter pushes to the orders scan; the
    semi join's non-equi clause rides on the orderkey equi-join."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q6_forecast_revenue",
    headline=True,
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS item_count
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan-aggregate. Every predicate is a parquet
    pushed filter (`PushedFilters` in .explain), the projection prunes to
    4 columns, and the whole plan is one map-side partial aggregate —
    the query 100 TB scans live or die on."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        sum_exact(F.col("l_extendedprice") * F.col("l_discount"), "decimal(18,4)").alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("item_count"),
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution. The LEFT join keeps
    zero-order customers (COUNT of a NULL key = 0 rows counted), then a
    second aggregation histograms the counts. The join condition filters
    the fact side BEFORE the join so the filter never becomes a
    post-join residual."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
    GROUP BY 1, 2, 3
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem standing in for the absent partsupp):
    NOT IN → broadcast LEFT ANTI join against the excluded-supplier set,
    a broadcast dimension join, then COUNT(DISTINCT). The anti join runs
    before the part join so excluded rows never reach the wider plan."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 2000)
        .select("s_suppkey")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#45") & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    kept = li.join(F.broadcast(excluded), li.l_suppkey == excluded.s_suppkey, "left_anti")
    joined = kept.join(F.broadcast(part), kept.l_partkey == part.p_partkey)
    return joined.groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size")).agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@register(
    "tpch_q18_large_volume",
    headline=True,
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders. The HAVING subquery becomes an
    aggregate whose per-orderkey quantity total is CARRIED through the
    join (r14, guide §2.4): the oracle's outer GROUP BY keys include
    o_orderkey, which is unique in orders, so each output group is
    exactly one qualifying order and its sum_qty is exactly the total
    the gate already computed. Carrying it drops the second lineitem
    scan, the second broadcast of the survivor set, and the final
    5-key groupBy exchange that the join-again-then-reaggregate
    formulation paid (plan: 4 scans/5 exchanges → 3 scans/1 content
    exchange). The quantity gate rides the scaled-long fast path
    (round 12): grid-scale to LONG per row, plain long sums, integer
    threshold — exact on the 2dp grid; ``unscale`` divides the carried
    total back in the decimal domain, bit-identical to the old
    ``sum_exact`` finalization (verified vs the oracle at
    sf0.001/0.01/0.1)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(scale_to_long(F.col("l_quantity"), "decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 150 * 100)
        .withColumnRenamed("l_orderkey", "big_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("big_orderkey"))
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            unscale(F.col("q").cast("decimal(38,0)")).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate sketches (the 100 TB scale path for distincts/percentiles).
# Sketch estimates are engine-specific, so the oracle checks a CLAIM the
# estimate must satisfy — the exact value plus a within-tolerance boolean
# (DuckDB asserts the boolean as a literal TRUE). The sketches are
# deterministic, so the boolean is stable run-to-run.
# ---------------------------------------------------------------------------


@register(
    "approx_distinct_segments",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS approx_within_5pct
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def approx_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counting next to the exact count, graded
    as a ≤5% relative-error claim. At 100 TB the exact COUNT(DISTINCT)
    needs a full shuffle of the key; the HLL sketch is a few KB per
    group, map-side mergeable, and rsd=0.01 keeps well inside the
    claimed tolerance."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx"),
    )
    err = F.abs(F.col("approx") - F.col("exact_customers")) / F.col("exact_customers")
    return agg.select(
        "c_mktsegment", "exact_customers", (err <= 0.05).alias("approx_within_5pct")
    )


@register(
    "seasonality_month_index",
    oracle="""
    WITH m AS (
        SELECT c_mktsegment AS segment, month(o_orderdate) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(19,2)) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
    t AS (SELECT segment, CAST(SUM(revenue) AS DECIMAL(19,2)) AS total FROM m GROUP BY 1)
    SELECT m.segment, CAST(m.month AS BIGINT) AS month,
           CAST(m.revenue AS DOUBLE) AS revenue,
           round(CAST(m.revenue AS DOUBLE) * 12 / CAST(t.total AS DOUBLE), 6) AS month_index
    FROM m JOIN t ON t.segment = m.segment
    """,
)
def seasonality_month_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: each (segment, calendar month)'s revenue
    indexed against the segment's flat-month baseline (index 1.0 = an
    average month; 1.3 = a 30%-over-baseline month) — the demand-
    planning view behind inventory and staffing curves. Revenue stays
    decimal-exact through both aggregates; the index is one fixed-order
    double expression (rev·12/total) per row. Scale shape: the fact
    table collapses to ≤ |segments|·12 rows before the tiny
    baseline join."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.month("o_orderdate").cast("long").alias("month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
            .cast("decimal(19,2)")
            .alias("revenue_d")
        )
    )
    t = m.groupBy("segment").agg(
        F.sum("revenue_d").cast("decimal(19,2)").alias("total")
    )
    return (
        m.join(F.broadcast(t), "segment")
        .select(
            "segment",
            "month",
            F.col("revenue_d").cast("double").alias("revenue"),
            F.round(
                F.col("revenue_d").cast("double") * 12 / F.col("total").cast("double"),
                6,
            ).alias("month_index"),
        )
    )


@register(
    "new_vs_returning_revenue",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey, MIN(year(o_orderdate)) AS first_year FROM orders GROUP BY 1)
    SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
           COUNT(*) FILTER (year(o_orderdate) = first_year) AS new_orders,
           COUNT(*) FILTER (year(o_orderdate) > first_year) AS returning_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)))
                FILTER (year(o_orderdate) = first_year) AS DOUBLE) AS new_revenue,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(15,2)))
                FILTER (year(o_orderdate) > first_year), 0) AS DOUBLE) AS returning_revenue,
           round(CAST(COUNT(*) FILTER (year(o_orderdate) > first_year) AS DOUBLE)
                 / COUNT(*), 6) AS returning_order_share
    FROM orders JOIN firsts USING (o_custkey)
    GROUP BY 1
    """,
)
def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each year's orders and revenue split into
    NEW customers (first-ever order year) vs RETURNING — the
    acquisition-vs-retention decomposition every revenue review opens
    with. One aggregate derives each customer's first year, joins back
    (broadcast — one row per customer), and a conditional aggregate
    splits the fact rows; revenue decimal-exact, the share one
    exact-count division. The first-year frame is |customers|-sized
    regardless of order volume."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    firsts = orders.groupBy("o_custkey").agg(F.min(yr).alias("first_year"))
    j = orders.join(F.broadcast(firsts), "o_custkey")
    is_new = yr == F.col("first_year")
    dec = F.col("o_totalprice").cast("decimal(15,2)")
    return j.groupBy(yr.cast("long").alias("year")).agg(
        F.count(F.when(is_new, 1)).alias("new_orders"),
        F.count(F.when(~is_new, 1)).alias("returning_orders"),
        F.sum(F.when(is_new, dec)).cast("double").alias("new_revenue"),
        F.coalesce(F.sum(F.when(~is_new, dec)), F.lit(0))
        .cast("double")
        .alias("returning_revenue"),
        F.round(
            F.count(F.when(~is_new, 1)).cast("double") / F.count(F.lit(1)), 6
        ).alias("returning_order_share"),
    )


@register(
    "customer_order_gap_stats",
    oracle="""
    WITH seq AS (
        SELECT o_custkey AS custkey,
               datediff('day',
                        lag(CAST(o_orderdate AS DATE)) OVER (
                            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                        CAST(o_orderdate AS DATE)) AS gap
        FROM orders)
    SELECT custkey,
           COUNT(gap) AS n_gaps,
           CAST(MIN(gap) AS BIGINT) AS min_gap_days,
           CAST(MAX(gap) AS BIGINT) AS max_gap_days,
           round(CAST(SUM(gap) AS DOUBLE) / COUNT(gap), 6) AS avg_gap_days
    FROM seq WHERE gap IS NOT NULL GROUP BY 1
    """,
)
def customer_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase-time profile: per customer, the min/max/mean gap
    in days between consecutive orders — the cadence signal behind
    churn prediction and replenishment models (RFM's recency is this
    series' last point). One lag window per customer (ordered by
    (date, orderkey) so same-day orders cannot flip the sequence),
    then a per-customer aggregate of exact integer day gaps; the mean
    is one exact-count division. Shuffles on the customer key only."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    seq = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return seq.groupBy("custkey").agg(
        F.count("gap").alias("n_gaps"),
        F.min("gap").cast("long").alias("min_gap_days"),
        F.max("gap").cast("long").alias("max_gap_days"),
        F.round(F.sum("gap").cast("double") / F.count("gap"), 6).alias("avg_gap_days"),
    )


@register(
    "pareto_abc_brands",
    oracle="""
    WITH rev AS (
        SELECT p_brand AS brand,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                        * (1 - CAST(l_discount AS DECIMAL(15,2)))) AS DECIMAL(19,4)) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1),
    tot AS (SELECT CAST(SUM(revenue) AS DECIMAL(19,4)) AS total FROM rev),
    ranked AS (
        SELECT brand, CAST(revenue AS DOUBLE) AS revenue,
               CAST(row_number() OVER (ORDER BY revenue DESC, brand) AS BIGINT) AS rank,
               CAST(SUM(revenue) OVER (ORDER BY revenue DESC, brand
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
        FROM rev CROSS JOIN tot)
    SELECT brand, revenue, rank, round(cum_share, 6) AS cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def pareto_abc_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification — the assortment-analysis classic:
    brands ranked by revenue with their cumulative revenue share,
    classed A (first 80% of revenue), B (to 95%), C (tail). Revenue
    stays on an exact decimal grid through the per-brand aggregate,
    the running total, AND the grand total, so the cumulative share is
    one division of two engine-identical decimals-as-doubles at every
    rank; the running-sum frame orders by (revenue DESC, brand) — a
    total order, so both engines accumulate identical prefixes. Scale
    shape: the fact table collapses to |brands| rows before the
    ordered window."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(15,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(15,2)"))
            )
            .cast("decimal(19,4)")
            .alias("revenue_d")
        )
    )
    tot = rev.agg(F.sum("revenue_d").cast("decimal(19,4)").alias("total"))
    w = Window.orderBy(F.col("revenue_d").desc(), F.col("brand").asc())
    cum = (
        F.sum("revenue_d")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
    )
    ranked = rev.crossJoin(F.broadcast(tot)).select(
        "brand",
        F.col("revenue_d").cast("double").alias("revenue"),
        F.row_number().over(w).cast("long").alias("rank"),
        (cum / F.col("total").cast("double")).alias("cum_share_raw"),
    )
    return ranked.select(
        "brand",
        "revenue",
        "rank",
        F.round("cum_share_raw", 6).alias("cum_share"),
        F.when(F.col("cum_share_raw") <= 0.8, "A")
        .when(F.col("cum_share_raw") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (SELECT user_id, event_type,
                        lead(event_type) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) AS next_type
                 FROM events),
    pairs AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
              FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM pairs GROUP BY 1)
    SELECT p.from_type, p.to_type, p.n, t.n_from,
           round(CAST(p.n AS DOUBLE) / t.n_from, 6) AS prob
    FROM pairs p JOIN tot t ON t.from_type = p.from_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov matrix: P(next event type | current)
    per user journey — the sequence-mining summary behind funnel
    design and churn models. One lead() window per user (ordered by
    (ts, event_id) so duplicate timestamps cannot flip transitions),
    then two bounded aggregations: |types|² pair counts and their
    row-normalization. Scale shape: the window shuffles on user_id
    (each user's history sorts independently); everything after is
    |types|²-sized. prob is one division of two exact counts —
    engine-identical doubles."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = (
        seq.groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(F.broadcast(tot), "from_type")
        .select(
            "from_type", "to_type", "n", "n_from",
            F.round(F.col("n").cast("double") / F.col("n_from"), 6).alias("prob"),
        )
    )


@register(
    "basket_brand_affinity",
    headline=True,
    oracle="""
    WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
    per AS (SELECT p_brand, COUNT(*) AS support FROM ob GROUP BY 1),
    pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support_ab
              FROM ob a JOIN ob b ON b.l_orderkey = a.l_orderkey AND a.p_brand < b.p_brand
              GROUP BY 1, 2)
    SELECT brand_a, brand_b, support_ab,
           round(CAST(support_ab * n_orders AS DOUBLE) / (sa.support * sb.support), 6) AS lift,
           CAST(row_number() OVER (
               ORDER BY CAST(support_ab * n_orders AS DOUBLE) / (sa.support * sb.support) DESC,
                        brand_a, brand_b) AS BIGINT) AS rank
    FROM pairs
    JOIN per sa ON sa.p_brand = brand_a
    JOIN per sb ON sb.p_brand = brand_b
    CROSS JOIN tot
    WHERE support_ab >= 20
    QUALIFY rank <= 20
    """,
)
def basket_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top-20 brand pairs by LIFT —
    P(a,b) / (P(a)·P(b)) over order baskets, the co-occurrence signal
    behind cross-sell and assortment analytics. Scale shape (r14):
    baskets reduce to one SORTED DISTINCT brand array per order
    (``collect_set`` — one shuffle of (order, brand) pairs), and the
    within-basket brand pairs are generated MAP-SIDE from each order's
    own array, partially aggregated before the tiny |brands|² pair
    exchange — the former ``ob``-self-join on the order key (a
    SortMergeJoin shuffling the distinct table twice more) is gone.
    The blow-up stays bounded by distinct-brands-per-basket², and the
    brand vocabulary bounds every post-basket row count. Per-brand
    supports + the 1-row order count join back as broadcasts. Lift is
    one division of two exact integer products ((sab·n)/(sa·sb) — both
    < 2⁶³), so the double is bit-identical on any engine; min-support
    20 prunes noise pairs before ranking."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    per = (
        baskets.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    # all (a < b) brand pairs of each basket, from the sorted array —
    # pure map work, no self-join; the pair aggregate's map-side partial
    # reduces to ≤ |brands|² rows per task before the exchange
    pair_structs = F.expr(
        "flatten(transform(brands, (x, i) -> "
        "transform(slice(brands, i + 2, size(brands)), "
        "y -> struct(x AS brand_a, y AS brand_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("support_ab"))
        .filter(F.col("support_ab") >= 20)
    )
    sa = per.select(F.col("p_brand").alias("brand_a"), F.col("support").alias("sa"))
    sb = per.select(F.col("p_brand").alias("brand_b"), F.col("support").alias("sb"))
    j = (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(tot))
    )
    lift = (F.col("support_ab") * F.col("n_orders")).cast("double") / (
        F.col("sa") * F.col("sb")
    )
    w = Window.orderBy(F.col("lift_raw").desc(), F.col("brand_a").asc(), F.col("brand_b").asc())
    return (
        j.withColumn("lift_raw", lift)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select(
            "brand_a", "brand_b", "support_ab",
            F.round("lift_raw", 6).alias("lift"), "rank",
        )
    )


@register(
    "rfm_customer_scores",
    oracle="""
    WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_day FROM orders),
    base AS (
        SELECT o_custkey AS custkey,
               datediff('day', MAX(CAST(o_orderdate AS DATE)), (SELECT ref_day FROM ref)) AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS monetary
        FROM orders GROUP BY 1)
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency ASC, custkey) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary ASC, custkey) AS BIGINT) AS m_score,
           CAST(ntile(5) OVER (ORDER BY recency_days DESC, custkey) * 100
              + ntile(5) OVER (ORDER BY frequency ASC, custkey) * 10
              + ntile(5) OVER (ORDER BY monetary ASC, custkey) AS BIGINT) AS rfm
    FROM base
    """,
)
def rfm_customer_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic marketing mart: per customer,
    recency (days since last order, against the corpus max date),
    frequency, monetary (exact decimal sum), each quintiled 1-5 with
    5 = best (most recent / most orders / highest spend; the DESC/ASC
    orderings encode that, custkey breaks every tie so both engines
    cut identical quintile boundaries). Scale shape: the fact table
    collapses to one row per customer first, the reference date is a
    broadcast 1-row aggregate, and the three NTILE windows sort
    |customers|, never |orders| — swap in approx_ntile
    (operators/agg.py) when even the entity table is too large for a
    global sort."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
        .cast("double")
        .alias("monetary"),
    )
    ref = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref_day"))
    base = base.crossJoin(F.broadcast(ref)).withColumn(
        "recency_days", F.datediff("ref_day", "last_day").cast("long")
    )
    wr = Window.orderBy(F.col("recency_days").desc(), F.col("custkey").asc())
    wf = Window.orderBy(F.col("frequency").asc(), F.col("custkey").asc())
    wm = Window.orderBy(F.col("monetary").asc(), F.col("custkey").asc())
    r = F.ntile(5).over(wr).cast("long")
    f = F.ntile(5).over(wf).cast("long")
    m = F.ntile(5).over(wm).cast("long")
    return base.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        r.alias("r_score"),
        f.alias("f_score"),
        m.alias("m_score"),
        (r * 100 + f * 10 + m).alias("rfm"),
    )


@register(
    "anomaly_daily_revenue",
    headline=True,
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_no,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2)) AS rev
        FROM orders GROUP BY 1, 2),
    wstats AS (
        SELECT day, rev,
               CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n,
               CAST(SUM(rev) OVER w AS DOUBLE) AS s,
               CAST(SUM(rev * rev) OVER w AS DOUBLE) AS ss
        FROM daily
        WINDOW w AS (ORDER BY day_no RANGE BETWEEN 29 PRECEDING AND 1 PRECEDING))
    SELECT day, CAST(rev AS DOUBLE) AS revenue, trailing_n,
           CASE WHEN trailing_n >= 10 AND (ss / trailing_n - (s / trailing_n) * (s / trailing_n)) > 0
                THEN round((CAST(rev AS DOUBLE) - s / trailing_n)
                           / sqrt(ss / trailing_n - (s / trailing_n) * (s / trailing_n)), 6)
           END AS zscore,
           COALESCE(
               CASE WHEN trailing_n >= 10 AND (ss / trailing_n - (s / trailing_n) * (s / trailing_n)) > 0
                    THEN abs((CAST(rev AS DOUBLE) - s / trailing_n)
                             / sqrt(ss / trailing_n - (s / trailing_n) * (s / trailing_n))) >= 2.5
               END, FALSE) AS is_anomaly
    FROM wstats
    """,
)
def anomaly_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection: each day's revenue z-scored against
    its OWN trailing-30-day history (frame excludes the current day, so
    the day under test never contaminates its baseline) with a
    10-day warm-up gate — the standard streaming-metrics monitor run
    as a batch query. Scale shape: one groupBy collapses the fact
    table to per-day rows FIRST, so the global-ordered window sorts
    |days|, never |orders|. Bit parity on a float z-score is earned
    by keeping every aggregate on an exact decimal grid (rev at
    DECIMAL(15,2); rev² exact at (31,4) — DuckDB needs width ≥15+ per
    operand to avoid int64 decimal overflow) and converting to DOUBLE
    at the same fixed points in a fixed-order expression; sqrt is
    IEEE-correctly-rounded on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
        .cast("decimal(15,2)")
        .alias("rev")
    )
    day_no = F.datediff(F.col("day"), F.lit("1990-01-01").cast("date"))
    w = Window.orderBy(day_no).rangeBetween(-29, -1)
    stats = daily.select(
        "day",
        "rev",
        F.count(F.lit(1)).over(w).alias("trailing_n"),
        F.sum("rev").over(w).cast("double").alias("s"),
        F.sum(F.col("rev") * F.col("rev")).over(w).cast("double").alias("ss"),
    )
    n = F.col("trailing_n")
    mean = F.col("s") / n
    var = F.col("ss") / n - mean * mean
    z = (F.col("rev").cast("double") - mean) / F.sqrt(var)
    gated = (n >= 10) & (var > 0)
    return stats.select(
        "day",
        F.col("rev").cast("double").alias("revenue"),
        "trailing_n",
        F.when(gated, F.round(z, 6)).alias("zscore"),
        F.coalesce(F.when(gated, F.abs(z) >= 2.5), F.lit(False)).alias("is_anomaly"),
    )


# Grouped-collect folds (ewma_customer_spend and kin) are bounded by
# per-entity history length; this is the documented cap the audit
# below enforces. One task holds one entity's full history array, so
# the cap is what keeps a pathological hot entity (an event-grain key
# with 10M+ rows) from ballooning a single task.
HISTORY_CAP = 10_000


@register(
    "history_length_audit",
    oracle="""
    WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
    SELECT COUNT(*) AS entities,
           CAST(MAX(n) AS BIGINT) AS max_len,
           CAST(SUM(CASE WHEN n > 10000 THEN 1 ELSE 0 END) AS BIGINT)
               AS hot_entities,
           MAX(n) <= 10000 AS fold_safe
    FROM c
    """,
)
def history_length_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-entity PRECONDITION for grouped-collect folds — the guard
    that makes `ewma_customer_spend`-style per-entity history arrays
    safe, mirroring `skew_audit_user_events`'s role for salted
    aggregation. A grouped collect_list is bounded by history length,
    not corpus size — fine for entity-grain feature stores, but one
    10M-row hot key would balloon a single task. This audit measures
    the distribution in one aggregate pass (map-side combined; one
    row out) and flags whether the HISTORY_CAP contract holds:
    `fold_safe` false ⇒ cap or re-grain the history (e.g. pre-collapse
    to daily aggregates) before running the fold."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return c.agg(
        F.count(F.lit(1)).alias("entities"),
        F.max("n").alias("max_len"),
        F.sum((F.col("n") > HISTORY_CAP).cast("long")).alias("hot_entities"),
    ).select(
        "entities",
        "max_len",
        "hot_entities",
        (F.col("max_len") <= HISTORY_CAP).alias("fold_safe"),
    )


@register(
    "ewma_customer_spend",
    headline=True,
    oracle="""
    WITH s AS (SELECT o_custkey AS custkey,
                      list(CAST(o_totalprice AS DOUBLE)
                           ORDER BY o_orderdate, o_orderkey) AS vs,
                      COUNT(*) AS n_orders
               FROM orders GROUP BY 1)
    SELECT custkey, n_orders,
           vs[-1] AS last_price,
           list_reduce(vs, (acc, x) ->
               floor((acc * 0.9 + x * 0.1) * 1000000 + 0.5) / 1000000.0) AS ewma_price
    FROM s
    """,
)
def ewma_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity EWMA feature (exponentially-weighted order value,
    α=0.1 new-weight) — the recency-weighted running feature a
    feature-store pipeline derives per customer/device/session. EWMA
    is inherently recursive (no closed-form window), so the engine
    folds each entity's ORDERED history with an aggregate HOF over a
    grouped collect — bounded by per-entity history length, never by
    corpus size, and the fold runs JVM-side after the one groupBy
    shuffle. Bit parity on an iterated FLOAT recurrence is earned by
    construction: both engines fold the identical (date, orderkey)-
    sorted doubles through the identical expression, with each step
    re-quantized by the order-and-engine-stable half-up formula
    floor(x·10⁶ + 0.5)/10⁶ (oracle-parity-pitfalls: never bare
    round() near midpoints, never order-dependent float sums).

    PRECONDITION: per-entity history length ≤ HISTORY_CAP — run
    `history_length_audit` first (fold_safe must be true); for
    event-grain keys re-grain the history before folding."""
    o = load_table(spark, sf_dir, "orders")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("o_orderdate").alias("d"),
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").cast("double").alias("v"),
            )
        )
    )
    g = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        arr.alias("a"), F.count(F.lit(1)).alias("n_orders")
    )
    vs = F.transform(F.col("a"), lambda s: s["v"])
    ewma = F.aggregate(
        F.slice(vs, 2, F.size(vs) - 1),
        F.element_at(vs, 1),
        lambda acc, x: F.floor((acc * 0.9 + x * 0.1) * 1000000 + 0.5)
        / F.lit(1000000.0),
    )
    return g.select(
        "custkey",
        "n_orders",
        F.element_at(vs, -1).alias("last_price"),
        ewma.alias("ewma_price"),
    )


@register(
    "sketch_overlap_yoy",
    oracle="""
    WITH y AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS y, o_custkey
               FROM orders)
    SELECT a.y AS year_a, b.y AS year_b,
           COUNT(*) AS exact_overlap,
           TRUE AS overlap_within_5pct
    FROM y a JOIN y b ON b.o_custkey = a.o_custkey AND b.y = a.y + 1
    GROUP BY 1, 2
    """,
)
def sketch_overlap_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: repeat customers across consecutive years
    estimated by inclusion–exclusion over mergeable HLL sketches —
    |A∩B| ≈ |A| + |B| − |A∪B| — graded as a ≤5% claim against the
    exact distinct-key join. HLL has native union only; intersection
    via I−E is the standard audience-overlap pattern, and its error is
    conditioned on the overlap fraction (here ~78%, well-conditioned;
    a tiny intersection of huge sets would need a theta sketch
    instead — the claim gate is what surfaces that per corpus). At
    100 TB the exact twin shuffles every distinct (year, custkey)
    twice and joins; the sketch path reads each year partition once,
    keeps KB-sized state per year, and the pair stage is a broadcast
    self-join of one row per year."""
    orders = load_table(spark, sf_dir, "orders")
    # r14 (guide §2.4): the exact baseline collects each customer's
    # year SET in one pass and counts years whose successor is
    # present, replacing the distinct + (year, custkey) self-join
    # formulation that evaluated the distinct subtree twice — 4 orders
    # scans -> 3, and the distinct + join shuffles collapse to one
    # map-side-combined collect_set exchange. (An eager checkpoint of
    # the tiny per-year sketch frame was ALSO tried and reverted: the
    # extra materialization job cost more than the one pruned scan it
    # saved at this scale.)
    sk = (
        orders.select(F.year("o_orderdate").cast("long").alias("y"), "o_custkey")
        .groupBy("y")
        .agg(F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk"))
    )
    a = sk.select(F.col("y").alias("year_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("y").alias("year_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(F.broadcast(b), F.col("year_b") == F.col("year_a") + 1)
    est = (
        F.hll_sketch_estimate("sk_a")
        + F.hll_sketch_estimate("sk_b")
        - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    )
    exact = (
        orders.select(F.year("o_orderdate").cast("long").alias("y"), "o_custkey")
        .groupBy("o_custkey")
        .agg(F.collect_set("y").alias("ys"))
        .select(
            F.explode(
                F.filter(
                    F.col("ys"),
                    lambda y: F.array_contains(F.col("ys"), y + F.lit(1).cast("long")),
                )
            ).alias("year_a")
        )
        .groupBy("year_a")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
        .withColumn("year_b", F.col("year_a") + 1)
    )
    err = F.abs(est - F.col("exact_overlap")) / F.col("exact_overlap")
    return (
        pairs.join(exact, ["year_a", "year_b"])
        .select("year_a", "year_b", "exact_overlap", (err <= 0.05).alias("overlap_within_5pct"))
    )


@register(
    "sketch_mart_mergeable",
    oracle="""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS y, month(o_orderdate) AS m, o_custkey
        FROM orders
    )
    SELECT y,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS merged_within_5pct
    FROM monthly GROUP BY 1
    """,
)
def sketch_mart_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-aggregatable sketch mart: persist a DataSketches HLL
    binary per (year, month), then answer the yearly question by
    MERGING the 12 monthly sketches — never re-touching the fact table.
    This is the pattern that makes 100 TB distinct-count marts cheap:
    the mart stores KB-sized sketches, and any coarser rollup is a
    sketch union, not a rescan. Verified as a ≤5% claim against the
    exact yearly distinct."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").alias("m"),
            "o_custkey",
        )
        .groupBy("y", "m")
        .agg(F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sketch"))
    )
    yearly = monthly.groupBy("y").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx")
    )
    exact = orders.groupBy(F.year("o_orderdate").cast("long").alias("y")).agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    joined = exact.join(yearly, "y")
    err = F.abs(F.col("approx") - F.col("exact_customers")) / F.col("exact_customers")
    return joined.select("y", "exact_customers", (err <= 0.05).alias("merged_within_5pct"))


@register(
    "approx_percentile_claim",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS exact_p50,
           quantile_cont(l_extendedprice, 0.99) AS exact_p99,
           TRUE AS approx_within_1pct
    FROM lineitem GROUP BY 1
    """,
)
def approx_percentile_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable quantile sketch) graded as a ≤1%
    relative-error claim against the exact interpolated percentile.
    At 100 TB the exact form needs a per-group sort; the sketch is
    map-side mergeable with bounded memory (accuracy 10000 ≈ 0.01%
    rank error — orders of magnitude inside the claim)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_p50"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("exact_p99"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("a50"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(10000)).alias("a99"),
    )
    ok = (F.abs(F.col("a50") - F.col("exact_p50")) / F.col("exact_p50") <= 0.01) & (
        F.abs(F.col("a99") - F.col("exact_p99")) / F.col("exact_p99") <= 0.01
    )
    return agg.select("l_returnflag", "exact_p50", "exact_p99", ok.alias("approx_within_1pct"))


# ---------------------------------------------------------------------------
# Deterministic sampling (beyond-reference: reproducible splits at 100 TB)
# ---------------------------------------------------------------------------

STRATA_FRACTIONS = {"1-URGENT": 0.5, "2-HIGH": 0.25}


def _sample_oracle() -> str:
    from ..operators.sampling import deterministic_sample_sql, stratified_sample_sql

    uniform = deterministic_sample_sql(["o_orderkey"], 0.1, salt="split1")
    strat = stratified_sample_sql(
        "o_orderpriority", STRATA_FRACTIONS, ["o_orderkey"], default_fraction=0.05, salt="split1"
    )
    return f"""
    SELECT 'uniform' AS method, o_orderpriority, COUNT(*) AS sampled_count,
           {SUM_DEC.format(x='o_totalprice')} AS sampled_total
    FROM orders WHERE {uniform} GROUP BY 1, 2
    UNION ALL
    SELECT 'stratified', o_orderpriority, COUNT(*),
           {SUM_DEC.format(x='o_totalprice')}
    FROM orders WHERE {strat} GROUP BY 1, 2
    """


@register("sample_orders_deterministic", oracle=_sample_oracle())
def sample_orders_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling: uniform 10% and per-priority stratified
    rates, both decided by a salted content hash of the natural key —
    the same row makes the same keep/drop decision on every run and
    every engine (seeded df.sample() can't promise either). Pure
    map-side filters; the Spark predicate and the oracle CASE are
    generated from the same constants."""
    from ..operators.sampling import deterministic_sample, stratified_sample

    orders = load_table(spark, sf_dir, "orders")
    uniform = deterministic_sample(orders, ["o_orderkey"], 0.1, salt="split1")
    strat = stratified_sample(
        orders,
        "o_orderpriority",
        STRATA_FRACTIONS,
        ["o_orderkey"],
        default_fraction=0.05,
        salt="split1",
    )

    def agg(df: DataFrame, method: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("sampled_count"),
            sum_exact("o_totalprice").alias("sampled_total"),
        ).select(F.lit(method).alias("method"), "o_orderpriority", "sampled_count", "sampled_total")

    return agg(uniform, "uniform").unionByName(agg(strat, "stratified"))


def _weighted_sample_oracle() -> str:
    from ..functions.text import tokens_sql
    from ..operators.sampling import weighted_sample_sql

    pred = weighted_sample_sql(["doc_id"], "diversity", salt="qsample")
    return f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS w FROM documents),
    r AS (SELECT doc_id,
                 CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS diversity
          FROM t WHERE len(w) > 0)
    SELECT doc_id, round(diversity, 6) AS quality
    FROM r WHERE {pred}
    """


@register("quality_weighted_sample", oracle=_weighted_sample_oracle())
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling — keep-probability equals each doc's
    OWN quality score (lexical diversity here), the continuous data-
    mixing primitive that upsamples high-quality documents without RNG
    state: content-hash prefix vs a PER-ROW derived hex threshold, a
    pure map-side Catalyst predicate reproduced exactly by the oracle
    (same hash, same round/printf threshold derivation, same 16^8
    saturation guard)."""
    from ..functions.text import tokens
    from ..operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    w = tokens("text")
    scored = docs.filter(F.size(w) > 0).select(
        "doc_id",
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias("diversity"),
    )
    kept = weighted_sample(scored, ["doc_id"], "diversity", salt="qsample")
    return kept.select("doc_id", F.round("diversity", 6).alias("quality"))


GROUP_SAMPLE_K = 5


def _group_sample_oracle() -> str:
    from ..operators.sampling import _bucket_sql

    h = _bucket_sql(["doc_id"], "gsample")
    return f"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
    FROM (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                     ORDER BY {h} ASC, doc_id ASC) AS rn
          FROM documents)
    WHERE rn <= {GROUP_SAMPLE_K}
    """


@register("per_source_sample", oracle=_group_sample_oracle())
def per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sample — the reproducible
    replacement for reservoir sampling: each source keeps the
    {GROUP_SAMPLE_K} docs whose salted content hash sorts smallest, so
    every run and every engine draws the SAME inspection sample per
    domain (the human-eval / spot-check requirement seeded reservoirs
    can't meet across engines)."""
    from ..operators.sampling import group_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return group_sample(docs, "source", ["doc_id"], k=GROUP_SAMPLE_K, salt="gsample")


@register(
    "mom_revenue_growth",
    oracle=f"""
    WITH m AS (
        SELECT c_mktsegment,
               strftime(o_orderdate, '%Y-%m') AS ym,
               {SUM_DEC.format(x='o_totalprice')} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    )
    SELECT c_mktsegment, ym, revenue,
           lag(revenue) OVER w AS prev_revenue,
           ROUND((revenue - lag(revenue) OVER w) / lag(revenue) OVER w * 100, 6)
               AS pct_change
    FROM m WINDOW w AS (PARTITION BY c_mktsegment ORDER BY ym)
    """,
)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: window-over-aggregate (lag on the
    monthly mart, not the fact) — the mart is tiny, so the growth
    window costs nothing regardless of fact size. Percent change
    rounded to 6dp (double division is deterministic; the rounding
    guards the display grid)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(sum_exact("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("ym")
    prev = F.lag("revenue").over(w)
    return m.select(
        "c_mktsegment",
        "ym",
        "revenue",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev * 100, 6).alias("pct_change"),
    )


@register(
    "null_semantics_battery",
    oracle="""
    WITH x AS (
        SELECT c_custkey,
               NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_or_null
        FROM customer
    )
    SELECT COALESCE(seg_or_null, 'suppressed') AS segment,
           COUNT(*) AS n,
           COUNT(bal_or_null) AS non_null_bals,
           COUNT(*) FILTER (seg_or_null IS NOT DISTINCT FROM NULL) AS nullsafe_null_matches,
           CAST(SUM(CAST(COALESCE(bal_or_null, 0) AS DECIMAL(18,2))) AS DOUBLE) AS bal_total
    FROM x GROUP BY 1
    """,
)
def null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics battery: NULLIF suppression, conditional
    null-out, COUNT(col) vs COUNT(*), null-safe equality (<=> /
    IS NOT DISTINCT FROM), COALESCE defaults — the exact semantics the
    reference leans on for its sentinel logic (SURVEY §1.2), pinned
    against the oracle in one query."""
    cust = load_table(spark, sf_dir, "customer")
    x = cust.select(
        "c_custkey",
        F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg_or_null"),
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal_or_null"),
    )
    return x.groupBy(F.coalesce("seg_or_null", F.lit("suppressed")).alias("segment")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("bal_or_null").alias("non_null_bals"),
        F.sum(F.col("seg_or_null").eqNullSafe(F.lit(None)).cast("long")).alias(
            "nullsafe_null_matches"
        ),
        sum_exact(F.coalesce("bal_or_null", F.lit(0))).alias("bal_total"),
    )


@register(
    "tpch_q2_cheapest_supplier",
    oracle="""
    WITH px AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_price
        FROM lineitem GROUP BY 1, 2
    ),
    best AS (
        SELECT l_partkey, l_suppkey, unit_price,
               MIN(unit_price) OVER (PARTITION BY l_partkey) AS best_price
        FROM px
    )
    SELECT p_partkey, p_brand, s_name, unit_price
    FROM best
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE unit_price = best_price AND p_size <= 5
    QUALIFY row_number() OVER (PARTITION BY p_partkey ORDER BY s_name) = 1
    """,
)
def tpch_q2_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (lineitem standing in for partsupp): the
    correlated 'supplier with the minimum price for this part'
    subquery, decorrelated into a window-min + filter — one shuffle on
    partkey instead of a per-row subquery; deterministic tiebreak when
    two suppliers tie on price."""
    li = load_table(spark, sf_dir, "lineitem")
    px = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    w = Window.partitionBy("l_partkey")
    best = px.withColumn("best_price", F.min("unit_price").over(w)).filter(
        F.col("unit_price") == F.col("best_price")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5).select(
        "p_partkey", "p_brand"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
    )
    w_tie = Window.partitionBy("p_partkey").orderBy("s_name")
    return (
        joined.withColumn("__rn", F.row_number().over(w_tie))
        .filter(F.col("__rn") == 1)
        .select("p_partkey", "p_brand", "s_name", "unit_price")
    )


@register(
    "tpch_q22_prospects",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS a
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1998-01-01')
    GROUP BY 1
    """,
)
def tpch_q22_prospects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    recent orders. The scalar subquery becomes a broadcast one-row aggregate
    (decimal-exact mean), the NOT EXISTS a LEFT ANTI join on the
    distinct order keys — both decorrelations Catalyst can't be
    trusted to find from a row-at-a-time formulation."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        avg_exact("c_acctbal").alias("a")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    prospects = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return prospects.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        sum_exact("c_acctbal").alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets + set operations (beyond-reference OLAP completeness)
# ---------------------------------------------------------------------------


@register(
    "cube_segment_priority",
    oracle="""
    SELECT c_mktsegment, o_orderpriority,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderpriority)
    """,
)
def cube_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: all 4 groupings (segment×priority, segment,
    priority, grand total) in ONE aggregation pass via Catalyst's Expand
    — 4× the aggregate input but a single shuffle, vs 4 separate jobs."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return joined.cube("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"),
        sum_exact("o_totalprice").alias("total_price"),
    )


@register(
    "cohort_intersect_except",
    oracle="""
    SELECT 'retained' AS cohort, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
    UNION ALL
    SELECT 'churned', o_custkey FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
    """,
)
def cohort_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT cohort analysis (set ops the reference lacks —
    SURVEY §2.7 'no intersect/except'), computed as ONE pass (r14,
    guide §2.4): a single per-customer aggregation over the two-year
    slice derives membership flags, and the cohort label is a
    conditional over them — INTERSECT = in both, EXCEPT = in 1997
    only. The set-op formulation evaluated each year-side subtree
    twice (4 scans, two hash semi/anti set-op shuffles); this is one
    pruned scan and one key shuffle with map-side partial
    aggregation, and the distinct-keys semantics of the set ops falls
    out of the groupBy."""
    orders = load_table(spark, sf_dir, "orders")
    flags = (
        orders.select("o_custkey", F.year("o_orderdate").alias("__y"))
        .filter(F.col("__y").isin(1997, 1998))
        .groupBy("o_custkey")
        .agg(
            F.max(F.col("__y") == 1997).alias("__in97"),
            F.max(F.col("__y") == 1998).alias("__in98"),
        )
    )
    return flags.filter(F.col("__in97")).select(
        F.when(F.col("__in98"), F.lit("retained"))
        .otherwise(F.lit("churned"))
        .alias("cohort"),
        "o_custkey",
    )


# ---------------------------------------------------------------------------
# Flagship: star-schema fact assembly (the reference's load_fact shape —
# /root/reference/etl/load/load_fact.py:143-408 — on the TPC-H tables)
# ---------------------------------------------------------------------------

@register(
    "flagship_star_fact",
    headline=True,
    oracle="""
    SELECT sha256(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)) AS line_key,
           l_orderkey, l_linenumber,
           COALESCE(p_brand, 'Unknown') AS brand,
           COALESCE(c_mktsegment, 'Unknown') AS segment,
           COALESCE(n_name, 'Unknown') AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS revenue,
           CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) / l_quantity AS revenue_per_unit
    FROM lineitem
    LEFT JOIN part     ON l_partkey = p_partkey
    LEFT JOIN orders   ON l_orderkey = o_orderkey
    LEFT JOIN customer ON o_custkey = c_custkey
    LEFT JOIN nation   ON c_nationkey = n_nationkey
    """,
)
def flagship_star_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-fact assembly, the reference's flagship shape: content-hash
    surrogate key (sha2 over '|'-joined naturals — idempotent across
    incremental loads), every dimension LEFT-joined with FK coalesced to
    'Unknown' (reference load_fact.py:186,205,...), derived measures in
    decimal-exact arithmetic.

    Broadcast policy (scale-safe): only fixed-cardinality dims are
    force-broadcast — nation is 25 rows at EVERY scale factor. part,
    orders and customer all grow linearly with SF (TPC-H: 200k / 1.5M /
    150k rows per SF), so forcing them into a broadcast would OOM the
    driver at warehouse scale; AQE picks broadcast at small SF and
    shuffled joins at large SF on its own. The orders and customer
    joins share no key with lineitem's, so the two shuffles are
    irreducible without a bucketed layout (see io_queries
    bucketed_join_colocated for that path)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    fact = (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(cust, orders.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return fact.select(
        hash_key("l_orderkey", "l_linenumber").alias("line_key"),
        "l_orderkey",
        "l_linenumber",
        F.coalesce("p_brand", F.lit("Unknown")).alias("brand"),
        F.coalesce("c_mktsegment", F.lit("Unknown")).alias("segment"),
        F.coalesce("n_name", F.lit("Unknown")).alias("nation"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        revenue.cast("double").alias("revenue"),
        # plain double division: decimal division scale rules differ across
        # engines, IEEE double division does not
        (revenue.cast("double") / F.col("l_quantity")).alias("revenue_per_unit"),
    )


@register(
    "gap_fill_daily_revenue",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(o_orderdate) AS DATE) AS lo, CAST(MAX(o_orderdate) AS DATE) AS hi
        FROM orders
    ),
    days AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    segs AS (SELECT DISTINCT c_mktsegment AS segment FROM customer),
    actual AS (
        SELECT c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    )
    SELECT s.segment, d.day, a.revenue,
           LAST_VALUE(a.revenue IGNORE NULLS) OVER (
               PARTITION BY s.segment ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_revenue,
           a.revenue IS NULL AS is_gap
    FROM days d
    CROSS JOIN segs s
    LEFT JOIN actual a ON a.segment = s.segment AND a.day = d.day
    """,
)
def gap_fill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill — the resample/forward-fill idiom every
    revenue dashboard needs: a complete (segment x day) spine
    (sequence+explode from a one-row min/max aggregate, cross join with
    the tiny segment list), sparse actuals LEFT-joined on, gaps
    forward-filled with F.last(ignorenulls) over an unbounded-preceding
    frame. The spine sides are provably tiny (days x segments), so the
    cross join broadcasts; the only data-sized shuffle is the daily
    aggregate itself."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    actual = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(sum_exact("o_totalprice").alias("revenue"))
    )
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    segs = cust.select(F.col("c_mktsegment").alias("segment")).distinct()
    spine = days.crossJoin(F.broadcast(segs))
    w = (
        Window.partitionBy("segment")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(actual, ["segment", "day"], "left")
        .select(
            "segment",
            "day",
            "revenue",
            F.last("revenue", ignorenulls=True).over(w).alias("filled_revenue"),
            F.col("revenue").isNull().alias("is_gap"),
        )
    )
