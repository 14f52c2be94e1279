"""Extended analytics battery — the window-function families and
robust-statistics shapes the core batteries don't yet pin:
distribution windows (percent_rank/cume_dist), explicit frame clauses
(first/last/nth value over bounded frames), deterministic per-group
mode, per-entity categorical profiles (map-shaped aggregates rendered
order-independently), and percentile winsorization (the quantile-clip
cousin of the z-score/MAD scrubs in functions/cleanse.py).

Determinism rules as queries.py: percent_rank/cume_dist are exact
integer ratios evaluated as one double division (bit-identical on both
engines); mode ties break on the value itself; collect_list results are
sort_array'd before rendering so partition order can't leak into the
output; winsorize boundaries come from PERCENTILE_CONT (parity already
pinned by percentile_prices_by_flag) and the clipped sum goes through
the exact DECIMAL grid.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import sum_exact
from ..sources.io import local_frame
from ..sources.testdata import load_table
from .queries import register

# ---------------------------------------------------------------------------
# Window frames battery (percent_rank, cume_dist, first/last/nth + frames)
# ---------------------------------------------------------------------------


@register(
    "window_frames_battery",
    oracle="""
    SELECT o_orderkey, o_custkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS final_price,
           nth_value(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing3_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_frames_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame-clause half of the window surface: distribution
    functions (percent_rank = (rank-1)/(n-1), cume_dist — exact integer
    ratios, so no float-parity hazard), first/last/nth value over an
    explicit unbounded frame (the default frame ends at CURRENT ROW,
    where last_value degenerates — the classic trap, pinned here), and
    a bounded ROWS frame running sum through the exact DECIMAL grid.

    Scale: one shuffle on o_custkey serves every window (same
    partition+order → one Window exec, no re-sort)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(full).alias("final_price"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(-2, Window.currentRow))
        .cast("double")
        .alias("trailing3_price"),
    )


# ---------------------------------------------------------------------------
# Deterministic per-group mode
# ---------------------------------------------------------------------------


@register(
    "mode_priority_per_segment",
    oracle="""
    WITH c AS (
        SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY c_mktsegment ORDER BY cnt DESC, o_orderpriority
        ) AS rn
        FROM c
    )
    SELECT c_mktsegment, o_orderpriority AS mode_priority, cnt AS mode_count
    FROM r WHERE rn = 1
    """,
)
def mode_priority_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a TOTAL tiebreak (highest count, then
    smallest value) — deliberately NOT the built-in ``mode()``, whose
    tie choice is engine/partitioning-dependent and therefore
    unreproducible; the count+window formulation is the deterministic
    form both engines agree on.

    Scale: count aggregate with map-side partials, then a window over
    the tiny (group × distinct-value) grid — the second stage input is
    |segments|×|priorities| rows, not the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    counts = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# Per-entity categorical profile (map-shaped aggregate, rendered stably)
# ---------------------------------------------------------------------------


@register(
    "user_event_type_profile",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           COUNT(*) AS n_types,
           string_agg(event_type || ':' || CAST(cnt AS VARCHAR), ','
                      ORDER BY event_type) AS type_counts
    FROM c GROUP BY 1
    """,
)
def user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user categorical histogram — the feature-store shape (one
    row per entity, behavior distribution as a compact map). The map is
    rendered as a SORTED 'type:count' string: collect_list order is
    partition-dependent, so sort_array on the struct list is what makes
    a map-shaped aggregate reproducible (and driver-hashable — maps and
    arrays crash the harness's canonicalizer, per VERDICT r2).

    Scale: two-level aggregate, both keyed by user_id — AQE fuses them
    into one exchange; the per-user list is bounded by |event types|,
    not event count."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = F.sort_array(
        F.collect_list(F.struct(F.col("event_type"), F.col("cnt")))
    )
    rendered = F.array_join(
        F.transform(
            pairs,
            lambda s: F.concat_ws(":", s["event_type"], s["cnt"].cast("string")),
        ),
        ",",
    )
    return counts.groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        rendered.alias("type_counts"),
    )


# ---------------------------------------------------------------------------
# Percentile winsorization (quantile-clip robust scrub)
# ---------------------------------------------------------------------------


@register(
    "winsorize_prices_by_flag",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS lo,
               quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY 1
    ),
    c AS (
        SELECT l.l_returnflag,
               least(greatest(l.l_extendedprice, b.lo), b.hi) AS clipped,
               CAST(l.l_extendedprice < b.lo OR l.l_extendedprice > b.hi
                    AS BOOLEAN) AS was_clipped
        FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
    )
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           CAST(SUM(CASE WHEN was_clipped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped,
           CAST(SUM(CAST(round(clipped, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS winsorized_total
    FROM c GROUP BY 1
    """,
)
def winsorize_prices_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each group's values into its [p05, p95] band
    — the percentile-based robust scrub (z-score and MAD variants live
    in functions/cleanse.py; this is the third classic, immune to both
    mean- and variance-distortion from outliers). PERCENTILE_CONT
    parity is already pinned by percentile_prices_by_flag; clipped
    values round to the input's 2dp grid before the exact DECIMAL sum.

    Scale: one stats aggregate over the group key (tiny result,
    broadcast back), one map-side clip pass, one final aggregate — the
    same two-pass shape as zscore_scrub, no window over the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        F.least(F.greatest("l_extendedprice", F.col("lo")), F.col("hi")).alias("clipped"),
        ((F.col("l_extendedprice") < F.col("lo"))
         | (F.col("l_extendedprice") > F.col("hi"))).alias("was_clipped"),
    )
    return clipped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("was_clipped"), 1).otherwise(0)).cast("long").alias("n_clipped"),
        sum_exact(F.round("clipped", 2)).alias("winsorized_total"),
    )


# ---------------------------------------------------------------------------
# Python-surface gates: grouped-agg Pandas UDF and mapInArrow
# (the two Arrow surfaces the other batteries don't exercise; scalar
# Pandas UDF / grouped map / cogrouped map / UDTF / state each have
# their own gate in datapipe_queries / streaming_queries)
# ---------------------------------------------------------------------------


@register(
    "pandas_grouped_agg_median",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           round(quantile_cont(l_extendedprice, 0.5), 2) AS median_price
    FROM lineitem GROUP BY 1
    """,
)
def pandas_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDF gate (series → scalar through
    Arrow): numpy median per group, checked against PERCENTILE_CONT
    0.5 (identical linear-interpolation semantics; the even-count
    midpoint (a+b)/2 is exact in both). Rounded to the input's 2dp
    grid on both sides.

    Scale caveat (why this is a SURFACE gate, not the recommended
    median): a grouped-agg UDF materializes the whole group as one
    pandas Series on one executor — fine for bounded groups, wrong for
    a 100 TB fact with 3 groups. The scalable paths are the built-in
    percentile (exact) or percentile_approx (sketch), both pinned
    elsewhere; this pins the AggregateInPandas plumbing itself."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def np_median(v: pd.Series) -> float:
        import math

        # floor(x*100 + 0.5)/100 = DuckDB round() for positive values
        # (Python round() is half-to-even and diverges at exact .005
        # midpoints, which even-count medians of 2dp prices produce)
        m = float(np.median(v.to_numpy(dtype="float64")))
        return math.floor(m * 100 + 0.5) / 100

    @pandas_udf("long")
    def np_count(v: pd.Series) -> int:
        # Spark disallows mixing grouped-agg pandas UDFs with JVM
        # aggregates in one agg(), so the count rides pandas too
        return len(v)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        np_count("l_extendedprice").alias("cnt"),
        np_median("l_extendedprice").alias("median_price"),
    )


@register(
    "maparrow_embedding_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
    """,
)
def maparrow_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow gate: per-vector L2 norm computed directly on Arrow
    RecordBatches (zero pandas conversion — the lowest-overhead Python
    surface, the one a vectorized scorer/encoder integration would
    use). float32 storage upcast to float64 before squaring on both
    engines; 6dp rounding absorbs numpy's pairwise vs DuckDB's
    sequential summation order over the 64 dims.

    Scale: pure map pass, batch-at-a-time, no shuffle; batch size
    rides spark.sql.execution.arrow.maxRecordsPerBatch."""
    import numpy as np
    import pyarrow as pa

    def norms(batches):
        for batch in batches:
            vec_id = batch.column("vec_id")
            emb = batch.column("embedding")
            # list<float> -> (n, dim) float64 matrix; flat values share
            # one buffer, so this is a single zero-copy view + reshape
            # for the fixed-width case
            arr = emb.flatten().to_numpy(zero_copy_only=False).astype("float64")
            n = len(batch)
            mat = arr.reshape(n, -1) if n else arr.reshape(0, 1)
            l2 = np.round(np.sqrt((mat * mat).sum(axis=1)), 6)
            yield pa.RecordBatch.from_arrays(
                [vec_id, pa.array(l2, type=pa.float64())], ["vec_id", "l2_norm"]
            )

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "embedding").mapInArrow(
        norms, "vec_id long, l2_norm double"
    )


# ---------------------------------------------------------------------------
# Pipeline observability: observe() metrics and file-provenance metadata
# ---------------------------------------------------------------------------


@register(
    "observe_ingest_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_empty
    FROM documents
    """,
)
def observe_ingest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.observe()` gate — the production DQ-instrumentation surface:
    named metrics ride the SAME job as the consuming action (here one
    count()), so row counts / null rates / volume stats cost zero extra
    passes — the mechanism behind ingest health dashboards. The oracle
    recomputes the observed aggregates directly, proving observe()
    reports exactly what a dedicated aggregation would.

    Scale: metrics are accumulator-style (map-side partials merged on
    the driver), no shuffle, no extra scan — strictly cheaper than a
    second aggregate job at 100 TB."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("ingest")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1).otherwise(0)
        ).cast("long").alias("n_empty"),
    )
    observed.count()  # the consuming action; metrics materialize here
    m = obs.get
    return local_frame(
        spark,
        [(m["n_rows"], m["total_chars"], m["max_chars"], m["n_empty"])],
        "n_rows long, total_chars long, max_chars long, n_empty long",
    )


@register(
    "file_provenance_documents",
    oracle="""
    SELECT 'documents.parquet' AS file_name,
           COUNT(*) AS n_rows,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    """,
)
def file_provenance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest provenance via the hidden `_metadata.file_path` column:
    per-source-file row counts and id ranges — the audit that ties every
    warehouse row back to the exact input file (quarantine/replay unit
    at 100 TB, where a bad upstream delivery is dropped by file, not by
    predicate). The oracle asserts the known basename as ground truth
    (the test dir holds one file per table), so the parsed
    `_metadata.file_path` is value-checked, not just row-counted.

    Scale: _metadata is populated by the scan itself (no join, no extra
    IO); the aggregate shuffles one row per input file."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(
            F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)$", 1).alias(
                "file_name"
            ),
            "doc_id",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Morton (Z-order) clustering keys — the real OPTIMIZE ZORDER analogue
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from ..functions.zorder import morton_key_sql

    zkey = morton_key_sql(
        "(o_custkey & 65535)",
        "datediff('day', DATE '1992-01-01', o_orderdate)",
    )
    return f"""
    WITH z AS (
        SELECT o_orderkey,
               (o_custkey & 65535) AS cust_dim,
               datediff('day', DATE '1992-01-01', o_orderdate) AS day_dim,
               {zkey} AS zkey
        FROM orders
    )
    SELECT CAST(zkey >> 20 AS BIGINT) AS zbucket,
           COUNT(*) AS n_rows,
           MIN(cust_dim) AS min_cust, MAX(cust_dim) AS max_cust,
           MIN(day_dim) AS min_day, MAX(day_dim) AS max_day
    FROM z GROUP BY 1
    """


@register("zorder_clustering_locality", oracle=_zorder_oracle())
def zorder_clustering_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key clustering audit (`functions/zorder.py`): interleave
    the bits of (customer, order-day) and group by the key's high bits
    — each bucket is one stretch of the Z-curve, and the audited
    min/max per dimension shows every bucket covers a bounded
    RECTANGLE. That is exactly the row-group stats property that makes
    `repartitionByRange(morton_key).sortWithinPartitions` skip files
    for predicates on EITHER dimension — the true OPTIMIZE ZORDER
    analogue on plain parquet, vs the lexicographic two-column
    clustering of write_table(cluster_by=...) (reference
    etl/load/load_fact.py:403-405; S8).

    Scale: the key is pure integer bit arithmetic (map-side, codegen);
    clustering a 100 TB table is one range-repartition by zkey —
    identical shuffle cost to single-column clustering but skippable
    on both dimensions afterwards."""
    from ..functions.zorder import morton_key

    orders = load_table(spark, sf_dir, "orders")
    z = orders.select(
        "o_orderkey",
        F.col("o_custkey").bitwiseAND(F.lit(65535)).alias("cust_dim"),
        F.datediff("o_orderdate", F.lit("1992-01-01")).cast("long").alias("day_dim"),
    ).withColumn("zkey", morton_key(F.col("cust_dim"), F.col("day_dim")))
    return (
        z.groupBy(F.shiftright("zkey", 20).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cust_dim").alias("min_cust"), F.max("cust_dim").alias("max_cust"),
            F.min("day_dim").alias("min_day"), F.max("day_dim").alias("max_day"),
        )
    )


# ---------------------------------------------------------------------------
# Key-skew audit (the decision input for salting vs AQE-only)
# ---------------------------------------------------------------------------


@register(
    "skew_audit_user_events",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1)
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS total_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           quantile_cont(cnt, 0.5) AS p50_cnt,
           quantile_cont(cnt, 0.99) AS p99_cnt,
           round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top1_share,
           round(CAST(MAX(cnt) AS DOUBLE) / quantile_cont(cnt, 0.5), 6)
               AS max_over_p50
    FROM c
    """,
)
def skew_audit_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/skew.py:skew_audit` over the events stream's user_id —
    the measurement that decides between plain groupBy, AQE skew
    handling, and deterministic salting (salted_agg_events /
    salted_join_events pin the cure; this pins the diagnosis). The
    audit itself is skew-safe: the count aggregate has map-side
    partials, and the stats reduce a one-row-per-key table."""
    from ..operators.skew import skew_audit

    events = load_table(spark, sf_dir, "events")
    return skew_audit(events, ["user_id"])


# ---------------------------------------------------------------------------
# Schema-drift union + ANSI-safe arithmetic (ingest-robustness gate)
# ---------------------------------------------------------------------------


@register(
    "schema_drift_union_safe_math",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice, CAST(NULL AS BIGINT) AS batch_units,
               'v1' AS src_version
        FROM orders WHERE year(o_orderdate) <= 1995
    ),
    v2 AS (
        SELECT o_orderkey, o_totalprice, o_orderkey % 5 AS batch_units,
               'v2' AS src_version
        FROM orders WHERE year(o_orderdate) > 1995
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
    r AS (
        SELECT src_version,
               CASE WHEN batch_units IS NULL OR batch_units = 0 THEN NULL
                    ELSE floor(o_totalprice / batch_units * 100 + 0.5) / 100
               END AS unit_price
        FROM u
    )
    SELECT src_version,
           COUNT(*) AS n_rows,
           COUNT(unit_price) AS n_priced,
           CAST(SUM(CAST(COALESCE(unit_price, 0.0) AS DECIMAL(18,2)))
                AS DOUBLE) AS priced_total
    FROM r GROUP BY 1
    """,
)
def schema_drift_union_safe_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-robustness gate for evolving upstream schemas: an old
    batch (v1, no ``batch_units`` column) unions with a new batch (v2,
    with it) via ``unionByName(allowMissingColumns=True)`` — missing
    columns NULL-fill instead of failing the load — and the derived
    ratio uses ``try_divide``, which yields NULL on division-by-zero
    AND on the NULL-filled v1 rows, instead of an ANSI runtime error
    killing a 100 TB job at the one bad row. The oracle spells out both
    behaviors (explicit NULL column + CASE guard).

    Scale: union is plan-level (no data movement); one aggregate
    shuffle on the 2-value version tag (bounded groups)."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.year("o_orderdate") <= 1995).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("src_version")
    )
    v2 = orders.filter(F.year("o_orderdate") > 1995).select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 5).alias("batch_units"),
        F.lit("v2").alias("src_version"),
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    # floor(x*100+0.5)/100, not round(x, 2): Spark rounds doubles via
    # exact-BigDecimal HALF_UP while DuckDB rounds the double directly —
    # they disagree one ulp below .005 midpoints; the floor form is
    # computed identically (IEEE) on both engines
    ratio = F.try_divide(F.col("o_totalprice"), F.col("batch_units"))
    unit_price = F.floor(ratio * 100 + F.lit(0.5)) / 100
    return (
        u.select("src_version", unit_price.alias("unit_price"))
        .groupBy("src_version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("unit_price").alias("n_priced"),
            sum_exact(F.coalesce(F.col("unit_price"), F.lit(0.0))).alias("priced_total"),
        )
    )


# ---------------------------------------------------------------------------
# Weekly retention cohorts (the classic activation/retention triangle)
# ---------------------------------------------------------------------------


@register(
    "retention_cohort_weekly",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        FROM events
    ),
    offsets AS (
        SELECT f.cohort_week,
               date_diff('day', f.cohort_week, a.active_week) // 7 AS week_offset,
               a.user_id
        FROM activity a JOIN firsts f USING (user_id)
    ),
    sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts GROUP BY 1)
    SELECT o.cohort_week,
           CAST(o.week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT o.user_id) AS BIGINT) AS active_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(COUNT(DISTINCT o.user_id) AS DOUBLE) / s.cohort_size AS retention
    FROM offsets o JOIN sizes s USING (cohort_week)
    GROUP BY o.cohort_week, o.week_offset, s.cohort_size
    """,
)
def retention_cohort_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-activity
    week (Monday-truncated on both engines), each later active week
    becoming a (cohort, week-offset) cell with distinct-user count and
    retention rate vs cohort size — the activation triangle every
    product-analytics stack computes.

    Scale shape: one user-keyed aggregate (first event), one
    user-keyed distinct (active weeks — weeks-per-user-bounded, not
    events), a user-key join AQE co-partitions with them, then the
    small cohort-week aggregate; nothing is ever keyed by a
    high-cardinality composite. Offsets are integer day-diffs DIV 7 on
    Monday-aligned dates — exact on both engines; retention is one
    int/int double division."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    offsets = activity.join(firsts, "user_id").select(
        "cohort_week",
        (F.datediff("active_week", "cohort_week") / F.lit(7))
        .cast("long")
        .alias("week_offset"),
        "user_id",
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        offsets.join(sizes, "cohort_week")
        .groupBy("cohort_week", "week_offset", "cohort_size")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            (F.col("active_users").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
    )
