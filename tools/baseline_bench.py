"""Naive-baseline benchmark — makes the 2×-of-BASELINE criterion computable.

BASELINE.md defines the baseline as "a straightforward single-pass
PySpark implementation of each operator". This script times exactly
that: for every headline query in bench.py, a naive twin written the
way a first-pass user would — plain DataFrame calls, no broadcast
hints, no bucketed as-of joins, no map-side HOF signatures, no
IVF/numpy fast paths — in the SAME session as the engine run, so the
comparison isolates plan/algorithm differences, not conf differences.

Usage: python tools/baseline_bench.py  →  one JSON line
  {"metric": "naive baseline wall-clock", "value": total,
   "queries": {name: sec}, "sf": ...}

Compare against bench.py's JSON: engine_sec / naive_sec ≤ 2.0 is the
target for every query (most should be ≤ 1.0 — the engine should BEAT
naive where it has a better algorithm).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lfb_data_warehouse_spark.functions.text import (
    STOPWORDS,
    salted_minhash,
    shingles,
    tokens,
)
from lfb_data_warehouse_spark.session import get_spark
from lfb_data_warehouse_spark.sources.testdata import load_table

DEC2 = "decimal(18,2)"
DEC4 = "decimal(18,4)"


# ---------------------------------------------------------------------------
# Naive twins. Each mirrors the headline query's semantics with the
# straightforward first-pass formulation.
# ---------------------------------------------------------------------------


def mart_per_month(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum("o_totalprice").alias("total_price"),
            F.avg("o_totalprice").alias("avg_price"),
        )
        .orderBy("order_year", "order_month")
    )


def mart_per_segment(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("o_custkey").alias("customer_count"),
            F.sum("o_totalprice").alias("total_price"),
            F.avg("o_totalprice").alias("avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


def pivot_priority_by_year(spark, sf_dir):
    # naive pivot: no fixed value list → Spark runs a distinct-values
    # pre-job before the pivot aggregate
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderpriority")
        .agg(F.avg("o_totalprice"))
    )


def join_enrich_brand_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .groupBy(F.coalesce("p_brand", F.lit("Unknown")).alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("item_count"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


def window_trailing_30d(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
    w = Window.partitionBy("o_custkey").orderBy(day_no).rangeBetween(-29, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum("o_totalprice").over(w).alias("trailing_30d_total"),
        F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
    )


def tpch_q1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_extendedprice").alias("sum_base_price"),
        F.sum(disc_price).alias("sum_disc_price"),
        F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
        F.avg("l_quantity").alias("avg_qty"),
        F.avg("l_extendedprice").alias("avg_price"),
        F.avg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def tpch_q5_local_supplier_volume(spark, sf_dir):
    # naive: chain every join, filter at the END (relies on Catalyst to
    # push the predicates down), no broadcast hints
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
    )
    return j.groupBy("n_name").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


def tpch_q6_forecast_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("item_count"),
    )


def tpch_q18_large_volume(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")).filter(F.col("q") > 150)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # naive: plain inner join against the subquery instead of a semi join
    j = (
        o.join(big.select("l_orderkey"), o.o_orderkey == F.col("l_orderkey"))
        .join(c, o.o_custkey == c.c_custkey)
        .join(li.select(F.col("l_orderkey").alias("lk"), "l_quantity"), F.col("o_orderkey") == F.col("lk"))
    )
    return j.groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice").agg(
        F.sum("l_quantity").alias("sum_qty")
    )


def flagship_star_fact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    f = (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .join(o, li.l_orderkey == o.o_orderkey, "left")
        .join(c, o.o_custkey == c.c_custkey, "left")
        .join(n, c.c_nationkey == n.n_nationkey, "left")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return f.select(
        F.sha2(F.concat_ws("|", "l_orderkey", "l_linenumber"), 256).alias("line_key"),
        "l_orderkey",
        "l_linenumber",
        F.coalesce("p_brand", F.lit("Unknown")).alias("brand"),
        F.coalesce("c_mktsegment", F.lit("Unknown")).alias("segment"),
        F.coalesce("n_name", F.lit("Unknown")).alias("nation"),
        F.year("o_orderdate").alias("order_year"),
        rev.alias("revenue"),
        (rev / F.col("l_quantity")).alias("revenue_per_unit"),
    )


def asof_nearest_purchase(spark, sf_dir):
    # naive as-of: equi-join on user + |dt| range predicate — the whole
    # purchase history of each user joins every click before the filter
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("c_ts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    dt = F.abs(F.unix_micros("c_ts") - F.unix_micros("p_ts"))
    j = clicks.join(
        purch, (clicks.user_id == purch.p_user) & (dt <= 43_200_000_000), "inner"
    )
    w = Window.partitionBy("event_id").orderBy(dt.asc(), F.col("purchase_event_id").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "purchase_event_id", dt.alias("dt_us"), "purchase_value")
    )


def interval_join_purchase_clicks(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    j = clicks.join(
        purch,
        (clicks.user_id == purch.p_user)
        & (F.unix_micros("c_ts") >= F.unix_micros("p_ts"))
        & (F.unix_micros("c_ts") <= F.unix_micros("p_ts") + 7_200_000_000),
    )
    return j.groupBy("purchase_id", "user_id").agg(
        F.count(F.lit(1)).alias("click_count"), F.min("click_id").alias("first_click_id")
    )


def salted_agg_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("value").alias("event_count"),
        F.sum("value").alias("total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def tpch_q9_product_profit(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .filter(F.col("p_type") == "STANDARD")
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")).agg(
        F.sum(profit).alias("sum_profit")
    )


def tpch_q21_waiting_supplier(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem").join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    per_order = li.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.max("l_shipdate").alias("max_ship"), F.countDistinct("l_suppkey").alias("n_supp")
    )
    at_max = (
        li.join(
            per_order,
            (F.col("l_orderkey") == F.col("po_orderkey")) & (F.col("l_shipdate") == F.col("max_ship")),
        )
        .select("l_orderkey", "l_suppkey", "n_supp")
        .distinct()
    )
    blamed = (
        at_max.filter(F.col("n_supp") > 1)
        .groupBy("l_orderkey")
        .agg(F.min("l_suppkey").alias("bk"), F.count(F.lit(1)).alias("n_at_max"))
        .filter(F.col("n_at_max") == 1)
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        blamed.join(s, F.col("bk") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


MINHASH_N, MINHASH_HASHES, MINHASH_BANDS, MINHASH_THRESHOLD = 2, 8, 4, 0.5


def dedup_minhash_lsh(spark, sf_dir):
    # naive minhash: explode shingles to rows and build signatures with a
    # shuffle groupBy-min per hash (vs the engine's map-side HOF
    # signatures), then band join + explode-join-groupBy Jaccard verify
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.array_distinct(shingles(tokens("text"), MINHASH_N)).alias("ss")
    )
    e = sh.select("doc_id", F.explode("ss").alias("shingle"))
    sig = e.groupBy("doc_id").agg(
        # salted_minhash is already a min(...) aggregate expression
        *[salted_minhash("shingle", i).alias(f"h{i}") for i in range(MINHASH_HASHES)]
    )
    rows = MINHASH_HASHES // MINHASH_BANDS
    bands = None
    for b in range(MINHASH_BANDS):
        part = sig.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[f"h{b * rows + r}" for r in range(rows)])).alias("bh"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a = bands.select(F.col("doc_id").alias("id_a"), "band", "bh")
    bb = bands.select(F.col("doc_id").alias("id_b"), "band", "bh")
    cand = (
        a.join(bb, ["band", "bh"]).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
    )
    ea = e.select(F.col("doc_id").alias("id_a"), "shingle")
    eb = e.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        cand.join(ea, "id_a").join(eb, ["id_b", "shingle"]).groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("i"))
    )
    sz = sh.select("doc_id", F.size("ss").alias("sz"))
    jac = F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i"))
    return (
        inter.join(sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb")), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= MINHASH_THRESHOLD)
    )


def _naive_cosine_topk(spark, sf_dir, probe_ids, k):
    # naive exact search: whole corpus × every probe, float arithmetic
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("embedding", "embedding", lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    v = emb.select("vec_id", "embedding", norm.alias("nm"))
    probes = v.filter(F.col("vec_id").isin(list(probe_ids))).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv"), F.col("nm").alias("pnm")
    )
    dot = F.aggregate(
        F.zip_with("embedding", "pv", lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        v.crossJoin(probes)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot / (F.col("nm") * F.col("pnm"))).alias("score"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_search_persisted(spark, sf_dir):
    # naive ANN baseline: no index — brute-force the whole corpus per
    # probe batch (what a user without an index does for every search)
    return _naive_cosine_topk(spark, sf_dir, probe_ids=range(20), k=5)


def knn_numpy_topk(spark, sf_dir):
    # naive twin of the numpy fast path: same search, JVM expressions
    emb = load_table(spark, sf_dir, "embeddings")
    probe_ids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(100).collect()]
    return _naive_cosine_topk(spark, sf_dir, probe_ids, k=10)


def text_quality_stats(spark, sf_dir):
    # naive: explode tokens and aggregate per doc (a shuffle of every
    # token) instead of the engine's map-only array expressions
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.length("text").alias("chars"), tokens("text").alias("w"))
    e = t.select("doc_id", "lang", "chars", F.explode("w").alias("tok"))
    agg = e.groupBy("doc_id", "lang", "chars").agg(
        F.count(F.lit(1)).alias("token_count"),
        F.countDistinct("tok").alias("distinct_tokens"),
        F.avg(F.length("tok")).alias("avg_token_len"),
        (F.count(F.when(F.col("tok").isin(STOPWORDS), 1)).cast("double") / F.count(F.lit(1))).alias(
            "stopword_ratio"
        ),
    )
    return agg.select(
        "doc_id",
        "lang",
        "token_count",
        "distinct_tokens",
        F.col("chars").alias("char_count"),
        "avg_token_len",
        "stopword_ratio",
        (
            (F.col("distinct_tokens").cast("double") / F.col("token_count"))
            * (1 - F.col("stopword_ratio"))
        ).alias("quality"),
    )


def c4_clean_documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = tokens("text")
    gated = (
        docs.filter((F.col("lang") == "en") & (F.col("n_chars") >= 150))
        .withColumn("w", w)
        .withColumn("token_count", F.size("w"))
        .filter(F.col("token_count") >= 30)
        .withColumn(
            "stop_ratio",
            F.size(F.filter("w", lambda x: x.isin(STOPWORDS))).cast("double") / F.col("token_count"),
        )
        .filter(F.col("stop_ratio") <= 0.5)
    )
    # naive dedup: groupBy text-hash for the min survivor, join back
    keep = gated.groupBy(F.sha2("text", 256).alias("h")).agg(F.min("doc_id").alias("doc_id"))
    return gated.join(keep, "doc_id").select(
        "doc_id", "lang", "n_chars", "token_count", "stop_ratio"
    )


def dedup_keep_canonical(spark, sf_dir):
    # naive end-to-end dedup: exploded-shingle pair generation (a
    # shuffle of every shingle OCCURRENCE, vs the engine's map-side
    # arrays) + the same components kernel + join-back keep/drop
    from lfb_data_warehouse_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "source", F.array_distinct(shingles(tokens("text"), 2)).alias("ss")
    )
    e = sh.select("doc_id", "source", F.explode("ss").alias("shingle"))
    ea = e.select(F.col("doc_id").alias("id_a"), "source", "shingle")
    eb = e.select(F.col("doc_id").alias("id_b"), "source", "shingle")
    inter = (
        ea.join(eb, ["source", "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sz = sh.select("doc_id", F.size("ss").alias("sz"))
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    jac = F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i"))
    pairs = inter.join(sa, "id_a").join(sb, "id_b").filter(jac >= 0.2)
    labels = connected_components(pairs, src="id_a", dst="id_b")
    drop = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    canon = (
        labels.filter(F.col("node") == F.col("component"))
        .join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "cluster_size")
    )
    return (
        docs.join(drop, "doc_id", "left_anti")
        .join(canon, "doc_id", "left")
        .select("doc_id", "source", F.coalesce("cluster_size", F.lit(1)).alias("represents"))
    )


def semantic_dedup_keep(spark, sf_dir):
    # naive semantic dedup: all-pairs cosine over the WHOLE corpus (no
    # clustering), float arithmetic — the O(n²) formulation SemDeDup's
    # within-cluster pairing exists to avoid. NOTE: unlike the other
    # twins this one is equal-TASK, not equal-RESULT — with no clusters
    # it also drops cross-cluster pairs the engine keeps (and emits the
    # source `label`, having no assignment). Timing comparison only; do
    # not cross-check row hashes against the engine output.
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("embedding", "embedding", lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    v = emb.select("vec_id", "embedding", norm.alias("nm"))
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("nm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("nm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    drops = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter((dot / (F.col("na") * F.col("nb"))) >= 0.45)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return emb.join(drops, "vec_id", "left_anti").select("vec_id", "label")


def dedup_components_star(spark, sf_dir):
    # naive cluster assignment: same exploded-shingle pair generation
    # as naive dedup_keep_canonical, then the engine's one components
    # kernel — so the bench ratio prices only the pair generation, not
    # one components algorithm against another
    from lfb_data_warehouse_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "source", F.array_distinct(shingles(tokens("text"), 2)).alias("ss")
    )
    e = sh.select("doc_id", "source", F.explode("ss").alias("shingle"))
    ea = e.select(F.col("doc_id").alias("id_a"), "source", "shingle")
    eb = e.select(F.col("doc_id").alias("id_b"), "source", "shingle")
    inter = (
        ea.join(eb, ["source", "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sz = sh.select("doc_id", F.size("ss").alias("sz"))
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    jac = F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i"))
    pairs = inter.join(sa, "id_a").join(sb, "id_b").filter(jac >= 0.2)
    labels = connected_components(pairs, src="id_a", dst="id_b")
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "component").select(
        F.col("node").alias("doc_id"), "component", "cluster_size"
    )


def pq_adc_search_persisted(spark, sf_dir):
    # naive ANN: brute-force full-precision cosine over probe × corpus
    # — the formulation PQ exists to compress (candidates carry whole
    # float vectors, every pair does a full-dim dot product). NOTE:
    # equal-TASK, not equal-RESULT — brute force is exact, PQ-ADC is
    # the documented approximation. Timing comparison only.
    from lfb_data_warehouse_spark.plans.datapipe_queries import KNN_K, KNN_PROBES

    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("embedding", "embedding", lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    v = emb.select("vec_id", "embedding", norm.alias("nm"))
    p = v.filter(F.col("vec_id") < KNN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pv"),
        F.col("nm").alias("pn"),
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("nm").alias("cn"),
    )
    dot = F.aggregate(
        F.zip_with("pv", "cv", lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        p.join(c, F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", (dot / (F.col("pn") * F.col("cn"))).alias("score"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("probe_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "score")
    )


def gopher_quality_gates(spark, sf_dir):
    # naive Gopher battery: explode words AND lines into row streams,
    # aggregate per doc_id, join the metric tables back — three
    # shuffles of every token occurrence vs the engine's map-only
    # array-HOF formulation over one scan
    from lfb_data_warehouse_spark.plans.datapipe_queries import (
        GOPHER_MAX_BULLET_RATIO,
        GOPHER_MAX_ELLIPSIS_RATIO,
        GOPHER_MAX_MWL,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_RATIO,
        GOPHER_MIN_MWL,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    wstats = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).alias("word_chars"),
        F.sum(F.col("w").rlike("[a-z]").cast("long")).alias("alpha_words"),
        F.size(F.array_distinct(F.collect_list(F.when(F.col("w").isin(list(STOPWORDS)), F.col("w"))))).alias(
            "stop_hits"
        ),
    )
    lines = docs.select("doc_id", F.explode(F.split("text", "\n")).alias("line"))
    lstats = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            (
                F.ltrim("line").startswith("- ")
                | F.ltrim("line").startswith("* ")
                | F.ltrim("line").startswith("•")
            ).cast("long")
        ).alias("bullets"),
        F.sum(F.rtrim("line").endswith("...").cast("long")).alias("ellipses"),
    )
    sym_count = (
        F.length("text") - F.length(F.translate(F.col("text"), "#", ""))
        + F.length("text") - F.length(F.translate(F.col("text"), "…", ""))
    )
    base = docs.select("doc_id", sym_count.alias("sym_count"))
    m = base.join(wstats, "doc_id").join(lstats, "doc_id")
    mwl = F.col("word_chars").cast("double") / F.col("n_words")
    symbol_ratio = F.col("sym_count").cast("double") / F.col("n_words")
    bullet_ratio = F.col("bullets").cast("double") / F.col("n_lines")
    ellipsis_ratio = F.col("ellipses").cast("double") / F.col("n_lines")
    alpha_ratio = F.col("alpha_words").cast("double") / F.col("n_words")
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & (mwl >= GOPHER_MIN_MWL)
        & (mwl <= GOPHER_MAX_MWL)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_ratio <= GOPHER_MAX_BULLET_RATIO)
        & (ellipsis_ratio <= GOPHER_MAX_ELLIPSIS_RATIO)
        & (alpha_ratio >= GOPHER_MIN_ALPHA_RATIO)
        & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS)
    )
    return m.filter(F.col("n_words") > 0).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_ratio, 6).alias("bullet_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        keep.alias("keep"),
    )


_NAIVE_CORPUS_DIRS: dict[str, str] = {}


def prepare_training_corpus(spark, sf_dir):
    # Staged-materialized, semi-join-gated composition: each stage runs
    # as its own job — compute a doc_id keep-list from the ORIGINAL
    # corpus scan, semi-join it onto the running survivor set, and
    # materialize survivors to parquet before the next stage reads them
    # back. This is the multi-job nightly pipeline (one Airflow task
    # per stage) that the engine's single lazy plan replaces. Per-stage
    # predicates are the ENGINE's own map-only expressions on purpose:
    # the race isolates the COMPOSITION cost (keep-list shuffles, disk
    # round-trips, per-job overhead — the 12x shuffle-cut claim), not
    # stage formulation differences, which have their own bench rows
    # (gopher_quality_gates, c4_clean_documents). Equal-RESULT: the
    # final packed aggregate is bit-identical to the engine query's.
    import tempfile

    from pyspark.sql import Window as W

    from lfb_data_warehouse_spark.operators.packing import pack_sequences
    from lfb_data_warehouse_spark.operators.similarity import semantic_dedup
    from lfb_data_warehouse_spark.plans.datapipe_queries import (
        C4_MAX_STOP_RATIO,
        C4_MIN_CHARS,
        C4_MIN_TOKENS,
        EMB_DIM,
        PACK_SEQ_LEN,
        REPEAT_DUP_MAX,
        REPEAT_NGRAM_N,
        SEMDEDUP_COS,
        _gopher_metrics,
    )

    if sf_dir not in _NAIVE_CORPUS_DIRS:
        staged = tempfile.mkdtemp(prefix="lfb_naive_corpus_")
        _NAIVE_CORPUS_DIRS[sf_dir] = staged
        # reclaim the corpus-sized staging data at interpreter exit
        # (r7 ADVICE) — atexit, so it never lands inside a timed run
        import atexit
        import shutil

        atexit.register(shutil.rmtree, staged, ignore_errors=True)
    d = _NAIVE_CORPUS_DIRS[sf_dir]
    docs = load_table(spark, sf_dir, "documents")
    w = tokens("text")

    # stage 1: C4 gates -> keep-list -> semi-join -> materialize
    c4_keep = (
        docs.filter((F.col("lang") == "en") & (F.col("n_chars") >= C4_MIN_CHARS))
        .withColumn("tok", F.size(w).cast("long"))
        .filter(F.col("tok") >= C4_MIN_TOKENS)
        .withColumn(
            "stop_ratio",
            F.size(F.filter(w, lambda x: x.isin(STOPWORDS))).cast("double")
            / F.col("tok"),
        )
        .filter(F.col("stop_ratio") <= C4_MAX_STOP_RATIO)
        .select("doc_id")
    )
    docs.join(c4_keep, "doc_id", "left_semi").write.mode("overwrite").parquet(d + "/s1")
    s1 = spark.read.parquet(d + "/s1")

    # stage 2: Gopher quality keep-list -> semi-join -> materialize
    gq_keep = docs.filter(_gopher_metrics()["keep"]).select("doc_id")
    s1.join(gq_keep, "doc_id", "left_semi").write.mode("overwrite").parquet(d + "/s2")
    s2 = spark.read.parquet(d + "/s2")

    # stage 3: repetition-gate keep-list -> semi-join -> materialize
    grams = shingles(w, REPEAT_NGRAM_N)
    rep_dup = (
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / F.size(grams)
    )
    rep_keep = docs.filter(rep_dup <= F.lit(REPEAT_DUP_MAX)).select("doc_id")
    s2.join(rep_keep, "doc_id", "left_semi").write.mode("overwrite").parquet(d + "/s3")
    s3 = spark.read.parquet(d + "/s3")

    # stage 4: SemDeDup drop-list -> anti-join -> materialize
    emb = load_table(spark, sf_dir, "embeddings")
    sem_surv = semantic_dedup(
        emb, "vec_id", "embedding", "label", threshold=SEMDEDUP_COS, dim=EMB_DIM
    ).select("vec_id")
    sem_drop = (
        emb.select("vec_id")
        .join(sem_surv, "vec_id", "left_anti")
        .select(F.col("vec_id").alias("doc_id"))
    )
    s3.join(sem_drop, "doc_id", "left_anti").write.mode("overwrite").parquet(d + "/s4")
    s4 = spark.read.parquet(d + "/s4")

    # stage 5: exact-dedup survivors (re-tokenize for tok: the staged
    # pipeline dropped the derived column at the stage-1 materialization
    # boundary, so it pays the recompute — part of the composition cost)
    win = W.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    (
        s4.withColumn("tok", F.size(w).cast("long"))
        .withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "source", "tok")
        .write.mode("overwrite")
        .parquet(d + "/s5")
    )
    s5 = spark.read.parquet(d + "/s5")

    # stage 6, returned lazily — the bench loop's noop write times it
    packed = pack_sequences(
        s5, group_col="source", order_cols=["doc_id"], token_col="tok",
        seq_len=PACK_SEQ_LEN,
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").cast("long").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_NAIVE_CRAWL_DIRS: dict[str, str] = {}


def crawl_to_corpus(spark, sf_dir):
    # Staged-materialized crawl pipeline: parse the WARCs to a pages
    # table on disk, read it back to strip boilerplate into a text
    # table on disk, read THAT back for the quality gates + dedup, and
    # only then pack — one job per stage, the way a crawl pipeline is
    # usually operated (fetch/extract/clean as separate nightly tasks).
    # Stage predicates and the packing operator are the engine's own
    # (equal-RESULT twin): the race prices the COMPOSITION — page and
    # text tables round-tripping through disk instead of flowing
    # through one lazy plan.
    import tempfile

    from pyspark.sql import Window as W

    from lfb_data_warehouse_spark.functions.text import html_text
    from lfb_data_warehouse_spark.operators.multimodal import (
        extract_warc_pages,
        synthesize_warc_html,
    )
    from lfb_data_warehouse_spark.operators.packing import pack_sequences
    from lfb_data_warehouse_spark.plans.datapipe_queries import (
        C4_MAX_STOP_RATIO,
        C4_MIN_TOKENS,
        CRAWL_PACK_SHARDS,
        GOPHER_MIN_ALPHA_RATIO,
        PACK_SEQ_LEN,
    )

    if sf_dir not in _NAIVE_CRAWL_DIRS:
        staged = tempfile.mkdtemp(prefix="lfb_naive_crawl_")
        _NAIVE_CRAWL_DIRS[sf_dir] = staged
        import atexit
        import shutil

        atexit.register(shutil.rmtree, staged, ignore_errors=True)
    d = _NAIVE_CRAWL_DIRS[sf_dir]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # stage 1: parse captures -> pages table on disk
    extract_warc_pages(synthesize_warc_html(docs, "doc_id", "text")).write.mode(
        "overwrite"
    ).parquet(d + "/pages")
    pages = spark.read.parquet(d + "/pages")

    # stage 2: boilerplate strip -> text table on disk
    pages.select("doc_id", html_text(F.col("html")).alias("text")).write.mode(
        "overwrite"
    ).parquet(d + "/text")
    ext = spark.read.parquet(d + "/text")

    # stage 3: quality gates + exact dedup -> survivors on disk
    w = tokens("text")
    scored = (
        ext.withColumn("tok", F.size(w).cast("long"))
        .filter(F.col("tok") >= C4_MIN_TOKENS)
        .withColumn(
            "stop_ratio",
            F.size(F.filter(w, lambda x: x.isin(STOPWORDS))).cast("double")
            / F.col("tok"),
        )
        .filter(F.col("stop_ratio") <= C4_MAX_STOP_RATIO)
        .withColumn(
            "alpha_ratio",
            F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double")
            / F.col("tok"),
        )
        .filter(F.col("alpha_ratio") >= GOPHER_MIN_ALPHA_RATIO)
    )
    win = W.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    (
        scored.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id", (F.col("doc_id") % CRAWL_PACK_SHARDS).alias("shard"), "tok"
        )
        .write.mode("overwrite")
        .parquet(d + "/survivors")
    )
    survivors = spark.read.parquet(d + "/survivors")

    # stage 4, returned lazily — the bench loop's noop write times it
    packed = pack_sequences(
        survivors, group_col="shard", order_cols=["doc_id"], token_col="tok",
        seq_len=PACK_SEQ_LEN,
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").cast("long").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def ewma_customer_spend(spark, sf_dir):
    # naive: same grouped collect, but the recursive fold runs in a
    # row-at-a-time PYTHON udf (serialize every history array out to a
    # Python worker) instead of the JVM-side aggregate HOF
    import math

    orders = load_table(spark, sf_dir, "orders")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("o_orderdate").alias("d"),
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").cast("double").alias("v"),
            )
        )
    )
    g = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        arr.alias("a"), F.count(F.lit(1)).alias("n_orders")
    )

    @F.udf("double")
    def fold(vs):
        acc = vs[0]
        for x in vs[1:]:
            acc = math.floor((acc * 0.9 + x * 0.1) * 1000000 + 0.5) / 1000000.0
        return acc

    vs = F.transform(F.col("a"), lambda s: s["v"])
    return g.select(
        "custkey",
        "n_orders",
        F.element_at(vs, -1).alias("last_price"),
        fold(vs).alias("ewma_price"),
    )


def basket_brand_affinity(spark, sf_dir):
    # naive: pair join over the RAW lineitem-brand rows (lineitems² per
    # order, deduplicated only after the join) — the blowup the
    # engine's distinct-(order, brand) collapse avoids; supports via
    # countDistinct, no broadcast hints
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob_raw = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    tot = ob_raw.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    per = ob_raw.groupBy("p_brand").agg(
        F.countDistinct("l_orderkey").alias("support")
    )
    a = ob_raw.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = ob_raw.select(
        F.col("l_orderkey").alias("ok_b"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("ok_b") == F.col("l_orderkey"))
            & (F.col("brand_a") < F.col("brand_b")),
        )
        .select("l_orderkey", "brand_a", "brand_b")
        .distinct()
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("support_ab"))
        .filter(F.col("support_ab") >= 20)
    )
    sa = per.select(F.col("p_brand").alias("brand_a"), F.col("support").alias("sa"))
    sb = per.select(F.col("p_brand").alias("brand_b"), F.col("support").alias("sb"))
    j = pairs.join(sa, "brand_a").join(sb, "brand_b").crossJoin(tot)
    lift = (F.col("support_ab") * F.col("n_orders")).cast("double") / (
        F.col("sa") * F.col("sb")
    )
    w = Window.orderBy(
        F.col("lift_raw").desc(), F.col("brand_a").asc(), F.col("brand_b").asc()
    )
    return (
        j.withColumn("lift_raw", lift)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 20)
        .select(
            "brand_a", "brand_b", "support_ab",
            F.round("lift_raw", 6).alias("lift"), "rank",
        )
    )


def anomaly_daily_revenue(spark, sf_dir):
    # naive: trailing stats via a per-day range SELF-JOIN (every day
    # matched against its 29 predecessors) instead of one ordered
    # window pass
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
        .cast("decimal(15,2)")
        .alias("rev")
    )
    day_no = F.datediff(F.col("day"), F.lit("1990-01-01").cast("date"))
    a = daily.select("day", "rev", day_no.alias("dn"))
    b = daily.select(day_no.alias("dn_b"), F.col("rev").alias("rev_b"))
    j = a.join(
        b, (F.col("dn_b") >= F.col("dn") - 29) & (F.col("dn_b") <= F.col("dn") - 1), "left"
    )
    stats = j.groupBy("day", "rev").agg(
        F.count("rev_b").alias("trailing_n"),
        F.sum("rev_b").cast("double").alias("s"),
        F.sum(F.col("rev_b") * F.col("rev_b")).cast("double").alias("ss"),
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


def stream_sliding_bench(spark, sf_dir):
    # naive: the no-streaming dashboard — after EVERY file arrival,
    # batch-recompute the full hopping-window aggregate over all data
    # seen so far. K arrivals read N*(K+1)/2 rows vs the stream's N;
    # the per-refresh jobs also pay plan/scan setup K times. Reads the
    # SAME staged files the engine streams (shared staging helper).
    import glob

    from lfb_data_warehouse_spark.plans.streaming_queries import stage_events_k_files

    events_schema = load_table(spark, sf_dir, "events").schema
    src = stage_events_k_files(spark, sf_dir)
    files = sorted(glob.glob(src + "/part-*"))
    last = None
    for i in range(1, len(files) + 1):
        df = spark.read.schema(events_schema).parquet(*files[:i])
        agg = (
            df.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("event_count"),
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "event_count",
                "total_value",
            )
        )
        if i < len(files):
            agg.write.format("noop").mode("overwrite").save()
        last = agg
    return last


def media_decode_bench(spark, sf_dir):
    # naive media decode: the IDENTICAL pure-Python 4:2:0 JPEG decode,
    # but as a row-at-a-time pickled UDF (BatchEvalPython; useArrow
    # forced off) over the same synthesized fixture — one pickle
    # round-trip per image instead of one Arrow batch per partition.
    # Same codec both sides, so the ratio prices the execution shape.
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.multimodal import (
        synthesize_jpeg_subsampled,
    )
    from lfb_data_warehouse_spark.sources.testdata import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 5 <= 1)
    )
    media = synthesize_jpeg_subsampled(docs, "doc_id")

    struct_t = (
        "width long, height long, cb_width long, cb_height long, n_mcus long, "
        "y_sum long, cb_sum long, cr_sum long, first_px long, last_px long"
    )

    @F.udf(struct_t, useArrow=False)
    def dec_one(payload):
        from lfb_data_warehouse_spark.operators.multimodal import decode_real

        d = decode_real(bytes(payload))
        if d.get("sampling") != [(2, 2), (1, 1), (1, 1)]:
            raise ValueError("expected a 4:2:0 three-component JPEG")
        sums = [sum(p) for p in d["planes"]]
        return (
            d["width"], d["height"],
            d["plane_dims"][1][0], d["plane_dims"][1][1],
            (d["width"] // 16) * (d["height"] // 16),
            sums[0], sums[1], sums[2],
            d["planes"][0][0], d["planes"][2][-1],
        )

    return media.select("doc_id", dec_one("payload").alias("s")).select(
        "doc_id", "s.*"
    )


def audio_decode_bench(spark, sf_dir):
    # naive audio decode: the IDENTICAL pure-Python FLAC/ADPCM codecs,
    # but as a row-at-a-time pickled UDF (BatchEvalPython; useArrow
    # forced off) over the same synthesized fixtures — one pickle
    # round-trip per stream instead of one Arrow batch per partition.
    # Same codecs both sides, so the ratio prices the execution shape.
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.multimodal import (
        synthesize_adpcm,
        synthesize_flac,
    )
    from lfb_data_warehouse_spark.plans.datapipe_queries import (
        ADPCM_DOC_MOD,
        FLAC_DOC_MOD,
    )
    from lfb_data_warehouse_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = synthesize_flac(
        docs.filter(F.col("doc_id") % FLAC_DOC_MOD == 10), "doc_id"
    ).unionByName(
        synthesize_adpcm(
            docs.filter(F.col("doc_id") % ADPCM_DOC_MOD == 9), "doc_id"
        )
    )

    struct_t = (
        "media_type string, encoding string, n_samples long, "
        "sum_linear long, sum_abs long, peak long"
    )

    @F.udf(struct_t, useArrow=False)
    def dec_one(payload):
        from lfb_data_warehouse_spark.operators.multimodal import decode_real

        d = decode_real(bytes(payload))
        if "samples" not in d:
            raise ValueError(f"not an audio payload ({d.get('media_type')})")
        s = d["samples"]
        return (
            d["media_type"], d.get("encoding"), len(s),
            sum(s), sum(abs(v) for v in s), max(abs(v) for v in s),
        )

    return media.select("doc_id", dec_one("payload").alias("s")).select(
        "doc_id", "s.*"
    )


NAIVE = {
    "flagship_star_fact": flagship_star_fact,
    "audio_decode_bench": audio_decode_bench,
    "asof_nearest_purchase": asof_nearest_purchase,
    "interval_join_purchase_clicks": interval_join_purchase_clicks,
    "salted_agg_events": salted_agg_events,
    "tpch_q9_product_profit": tpch_q9_product_profit,
    "tpch_q21_waiting_supplier": tpch_q21_waiting_supplier,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_keep_canonical": dedup_keep_canonical,
    "semantic_dedup_keep": semantic_dedup_keep,
    "ivf_search_persisted": ivf_search_persisted,
    "text_quality_stats": text_quality_stats,
    "c4_clean_documents": c4_clean_documents,
    "mart_per_month": mart_per_month,
    "mart_per_segment": mart_per_segment,
    "pivot_priority_by_year": pivot_priority_by_year,
    "join_enrich_brand_revenue": join_enrich_brand_revenue,
    "window_trailing_30d": window_trailing_30d,
    "tpch_q1_pricing_summary": tpch_q1_pricing_summary,
    "tpch_q5_local_supplier_volume": tpch_q5_local_supplier_volume,
    "tpch_q6_forecast_revenue": tpch_q6_forecast_revenue,
    "tpch_q18_large_volume": tpch_q18_large_volume,
    "knn_numpy_topk": knn_numpy_topk,
    "dedup_components_star": dedup_components_star,
    "pq_adc_search_persisted": pq_adc_search_persisted,
    "gopher_quality_gates": gopher_quality_gates,
    # naive twin for the daily incremental step: the nightly FULL
    # from-scratch dedup it replaces (same survivor output contract)
    "incremental_dedup_daily": dedup_keep_canonical,
    # composed IVFPQ persisted search races the same no-index brute
    # scan as the single-technique persisted rows (equal-TASK twin)
    "ivfpq_search_persisted": ivf_search_persisted,
    # flagship composed pipeline vs the staged-materialized multi-job
    # nightly it replaces (equal-RESULT twin)
    "prepare_training_corpus": prepare_training_corpus,
    # round-11 crawl flagship vs the fetch/extract/clean multi-job
    # pipeline it replaces (equal-RESULT twin, staged through disk)
    "crawl_to_corpus": crawl_to_corpus,
    # round-5 analytics gates vs their first-pass formulations:
    # Python-UDF fold / raw-rows pair join / per-day range self-join
    "ewma_customer_spend": ewma_customer_spend,
    "basket_brand_affinity": basket_brand_affinity,
    "anomaly_daily_revenue": anomaly_daily_revenue,
    # round-8 streaming row: incremental state vs recompute-per-arrival
    "stream_sliding_bench": stream_sliding_bench,
    # round-10 media row: Arrow batch decode vs row-at-a-time pickled UDF
    "media_decode_bench": media_decode_bench,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("baseline_bench")
    # same warmup protocol as bench.py
    spark.range(spark.sparkContext.defaultParallelism * 2).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, schema="id long").write.format("noop").mode("overwrite").save()
    for fn in NAIVE.values():
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    timings: dict[str, float] = {}
    for name, fn in NAIVE.items():
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    sf_tail = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "naive single-pass baseline wall-clock (noop-sink)",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf_tail) if sf_tail.replace(".", "").isdigit() else -1.0,
            }
        )
    )


if __name__ == "__main__":
    main()
