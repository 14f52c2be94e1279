"""Unit tests: relational operators (incremental, temporal, dims, topk,
agg, checks) on tiny in-memory frames."""

import datetime as dt

from pyspark.sql import functions as F

from lfb_data_warehouse_spark.operators.agg import pivot_agg, rollup_mart
from lfb_data_warehouse_spark.operators.checks import (
    assert_unique,
    profile,
    referential_orphans,
    run_contract,
)
from lfb_data_warehouse_spark.operators.dims import (
    collapse_per_key,
    date_spine,
    latest_per_group,
)
from lfb_data_warehouse_spark.operators.incremental import (
    incremental_append,
    incremental_new_rows,
)
from lfb_data_warehouse_spark.operators.temporal import interval_join, nearest_within
from lfb_data_warehouse_spark.operators.topk import max_by_per_group, top_k_per_group

from cc_model import union_find_components


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_incremental_idempotent_replay(spark):
    """3-batch cumulative replay (reference batching/ harness): each batch
    re-delivers earlier rows; re-running a batch adds 0 new rows."""
    batches = [
        [(1, "a"), (2, "b")],
        [(1, "a"), (2, "b"), (3, "c")],
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")],
    ]
    existing = spark.createDataFrame([], "id int, v string")
    for batch in batches:
        staged = spark.createDataFrame(batch, "id int, v string")
        new = incremental_new_rows(staged, existing, ["id"])
        existing = incremental_append(staged, existing, ["id"])
        # re-run the same batch: nothing new
        assert incremental_new_rows(staged, existing, ["id"]).count() == 0
    assert existing.count() == 4
    assert new.count() == 1  # last batch delivered exactly one new row


def test_nearest_within_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, ts("2024-01-01 12:00:00")), (2, 10, ts("2024-01-03 00:00:00")),
         (3, 20, ts("2024-01-01 12:00:00"))],
        "id int, k int, lts timestamp",
    )
    right = spark.createDataFrame(
        [(101, 10, ts("2024-01-01 10:00:00")), (102, 10, ts("2024-01-01 13:30:00")),
         (103, 20, ts("2024-01-02 13:00:00"))],
        "rid int, k int, rts timestamp",
    )
    out = nearest_within(
        left, right, "lts", "rts", tolerance_sec=43200, on=["k"],
        left_key="id", right_tiebreak="rid",
    )
    got = {r["id"]: r["rid"] for r in out.collect()}
    # id=1 matches rid=102 (1.5h) not 101 (2h); id=2 has no reading within
    # 12h; id=3 is key 20, nothing within tolerance (25h away)
    assert got == {1: 102}
    # left join keeps unmatched rows with NULL right side
    outer = nearest_within(
        left, right, "lts", "rts", tolerance_sec=43200, on=["k"],
        left_key="id", right_tiebreak="rid", how="left",
    )
    rows = {r["id"]: r["rid"] for r in outer.collect()}
    assert rows == {1: 102, 2: None, 3: None}


def test_nearest_within_tie_deterministic(spark):
    left = spark.createDataFrame([(1, ts("2024-01-01 12:00:00"))], "id int, lts timestamp")
    right = spark.createDataFrame(
        [(9, ts("2024-01-01 11:00:00")), (5, ts("2024-01-01 13:00:00"))],
        "rid int, rts timestamp",
    )
    out = nearest_within(
        left, right, "lts", "rts", 7200, left_key="id", right_tiebreak="rid"
    ).collect()
    assert out[0]["rid"] == 5  # equal |dt| → smallest rid wins


def test_interval_join_containment(spark):
    points = spark.createDataFrame(
        [(1, 10, ts("2024-01-01 12:00:00")),  # inside A
         (2, 10, ts("2024-01-01 14:00:00")),  # on A's end boundary (inclusive)
         (3, 10, ts("2024-01-01 14:00:01")),  # just past A
         (4, 20, ts("2024-01-01 12:00:00"))],  # right time, wrong key
        "pid int, k int, pts timestamp",
    )
    intervals = spark.createDataFrame(
        [("A", 10, ts("2024-01-01 12:00:00"), ts("2024-01-01 14:00:00"))],
        "ivl string, k int, start_t timestamp, end_t timestamp",
    )
    out = interval_join(points, intervals, "pts", "start_t", "end_t", on=["k"], granularity_sec=3600)
    assert {r["pid"] for r in out.collect()} == {1, 2}


def test_interval_join_long_interval_spans_buckets(spark):
    # interval 10× the bucket granularity: every covered bucket matches,
    # and each (point, interval) pair appears exactly once
    points = spark.createDataFrame(
        [(i, ts(f"2024-01-01 {h:02d}:30:00")) for i, h in enumerate(range(24))],
        "pid int, pts timestamp",
    )
    intervals = spark.createDataFrame(
        [("long", ts("2024-01-01 05:00:00"), ts("2024-01-01 15:00:00"))],
        "ivl string, start_t timestamp, end_t timestamp",
    )
    out = interval_join(points, intervals, "pts", "start_t", "end_t", granularity_sec=3600)
    rows = out.collect()
    assert sorted(r["pid"] for r in rows) == list(range(5, 15))
    assert len(rows) == len({(r["pid"], r["ivl"]) for r in rows})  # no dup pairs


def test_interval_join_renames_colliding_columns(spark):
    points = spark.createDataFrame([(1, ts("2024-01-01 00:30:00"))], "event_id int, ts timestamp")
    intervals = spark.createDataFrame(
        [(7, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"))],
        "event_id int, ts timestamp, end_ts timestamp",
    )
    out = interval_join(points, intervals, "ts", "ts", "end_ts")
    row = out.collect()[0]
    assert row["event_id"] == 1 and row["ivl_event_id"] == 7


def test_deterministic_sample_reproducible_and_unbiased(spark):
    from lfb_data_warehouse_spark.operators.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    df = spark.range(10000).withColumn(
        "stratum", F.when(F.col("id") % 10 == 0, "rare").otherwise("common")
    )
    s1 = deterministic_sample(df, ["id"], 0.2, salt="x")
    s2 = deterministic_sample(df, ["id"], 0.2, salt="x")
    ids1 = sorted(r["id"] for r in s1.collect())
    assert ids1 == sorted(r["id"] for r in s2.collect())  # same salt → same sample
    assert 0.17 < len(ids1) / 10000 < 0.23  # unbiased rate
    other = {r["id"] for r in deterministic_sample(df, ["id"], 0.2, salt="y").collect()}
    assert set(ids1) != other  # different salt → independent draw
    # nested fractions: the 10% sample is a subset of the 20% sample
    sub = {r["id"] for r in deterministic_sample(df, ["id"], 0.1, salt="x").collect()}
    assert sub < set(ids1)

    strat = stratified_sample(df, "stratum", {"rare": 1.0}, ["id"], default_fraction=0.1, salt="x")
    counts = {r["stratum"]: r["n"] for r in strat.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts["rare"] == 1000  # fraction 1.0 keeps everything
    assert 700 < counts["common"] < 1100


def test_date_spine_attributes(spark):
    out = date_spine(spark, "2024-01-05", "2024-01-08").orderBy("date").collect()
    assert [r["date"].isoformat() for r in out] == [
        "2024-01-05", "2024-01-06", "2024-01-07", "2024-01-08"]
    # 2024-01-05 is a Friday: ISO dow 5, not weekend; Sunday the 7th: dow 7
    assert out[0]["day_of_week"] == 5 and out[0]["is_weekend"] is False
    assert out[2]["day_of_week"] == 7 and out[2]["is_weekend"] is True
    assert out[0]["day_name"] == "Friday" and out[0]["month_name"] == "January"


def test_collapse_and_latest(spark):
    df = spark.createDataFrame(
        [("w1", 1, None), ("w1", 2, "B"), ("w1", 3, "C"), ("w2", 1, "X")],
        "key string, ord int, v string",
    )
    c = {r["key"]: r["v"] for r in collapse_per_key(df, ["key"], "ord").collect()}
    assert c == {"w1": "B", "w2": "X"}  # first NON-NULL by order
    latest = {r["key"]: r["v"] for r in latest_per_group(df, ["key"], "ord").collect()}
    assert latest == {"w1": "C", "w2": "X"}


def test_topk_and_maxby(spark):
    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 9.0), ("g", 3, 9.0), ("h", 4, 1.0)],
        "grp string, id int, v double",
    )
    top = top_k_per_group(df, ["grp"], [F.col("v").desc(), F.col("id")], k=2)
    got = [(r["grp"], r["id"]) for r in top.orderBy("grp", "rank").collect()]
    assert got == [("g", 2), ("g", 3), ("h", 4)]
    mb = max_by_per_group(df, ["grp"], "v", ["id"])
    assert {(r["grp"], r["v"]) for r in mb.collect()} == {("g", 9.0), ("h", 1.0)}


def test_pivot_fixed_values(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)], "k string, p string, v double"
    )
    out = pivot_agg(df, ["k"], "p", ["x", "y", "z"], F.sum("v"))
    assert set(out.columns) == {"k", "x", "y", "z"}
    row = {r["k"]: r for r in out.collect()}
    assert row["a"]["x"] == 1.0 and row["a"]["y"] == 2.0 and row["a"]["z"] is None


def test_checks_suite(spark):
    df = spark.createDataFrame([(1, "a"), (2, None), (2, "c")], "id int, v string")
    p = profile(df, pk="id").collect()[0]
    assert p["row_count"] == 3 and p["distinct_id"] == 2 and p["nulls_v"] == 1
    dups = assert_unique(df, ["id"]).collect()
    assert len(dups) == 1 and dups[0]["id"] == 2
    dim = spark.createDataFrame([(1,)], "id int")
    orphans = referential_orphans(df, "id", dim, "id").collect()
    assert [r["id"] for r in orphans] == [2]
    results = run_contract(df, expected_columns=2, pk="id", non_nullable=["v"])
    by_name = {r.name: r.passed for r in results}
    assert by_name["column_count"] and by_name["non_empty"]
    assert not by_name["unique_id"] and not by_name["non_null_v"]


def test_rollup_mart(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)], "k string, v double")
    out = rollup_mart(
        df, ["k"], [F.count(F.lit(1)).alias("n")], order_by=[F.col("k")]
    ).collect()
    assert [(r["k"], r["n"]) for r in out] == [("a", 2), ("b", 1)]


def test_salted_agg_equals_plain_groupby(spark):
    from lfb_data_warehouse_spark.operators.skew import salted_agg

    rows = [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    got = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in salted_agg(
            df,
            keys=["k"],
            measures=[("v", "count", "n"), ("v", "sum", "s"), ("v", "min", "lo"), ("v", "max", "hi")],
            spread_col="id",
            buckets=8,
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"), F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    assert got == want


def test_salted_agg_rejects_avg(spark):
    import pytest

    from lfb_data_warehouse_spark.operators.skew import salted_agg

    df = spark.createDataFrame([(1, "a", 1.0)], "id long, k string, v double")
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], [("v", "avg", "bad")], "id")


def test_salted_join_equals_plain_join(spark):
    from lfb_data_warehouse_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 5 else "rare") for i in range(1, 101)], "id long, k string"
    )
    small = spark.createDataFrame([("hot", 1), ("rare", 2), ("absent", 3)], "k string, dim int")
    for how in ("inner", "left"):
        got = sorted(
            (r["id"], r["k"], r["dim"]) for r in salted_join(big, small, ["k"], "id", 4, how).collect()
        )
        want = sorted((r["id"], r["k"], r["dim"]) for r in big.join(small, ["k"], how).collect())
        assert got == want, how


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's OTHER skew path: for plain shuffled joins with a
    runtime-detected hot key, AQE's skew-join splits the oversized
    partition (skew=true in the final adaptive plan) — no salting
    needed. The salted operators (above) exist for the cases AQE can't
    cover: aggregations (no skew-agg in AQE) and joins whose output
    partitioning a downstream stage requires (AQE declines to split
    unless forceOptimizeSkewedJoin). This test pins that the default
    session config actually delivers the AQE half of the story."""
    from pyspark.sql import functions as F

    tuned = {
        # shrink thresholds so test-sized data crosses them; at real
        # scale the defaults (256 MB, factor 5) play the same role
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(300_000).select(
            F.when(F.col("id") % 3 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.rand(7).alias("x"),
        )
        # distinct right keys: skew detection reads the shuffled INPUT
        # partition sizes, so the join output can stay ~left-sized
        # (~100k rows) instead of fanning out per duplicate right row
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit("d").alias("tag"))
        j = left.join(right, "k")
        assert len(j.collect()) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:600]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scd2_from_history(spark):
    from lfb_data_warehouse_spark.operators.dims import scd2_from_history

    hist = spark.createDataFrame(
        [  # key 1: A, A (no change), B, B, A  → versions A, B, A
            (1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "B"), (1, 5, "A"),
            # key 2: NULL, NULL, C → versions NULL, C (null-safe compare)
            (2, 1, None), (2, 2, None), (2, 3, "C"),
        ],
        "k int, seq int, attr string",
    )
    out = scd2_from_history(hist, key=["k"], order_col="seq", attrs=["attr"]).collect()
    by_key = {}
    for r in sorted(out, key=lambda r: (r["k"], r["valid_from"])):
        by_key.setdefault(r["k"], []).append((r["attr"], r["valid_from"], r["valid_to"], r["is_current"]))
    assert by_key[1] == [("A", 1, 3, False), ("B", 3, 5, False), ("A", 5, None, True)]
    assert by_key[2] == [(None, 1, 3, False), ("C", 3, None, True)]


def test_merge_mart_equals_full_recompute(spark):
    from lfb_data_warehouse_spark.operators.incremental import merge_mart

    full = spark.createDataFrame(
        [("x", 1.0), ("x", 2.0), ("y", 5.0), ("x", 3.0), ("z", 7.0)], "k string, v double"
    )
    measures = [("v", "count", "n"), ("v", "sum", "s"), ("v", "min", "lo"), ("v", "max", "hi")]
    history, delta = full.limit(2), full.subtract(full.limit(2))
    existing = history.groupBy("k").agg(
        F.count("v").alias("n"), F.sum("v").alias("s"), F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    merged = {r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
              for r in merge_mart(existing, delta, ["k"], measures).collect()}
    recomputed = {r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
                  for r in full.groupBy("k").agg(
                      F.count("v").alias("n"), F.sum("v").alias("s"),
                      F.min("v").alias("lo"), F.max("v").alias("hi")).collect()}
    assert merged == recomputed
    # a key arriving only in the delta must appear too
    assert "z" in merged


def test_connected_components_chain_and_islands(spark, cc_paths):
    """A 12-node chain, a triangle and a pair, plus a self-loop and NULL
    endpoints, which are dropped. Each path has its own job budget: the
    driver union-find takes one bounded fetch and no round, and the star
    rounds take one driver action per round; a fixpoint test that also
    counts the edge set and diffs it against the previous round does
    not fit. An empty edge frame gives no rows with the (node,
    component) schema."""
    from lfb_data_warehouse_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(1, 12)]
    edges = spark.createDataFrame(
        chain + [(20, 21), (21, 22), (22, 20), (30, 31)]
        + [(40, 40), (None, 50), (51, None), (None, None)],
        "src int, dst int",
    )
    sc = spark.sparkContext
    # local: 2 jobs, where the star-only kernel took 51. star: 51 jobs;
    # the bound rejects a count + subtract fixpoint test (65) and
    # min-label propagation (77)
    budget = {"local": 3, "star": 58}
    for path in cc_paths():
        group = f"cc_chain_and_islands_{path}"
        sc.setJobGroup(group, "connected components fixture")
        try:
            out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert out == {
            **{n: 1 for n in range(1, 13)}, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30
        }, path
        assert jobs <= budget[path], (path, jobs)

        empty = connected_components(spark.createDataFrame([], "src int, dst int"))
        assert empty.schema.simpleString() == "struct<node:int,component:int>", path
        assert empty.count() == 0, path


def test_connected_components_paths_meet_at_the_cap(spark, monkeypatch):
    """With the cap patched to n, exactly n distinct edges (each given
    twice) take the driver union-find and n + 1 take the star rounds;
    both give the union-find model's labels."""
    from lfb_data_warehouse_spark.operators import graph

    n = 12
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", n)
    local_calls = []
    label_on_driver = graph._label_on_driver

    def spy(e, head):
        local_calls.append(head.num_rows)
        return label_on_driver(e, head)

    monkeypatch.setattr(graph, "_label_on_driver", spy)
    for k, took_local in ((n, [n]), (n + 1, [])):
        pairs = [(i, 2 * i + 1) for i in range(k)]
        local_calls.clear()
        edf = spark.createDataFrame(pairs + pairs, "src int, dst int")
        got = {r["node"]: r["component"] for r in graph.connected_components(edf).collect()}
        assert local_calls == took_local, k
        assert got == union_find_components(pairs), k


def test_connected_components_keep_the_node_type(spark, cc_paths):
    """int, bigint and string node columns keep their type on both
    paths, and an input of only self-loops and NULL endpoints gives no
    rows with the (node, component) schema. Arrow conversion is off, as
    in a plain session: the driver path's labels frame must not need it."""
    from lfb_data_warehouse_spark.operators.graph import connected_components

    cases = {
        "int": [(3, 1), (1, 2), (7, 8)],
        "bigint": [(2**40 + 1, 2**40), (5, 2**40)],
        "string": [("b", "a"), ("é", "b"), ("z", "y")],
    }
    junk = spark.createDataFrame(
        [(4, 4), (None, 5), (6, None), (None, None)], "src int, dst int"
    )
    arrow_conf = "spark.sql.execution.arrow.pyspark.enabled"
    arrow_was = spark.conf.get(arrow_conf)
    spark.conf.set(arrow_conf, "false")
    try:
        for path in cc_paths():
            for t, pairs in cases.items():
                edf = spark.createDataFrame(pairs, f"src {t}, dst {t}")
                out = connected_components(edf)
                assert out.schema.simpleString() == f"struct<node:{t},component:{t}>", (path, t)
                got = {r["node"]: r["component"] for r in out.collect()}
                assert got == union_find_components(pairs), (path, t)
            none = connected_components(junk)
            assert none.schema.simpleString() == "struct<node:int,component:int>", path
            assert none.count() == 0, path
    finally:
        spark.conf.set(arrow_conf, arrow_was)


def test_connected_components_fetch_runs_upstream_once(spark, cc_paths):
    """The bounded fetch fills the edge set's checkpoint, so the plan
    feeding the kernel (here a Python UDF counting the rows it sees, in
    place of a pair finder) runs once on either path: the star rounds
    read the checkpoint, not the input plan."""
    from lfb_data_warehouse_spark.operators.graph import connected_components

    pairs = [(i, i + 1) for i in range(40)] + [(100, 101)]
    base = spark.createDataFrame(pairs, "src int, dst int")
    for path in cc_paths():
        seen = spark.sparkContext.accumulator(0)

        def tally(x):
            seen.add(1)
            return x

        # nondeterministic, so the optimizer neither copies it into the
        # pushed-down self-loop filter nor evaluates it twice per row
        counted = F.udf(tally, "int").asNondeterministic()
        edf = base.select(counted("src").alias("src"), "dst")
        got = {r["node"]: r["component"] for r in connected_components(edf).collect()}
        assert got == union_find_components(pairs), path
        assert seen.value == len(pairs), (path, seen.value)


def test_connected_components_star_logarithmic_on_chain(spark, monkeypatch):
    from lfb_data_warehouse_spark.operators import graph

    # a 10k-node CHAIN is the adversarial case for min-label propagation
    # (diameter 9 999 → ~10k shuffle rounds); large-star/small-star must
    # converge in O(log n) rounds — max_iter=20 > 2*log2(10 000) + slack,
    # so mere termination without RuntimeError IS the bound assertion.
    # The cap is patched below the chain's 9 999 edges, so the fetch sees
    # more than the cap and the star rounds run.
    n = 10_000
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", n // 2)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = {
        r["node"]: r["component"]
        for r in graph.connected_components(edges, max_iter=20).collect()
    }
    assert len(out) == n
    assert set(out.values()) == {0}


def test_connected_components_star_matches_label_propagation(spark, cc_paths):
    from lfb_data_warehouse_spark.operators.graph import connected_components

    # chain + triangle + pair + a star fixture (hub with offset leaves),
    # against the union-find model
    chain = [(i, i + 1) for i in range(1, 12)]
    star = [(100, 100 + i) for i in range(1, 8)]
    pairs = chain + [(20, 21), (21, 22), (22, 20), (30, 31)] + star
    edges = spark.createDataFrame(pairs, "src int, dst int")
    for path in cc_paths():
        got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
        assert got == union_find_components(pairs), path
        assert all(got[100 + i] == 100 for i in range(8)), path


def test_incremental_components_equals_full_recompute(spark, cc_paths):
    from lfb_data_warehouse_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    # day 1: two clusters + a pair; day 2: a bridge edge merges the two
    # clusters, plus a brand-new cluster
    day1 = [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21)]
    day2 = [(3, 10), (30, 31), (31, 32)]
    e1 = spark.createDataFrame(day1, "src int, dst int")
    e2 = spark.createDataFrame(day2, "src int, dst int")
    for path in cc_paths():
        labels1 = connected_components(e1)
        inc = {
            r["node"]: r["component"]
            for r in incremental_components(labels1, e2).collect()
        }
        full = {
            r["node"]: r["component"]
            for r in connected_components(e1.union(e2)).collect()
        }
        assert inc == full, path
        assert all(inc[n] == 1 for n in (1, 2, 3, 10, 11, 12)), path  # bridged → min id 1
        assert inc[20] == 20 and inc[30] == 30, path  # untouched / new clusters


def test_approx_ntile_matches_exact_window(spark):
    from pyspark.sql import Window

    from lfb_data_warehouse_spark.operators.agg import approx_ntile

    n, tiles = 4000, 8
    df = spark.range(n).select(
        (F.col("id") % 4).alias("g"),
        ((F.col("id") * 7919 % 104729) / 7.0).alias("v"),  # unique values
    )
    exact = df.withColumn("tile", F.ntile(tiles).over(Window.orderBy("v")))
    got = approx_ntile(df, "v", tiles, accuracy=50_000)
    merged = exact.withColumnRenamed("tile", "exact_tile").join(got, ["g", "v"])
    rows = merged.count()
    mismatched = merged.filter(F.col("exact_tile") != F.col("tile")).count()
    assert rows == n
    assert mismatched <= 0.02 * n, f"{mismatched}/{n} off vs exact NTILE"
    # tiles are balanced within sketch error and monotone in v
    counts = {r["tile"]: r["c"] for r in got.groupBy("tile").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == set(range(1, tiles + 1))
    assert all(abs(c - n / tiles) <= 0.05 * n for c in counts.values())
    # grouped form: boundaries scoped per group, same guarantees
    gg = approx_ntile(df, "v", tiles, accuracy=50_000, group_cols=["g"])
    per_group = {
        (r["g"], r["tile"]): r["c"]
        for r in gg.groupBy("g", "tile").agg(F.count("*").alias("c")).collect()
    }
    assert all(
        abs(c - (n / 4) / tiles) <= 0.05 * (n / 4) for c in per_group.values()
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must be"):
        approx_ntile(df, "v", 1)


def test_approx_ntile_null_keys_and_values(spark):
    from pyspark.sql import Window

    from lfb_data_warehouse_spark.operators.agg import approx_ntile

    # 3 groups: "a", "b", NULL; plus NULL values sprinkled in each, and
    # one group whose values are ALL NULL
    rows = (
        [("a", float(i)) for i in range(40)]
        + [("b", float(i) * 3) for i in range(40)]
        + [(None, float(i) * 7) for i in range(40)]
        + [("a", None), ("b", None), (None, None)]
        + [("allnull", None), ("allnull", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = approx_ntile(df, "v", 4, accuracy=50_000, group_cols=["g"])
    # no rows lost: NULL group keys survive the boundary join
    assert got.count() == df.count()
    exact = df.withColumn(
        "exact_tile", F.ntile(4).over(Window.partitionBy("g").orderBy("v"))
    ).select(F.col("g").alias("eg"), F.col("v").alias("ev"), "exact_tile")
    merged = exact.join(
        got,
        [F.col("eg").eqNullSafe(F.col("g")), F.col("ev").eqNullSafe(F.col("v"))],
    )
    # NULL values land in tile 1 in both (Spark NULLS FIRST ordering)
    nulls = merged.filter(F.col("ev").isNull())
    assert nulls.count() >= 5  # >= : NULL v join keys cross-match within a group
    assert nulls.filter(F.col("tile") != 1).count() == 0
    # exact NTILE is positional: NULLs overflow tile 1 only when they
    # outnumber the tile (the all-NULL group) — elsewhere both agree
    assert nulls.filter((F.col("exact_tile") != 1) & (F.col("eg") != "allnull")).count() == 0
    # non-null rows in the NULL-key group get real per-group tiles
    nullg = got.filter(got["g"].isNull() & got["v"].isNotNull())
    tiles = {r["tile"] for r in nullg.select("tile").distinct().collect()}
    assert tiles == {1, 2, 3, 4}
    # ungrouped form: NULL values also tile 1
    ug = approx_ntile(df, "v", 4, accuracy=50_000)
    assert ug.filter(F.col("v").isNull() & (F.col("tile") != 1)).count() == 0


def test_assign_dense_ids_matches_global_rank(spark):
    from lfb_data_warehouse_spark.operators.ids import assign_dense_ids

    df = spark.range(0, 997).select((F.col("id") * 7919 % 997).alias("k"))  # permuted keys
    out = assign_dense_ids(df, ["k"], num_partitions=8).collect()
    got = sorted((r["k"], r["dense_id"]) for r in out)
    assert got == [(i, i) for i in range(997)]  # dense, 0-based, order-aligned


def test_training_order_shuffle(spark):
    """Seeded training-order shuffle (round 14): positions are a
    permutation of 0..n-1 aligned with the sha256 order, shards are
    round-robin (equal sizes ±1, each shard internally hash-ordered),
    the whole thing is deterministic across runs, and a different
    seed yields a genuinely different order."""
    from lfb_data_warehouse_spark.operators.packing import training_order_shuffle

    df = spark.range(0, 503).select(F.col("id").alias("doc_id"))
    out = training_order_shuffle(df, "doc_id", "seed-a", 8, num_partitions=7)
    rows = out.collect()
    # permutation + alignment with the naive global hash order
    assert sorted(r["order_pos"] for r in rows) == list(range(503))
    naive = df.select(
        "doc_id",
        F.sha2(F.concat_ws("|", F.lit("seed-a"), F.col("doc_id").cast("string")), 256).alias("h"),
    ).collect()
    want_pos = {
        r["doc_id"]: i
        for i, r in enumerate(sorted(naive, key=lambda r: (r["h"], r["doc_id"])))
    }
    assert {r["doc_id"]: r["order_pos"] for r in rows} == want_pos
    # round-robin stripe: 503 = 8*62 + 7 -> seven shards of 63, one of 62
    from collections import Counter

    sizes = Counter(r["shard"] for r in rows)
    assert sorted(sizes.values()) == [62] + [63] * 7
    assert all(r["shard"] == r["order_pos"] % 8 for r in rows)
    assert all(r["pos_in_shard"] == r["order_pos"] // 8 for r in rows)
    # deterministic rerun; different seed -> different permutation
    again = {r["doc_id"]: r["order_pos"]
             for r in training_order_shuffle(df, "doc_id", "seed-a", 8).collect()}
    assert again == want_pos
    other = {r["doc_id"]: r["order_pos"]
             for r in training_order_shuffle(df, "doc_id", "seed-b", 8).collect()}
    assert other != want_pos
    import pytest

    with pytest.raises(ValueError, match="n_shards"):
        training_order_shuffle(df, "doc_id", "s", 0)
    # degenerate shapes: fewer rows than range partitions (empty
    # partitions in the prefix sum), more shards than rows, one row
    tiny = spark.range(0, 3).select(F.col("id").alias("doc_id"))
    t = training_order_shuffle(tiny, "doc_id", "s", 8, num_partitions=7).collect()
    assert sorted(r["order_pos"] for r in t) == [0, 1, 2]
    assert all(r["shard"] == r["order_pos"] and r["pos_in_shard"] == 0 for r in t)
    one = training_order_shuffle(
        spark.range(0, 1).select(F.col("id").alias("doc_id")), "doc_id", "s", 4
    ).collect()
    assert (one[0]["order_pos"], one[0]["shard"], one[0]["pos_in_shard"]) == (0, 0, 0)


def test_pack_sequences_matches_naive_window(spark):
    from pyspark.sql import Window

    from lfb_data_warehouse_spark.operators.packing import pack_sequences

    # skewed groups: 'big' has 200 docs, 'small' has 3; varied token sizes
    rows = [("big", i, (i * 37) % 900 + 1) for i in range(200)]
    rows += [("small", i, t) for i, t in [(0, 5), (1, 4096), (2, 1)]]
    df = spark.createDataFrame(rows, "source string, doc_id long, tok long")

    got = pack_sequences(
        df, group_col="source", order_cols=["doc_id"], token_col="tok",
        seq_len=2048, num_partitions=7,
    ).select("source", "doc_id", "start_offset", "pack_id")

    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.select(
        "source",
        "doc_id",
        (F.sum("tok").over(w) - F.col("tok")).cast("long").alias("start_offset"),
        F.floor((F.sum("tok").over(w) - F.col("tok")).cast("double") / 2048.0)
        .cast("long")
        .alias("pack_id"),
    )
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    # a doc starting exactly on a boundary opens the next pack:
    # small: starts 0, 5, 4101 -> packs 0, 0, 2
    small = {r.doc_id: r.pack_id for r in got.filter(F.col("source") == "small").collect()}
    assert small == {0: 0, 1: 0, 2: 2}


def test_asof_directional_variants(spark):
    """backward = latest at-or-before; forward = earliest at-or-after;
    both within tolerance, both bounded to two buckets."""
    from lfb_data_warehouse_spark.operators.temporal import nearest_within

    left = spark.createDataFrame([(1, ts("2024-01-01 12:00:00"))], "id int, lts timestamp")
    right = spark.createDataFrame(
        [(101, ts("2024-01-01 11:00:00")),   # 1h before
         (102, ts("2024-01-01 11:30:00")),   # 30min before  <- backward match
         (103, ts("2024-01-01 12:10:00")),   # 10min after   <- forward match (and nearest)
         (104, ts("2024-01-01 13:00:00"))],
        "rid int, rts timestamp",
    )
    kw = dict(left_ts="lts", right_ts="rts", tolerance_sec=3600,
              left_key="id", right_tiebreak="rid")
    back = nearest_within(left, right, direction="backward", **kw).collect()
    fwd = nearest_within(left, right, direction="forward", **kw).collect()
    near = nearest_within(left, right, direction="nearest", **kw).collect()
    assert back[0]["rid"] == 102  # latest earlier row, NOT the nearest overall
    assert fwd[0]["rid"] == 103
    assert near[0]["rid"] == 103
    # an exactly-equal timestamp matches in both directions
    right2 = spark.createDataFrame([(201, ts("2024-01-01 12:00:00"))], "rid int, rts timestamp")
    assert nearest_within(left, right2, direction="backward", **kw).collect()[0]["rid"] == 201
    assert nearest_within(left, right2, direction="forward", **kw).collect()[0]["rid"] == 201


def test_cdc_apply_changes_semantics(spark):
    """latest-seq wins; deletes remove; inserts add; untouched pass
    through; replay is idempotent."""
    from lfb_data_warehouse_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    ch = spark.createDataFrame(
        [(2, "b2", 25.0, 1, "U"), (2, "b3", 26.0, 2, "U"),
         (3, None, None, 1, "D"),
         (4, "d", 40.0, 1, "I")],
        "k int, name string, v double, seq int, op string",
    )
    out = apply_changes(snap, ch, keys=["k"], seq_col="seq")
    got = {r["k"]: (r["name"], r["v"]) for r in out.collect()}
    assert got == {1: ("a", 10.0), 2: ("b3", 26.0), 4: ("d", 40.0)}
    # replaying the batch onto the result changes nothing (idempotent)
    again = apply_changes(out, ch, keys=["k"], seq_col="seq")
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))
    # same-sequence delete/upsert tie: delete wins (conservative)
    tie = spark.createDataFrame(
        [(1, "x", 1.0, 5, "U"), (1, None, None, 5, "D")],
        "k int, name string, v double, seq int, op string",
    )
    assert 1 not in {r["k"] for r in apply_changes(snap, tie, ["k"], "seq").collect()}
    # duplicate (key, seq, op) upserts with different images: the window
    # needs a TOTAL order (payload-hash tiebreak) so every run/retry
    # picks the same winner — row_number over a partial order is free
    # to flip between executions
    # same rows in BOTH encounter orders and different partitionings:
    # without the payload-hash tiebreak row_number picks the
    # first-encountered row, so the reversed/repartitioned batch would
    # elect the other image (re-running one identical plan would not
    # catch that — the arbitrary choice is stable per plan)
    schema = "k int, name string, v double, seq int, op string"
    rows = [(1, "img_a", 1.0, 5, "U"), (1, "img_b", 2.0, 5, "U")]
    variants = [
        spark.createDataFrame(rows, schema),
        spark.createDataFrame(list(reversed(rows)), schema),
        spark.createDataFrame(list(reversed(rows)), schema).repartition(3),
    ]
    winners = {
        tuple(r)
        for dup in variants
        for r in apply_changes(snap, dup, ["k"], "seq").filter("k = 1").collect()
    }
    assert len(winners) == 1, f"order-dependent same-seq winner: {winners}"


def test_bloom_prune_keeps_all_partners(spark):
    """No false negatives ever; false-positive rate within the bloom
    bound; empty build side prunes everything it can (all-zero bitmap
    passes nothing)."""
    from lfb_data_warehouse_spark.operators.bloomjoin import bloom_build, bloom_prune

    dim = spark.range(0, 500).selectExpr("id * 7 as k")
    fact = spark.range(0, 50000).selectExpr("id % 5000 as fk")
    bloom = bloom_build(dim, "k", nbits=1 << 15)
    pruned = bloom_prune(fact, bloom, "fk", nbits=1 << 15)
    true_partners = fact.join(dim.hint("broadcast"), fact.fk == dim.k, "left_semi")
    # every true partner survives the filter
    assert true_partners.subtract(pruned.select("fk")).count() == 0
    # fp rate ≤ a loose 5% of non-partners (expect ~(1-e^{-kn/m})^k ≈ 0.3%)
    n_true, n_pruned = true_partners.count(), pruned.count()
    assert (n_pruned - n_true) <= 0.05 * (50000 - n_true)
    # empty build side → nothing passes
    empty = bloom_build(dim.filter("k < 0"), "k", nbits=1 << 15)
    assert bloom_prune(fact, empty, "fk", nbits=1 << 15).count() == 0


def test_weighted_sample_bounds_and_determinism(spark):
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.sampling import weighted_sample

    df = spark.range(200).select(
        F.col("id"),
        (F.col("id").cast("double") / 199).alias("p"),
    )
    all_kept = weighted_sample(df.withColumn("p", F.lit(1.0)), ["id"], "p")
    assert all_kept.count() == 200  # p=1.0 hits the keep-all sentinel
    none_kept = weighted_sample(df.withColumn("p", F.lit(0.0)), ["id"], "p")
    assert none_kept.count() == 0
    k1 = {r["id"] for r in weighted_sample(df, ["id"], "p").collect()}
    k2 = {r["id"] for r in weighted_sample(df, ["id"], "p").collect()}
    assert k1 == k2 and 0 < len(k1) < 200  # deterministic, non-trivial
    # p just below 1.0 inside the saturation window still keeps all
    sat = weighted_sample(df.withColumn("p", F.lit(1.0 - 2.0**-34)), ["id"], "p")
    assert sat.count() == 200
    # out-of-range scores clamp: p<0 keeps NOTHING (a negative scaled
    # value would otherwise format as 16 hex chars and keep ~all rows),
    # p>1 keeps everything
    neg = weighted_sample(df.withColumn("p", F.lit(-0.5)), ["id"], "p")
    assert neg.count() == 0
    over = weighted_sample(df.withColumn("p", F.lit(3.7)), ["id"], "p")
    assert over.count() == 200


def test_hash_split_partitions_every_row_exactly_once(spark):
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.sampling import hash_split

    df = spark.range(2000)
    out = hash_split(df, ["id"], {"train": 0.8, "val": 0.1, "test": 0.1})
    # exhaustive + exclusive: one label per row, all rows labeled
    assert out.count() == 2000
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # fractions approximately honored (binomial 3σ at n=2000)
    assert 1500 < counts["train"] < 1700
    assert 140 < counts["val"] < 260
    assert 140 < counts["test"] < 260
    # deterministic: same salt → identical assignment
    a = {(r["id"], r["split"]) for r in out.collect()}
    b = {(r["id"], r["split"]) for r in
         hash_split(df, ["id"], {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert a == b
    # different salt → different draw
    c = {(r["id"], r["split"]) for r in
         hash_split(df, ["id"], {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v2").collect()}
    assert a != c
    # degenerate single-label split
    one = hash_split(df, ["id"], {"all": 1.0})
    assert one.filter(F.col("split") == "all").count() == 2000
    # fractions must sum to 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(df, ["id"], {"train": 0.5, "val": 0.1})


def test_hash_split_sql_matches_engine(spark):
    import duckdb
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.sampling import hash_split, hash_split_sql

    fr = {"train": 0.6, "val": 0.2, "test": 0.2}
    df = spark.range(500)
    eng = {(r["id"], r["split"]) for r in hash_split(df, ["id"], fr).collect()}
    con = duckdb.connect()
    sql = hash_split_sql(["id"], fr)
    ora = {
        (r[0], r[1])
        for r in con.execute(
            f"SELECT id, {sql} AS split FROM range(500) t(id)"
        ).fetchall()
    }
    assert eng == ora


def test_ewma_customer_spend_matches_python_model(spark):
    """The registered EWMA fold must equal a direct Python recurrence
    over the same (date, key)-ordered values with the same per-step
    half-up re-quantization."""
    import math

    from lfb_data_warehouse_spark.plans import REGISTRY

    got = {
        r["custkey"]: (r["n_orders"], r["last_price"], r["ewma_price"])
        for r in REGISTRY["ewma_customer_spend"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT o_custkey, CAST(o_totalprice AS DOUBLE) FROM "
        "read_parquet('/root/testdata/sf0.001/orders.parquet') "
        "ORDER BY o_custkey, o_orderdate, o_orderkey"
    ).fetchall()
    hist: dict = {}
    for ck, v in rows:
        hist.setdefault(ck, []).append(v)
    for ck, vals in hist.items():
        acc = vals[0]
        for v in vals[1:]:
            acc = math.floor((acc * 0.9 + v * 0.1) * 1000000 + 0.5) / 1000000.0
        n, last, ewma = got[ck]
        assert n == len(vals) and last == vals[-1] and ewma == acc, ck
    assert set(got) == set(hist)


def test_salted_collect_set_equals_plain_collect(spark):
    """salted_collect_set (round 12) must be content-invariant vs the
    unsalted collect_set — including NULL values (dropped by both, a
    key whose values are all NULL still yields its empty-array row)
    and a pathologically hot key."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.skew import salted_collect_set

    rows = [("hot", i % 57) for i in range(4000)]
    rows += [("cold", v) for v in (1, 2, 3)]
    rows += [("hot", None), ("allnull", None), ("allnull", None)]
    df = spark.createDataFrame(rows, "k string, v int")
    got = {
        r["k"]: sorted(r["vals"])
        for r in salted_collect_set(df, ["k"], "v", "vals", buckets=8).collect()
    }
    exp = {
        r["k"]: sorted(r["vals"])
        for r in df.groupBy("k").agg(F.collect_set("v").alias("vals")).collect()
    }
    assert got == exp
    assert got["hot"] == list(range(57)) and got["allnull"] == []


def test_shingle_hot_key_salting_equals_plain_join(spark):
    """The r15 hot-shingle salted split must return EXACTLY the pair
    set of the plain shingle self-join — same (id_a, id_b) keys, same
    bit-exact jaccard doubles — on a fixture with one shingle hot
    enough to cross the cap, cold shingles below it, a group split
    (the same shingle in two groups must not pair across them), and
    a cap low enough that the guard genuinely engages."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.dedup import all_pairs_jaccard

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("source"),
        F.when(
            F.col("id") % 3 == 0,
            F.concat(F.lit("alpha beta gamma t"), F.col("id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("u"),
                F.col("id").cast("string"),
                F.lit(" alpha beta x"),
                (F.col("id") % 7).cast("string"),
            )
        )
        .alias("body"),
    )
    plain = all_pairs_jaccard(
        docs, "doc_id", "body", 2, 0.05, group_col="source", hot_cap=0
    )
    salted = all_pairs_jaccard(
        docs, "doc_id", "body", 2, 0.05, group_col="source", hot_cap=20
    )
    p = {(r["id_a"], r["id_b"]): r["jaccard"] for r in plain.collect()}
    s = {(r["id_a"], r["id_b"]): r["jaccard"] for r in salted.collect()}
    assert p == s and len(p) > 0
    # no cross-group pair leaked through the salted path
    assert all((a % 2) == (b % 2) for a, b in s)


def test_incremental_hot_key_salting_equals_plain_join(spark):
    """Same pin for incremental_jaccard_pairs: salted == plain on a
    hot fixture including re-ingested ids (present in old AND new) and
    a shingle hot on the OLD side only (caught because frequency is
    counted over the left union, which contains both sides)."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.dedup import incremental_jaccard_pairs

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 2 == 0,
                F.concat(F.lit("alpha beta gamma t"), F.col("id").cast("string")),
            )
            .otherwise(
                F.concat(
                    F.lit("u"),
                    F.col("id").cast("string"),
                    F.lit(" alpha beta x"),
                    (F.col("id") % 7).cast("string"),
                )
            )
            .alias("body"),
        )

    old, new = mk(0, 150), mk(140, 200)  # ids 140-149 re-ingested
    plain = incremental_jaccard_pairs(
        old, new, "doc_id", "body", 2, 0.05, hot_cap=0
    )
    salted = incremental_jaccard_pairs(
        old, new, "doc_id", "body", 2, 0.05, hot_cap=20
    )
    p = {(r["id_a"], r["id_b"]): r["jaccard"] for r in plain.collect()}
    s = {(r["id_a"], r["id_b"]): r["jaccard"] for r in salted.collect()}
    assert p == s and len(p) > 0
    # old×old pairs must not appear (both sides pre-date the batch)
    assert all(b >= 140 for _a, b in s)


def test_semdedup_mega_cluster_guard_routes_and_matches(spark):
    """r15 mega-cluster guard: a cluster above ``cluster_cap`` must
    route through the blocked JOIN pair path (bounded per-task memory)
    and return the BIT-IDENTICAL drop set the grouped Arrow pass
    produces; clusters under the cap keep the grouped pass, and with no
    oversized cluster the plan must stay exactly the unguarded one (no
    probe-side filters, no union)."""
    import contextlib
    import io

    from lfb_data_warehouse_spark.operators.similarity import (
        _within_cluster_drops,
    )

    # cluster H: 40 rows on 3 rays (many near-dup pairs); cluster S: 3
    rows = []
    for i in range(40):
        ray = i % 3
        base = [[5, 0, 0], [0, 4, 0], [3, 4, 0]][ray]
        v = [c * (1 + i // 3) for c in base]
        rows.append((i, "H", v, sum(x * x for x in v)))
    rows += [
        (100, "S", [1, 2, 2], 9),
        (101, "S", [2, 4, 4], 36),  # same ray as 100 → dropped
        (102, "S", [9, 0, 1], 82),
    ]
    qa = spark.createDataFrame(
        rows, "vec_id long, assigned_label string, q array<bigint>, norm long"
    ).repartition(6)
    unguarded = sorted(
        r["vec_id"] for r in _within_cluster_drops(qa, "vec_id", 0.95, 10**9).collect()
    )
    routed = _within_cluster_drops(qa, "vec_id", 0.95, cluster_cap=10)
    assert sorted(r["vec_id"] for r in routed.collect()) == unguarded

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    # guarded path: cluster H left the grouped pass for a bounded join
    p_routed = plan(routed)
    assert "FlatMapGroupsInPandas" in p_routed and "Union" in p_routed
    assert "Join" in p_routed
    # normal path (cap not exceeded): plan identical to the unguarded one
    p_normal = plan(_within_cluster_drops(qa, "vec_id", 0.95, cluster_cap=1000))
    assert "Union" not in p_normal and "Join" not in p_normal
    assert "FlatMapGroupsInPandas" in p_normal


def test_lloyd_round_arrow_equals_hof_formulation(spark):
    """The r15 fused Arrow Lloyd round must return EXACTLY the centroid
    set of an independent crossJoin + min_by assignment followed by
    label_centroids (neither touches the Arrow kernel), including: a
    bit-exact cosine TIE between two centroids (one is the other
    doubled — scaling by a power of two is IEEE-exact, so scores match
    bitwise and the smaller label must win on both sides), a zero-norm vector (scores 0.0 everywhere → falls
    to the smallest label), a zero-norm centroid (never wins a member
    with positive scores), a centroid that loses every member (must
    DISAPPEAR from the output on both sides), negative components, and
    arbitrary input partitioning."""
    from lfb_data_warehouse_spark.operators.similarity import (
        _cosine,
        _dot,
        _lloyd_round,
        label_centroids,
    )

    rows = [
        (1, [10, 0, 0], 100),
        (2, [9, 1, 0], 82),
        (3, [-3, -4, 0], 25),
        (4, [0, 7, 1], 50),
        (5, [0, 0, 0], 0),  # zero-norm: cos 0.0 vs every centroid
        (6, [1, 2, -2], 9),
    ]
    q = spark.createDataFrame(
        rows, "vec_id long, q array<bigint>, norm long"
    ).repartition(5)
    cents = spark.createDataFrame(
        [
            (10, [2, 0, 0], 4),
            (11, [4, 0, 0], 16),  # 10 doubled: exact score tie → 10 wins
            (12, [0, 1, 0], 1),
            (13, [0, 0, 0], 0),  # zero-norm centroid: must lose everything
            (14, [-1, -1, 0], 2),
        ],
        "centroid_label long, cq array<bigint>, cnorm long",
    )
    got = {
        r["centroid_label"]: (list(r["cq"]), r["cnorm"])
        for r in _lloyd_round(q, cents.collect(), "vec_id", 3)
    }
    # reference: every (vector, centroid) pair scored by the JVM
    # cosine; per vector the highest score wins and an exact tie goes
    # to the smallest label (min_by over (-score, label))
    scored = q.crossJoin(cents).withColumn(
        "score", _cosine(_dot(F.col("q"), F.col("cq")), F.col("norm"), F.col("cnorm"))
    )
    nearest = scored.groupBy("vec_id").agg(
        F.min_by(
            "centroid_label", F.struct(-F.col("score"), F.col("centroid_label"))
        ).alias("assigned_label")
    )
    ql = q.join(nearest, "vec_id")
    exp = {
        r["centroid_label"]: (list(r["cq"]), r["cnorm"])
        for r in label_centroids(
            ql, "vec_id", "q", "assigned_label", dim=3, quantized=ql
        ).collect()
    }
    assert got == exp
    assert 11 not in got and 13 not in got  # tie-loser & zero-norm both empty


def test_within_cluster_drops_arrow_equals_join_formulation(spark):
    """The r14 grouped-Arrow SemDeDup pair stage must return EXACTLY the
    drop set of the JVM join formulation it replaced — including a pair
    sitting exactly ON the cosine threshold (dot=4, norms 1 and 25 →
    cos = 4/(1·5): both sides must take the same ≥ branch), zero-norm
    vectors (score 0.0 on both sides, never NaN), a singleton cluster,
    and ids arriving in arbitrary row/partition order."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        _cosine,
        _dot,
        _within_cluster_drops,
    )

    rows = [
        # cluster A: 1↔2 identical (cos 1), 3 orthogonal, 4 at cos=0.8
        # of id 1 exactly (the threshold), 5 zero-norm
        (1, "A", [1, 0, 0], 1),
        (2, "A", [2, 0, 0], 4),
        (3, "A", [0, 1, 0], 1),
        (4, "A", [4, 3, 0], 25),
        (5, "A", [0, 0, 0], 0),
        # cluster B: near-but-below-threshold pair plus an exact dup
        (6, "B", [3, 4, 0], 25),
        (7, "B", [4, 3, 0], 25),  # cos 24/25 = 0.96 vs id 6
        (8, "B", [6, 8, 0], 100),  # cos 1 vs id 6
        # cluster C: singleton
        (9, "C", [1, 1, 1], 3),
    ]
    qa = spark.createDataFrame(
        rows, "vec_id long, assigned_label string, q array<bigint>, norm long"
    ).repartition(7)  # arbitrary partitioning: the grouped pass must re-key
    got = sorted(
        r["vec_id"]
        for r in _within_cluster_drops(qa, "vec_id", 0.8).collect()
    )
    # reference: the pre-r14 JVM join formulation, verbatim
    a = qa.select(
        F.col("assigned_label").alias("cl"), F.col("vec_id").alias("id_a"),
        F.col("q").alias("qa"), F.col("norm").alias("na"),
    )
    b = qa.select(
        F.col("assigned_label").alias("cl"), F.col("vec_id").alias("id_b"),
        F.col("q").alias("qb"), F.col("norm").alias("nb"),
    )
    exp = sorted(
        r["vec_id"]
        for r in (
            a.join(b, "cl")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb"))
                >= 0.8
            )
            .select(F.col("id_b").alias("vec_id"))
            .distinct()
        ).collect()
    )
    assert got == exp
    assert got == [2, 4, 7, 8]  # threshold pair 4 IS dropped; 5 (zero-norm) is not
