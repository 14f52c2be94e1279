"""Unit tests: functions layer (keys, bucketing, cleanse, exact)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from lfb_data_warehouse_spark.functions.bucketing import NullPolicy, bucketize, bucketize_sql
from lfb_data_warehouse_spark.functions.cleanse import (
    linked_scrub,
    null_sentinels,
    standardize_names,
    zero_to_null,
    zscore_scrub,
)
from lfb_data_warehouse_spark.functions.exact import avg_exact, sum_exact
from lfb_data_warehouse_spark.functions.keys import (
    hash_key,
    hash_key_nullable,
    sentinel_row,
)
from tests.test_properties import model_bucketize


def test_hash_key_matches_sha256(spark):
    df = spark.createDataFrame([("Camden", 7)], "name string, code int")
    out = df.select(hash_key("name", "code").alias("k")).collect()[0]["k"]
    assert out == hashlib.sha256(b"Camden|7").hexdigest()


def test_hash_key_skips_nulls_concat_ws(spark):
    df = spark.createDataFrame([(None, 7)], "name string, code int")
    out = df.select(hash_key("name", "code").alias("k")).collect()[0]["k"]
    # concat_ws drops the NULL entirely (no separator kept)
    assert out == hashlib.sha256(b"7").hexdigest()


def test_hash_key_nullable_propagates_and_patches(spark):
    df = spark.createDataFrame([(None, 7), ("x", 1)], "name string, code int")
    rows = df.select(hash_key_nullable("name", "code").alias("k")).collect()
    assert rows[0]["k"] == "Unknown"
    assert rows[1]["k"] == hashlib.sha256(b"x|1").hexdigest()


def test_sentinel_row_types(spark):
    df = spark.createDataFrame([("k1", "a", 1.5)], "id string, attr string, num double")
    out = sentinel_row(df, "id").orderBy("id").collect()
    sent = [r for r in out if r["id"] == "Unknown"][0]
    assert sent["attr"] == "Unknown" and sent["num"] is None
    assert len(out) == 2


BUCKETS = [(None, 0.0, "neg"), (0.0, 10.0, "low"), (10.0, None, "high")]


def test_bucketize_edges_and_null_policies(spark):
    df = spark.createDataFrame(
        [(-1.0,), (0.0,), (9.999,), (10.0,), (None,)], "v double"
    )
    got = [r[0] for r in df.select(bucketize("v", BUCKETS)).collect()]
    assert got == ["neg", "low", "low", "high", "Unknown"]
    got2 = [
        r[0]
        for r in df.select(bucketize("v", BUCKETS, null_policy=NullPolicy.NULL)).collect()
    ]
    assert got2 == ["neg", "low", "low", "high", None]


def test_bucketize_sql_twin(spark):
    """The one generated CASE, parsed by Spark (bucketize) and run by
    DuckDB (bucketize_sql), labels every edge ±1e-9 and NULL as the
    Python model does, under both NULL policies. The edges parse as
    DECIMAL literals on both sides (0.1 is not a binary fraction, 75.0
    is the widening case); a quote in a label or the default survives
    the SQL text."""
    import duckdb

    buckets = [(None, -10.0, "low"), (-10.0, 0.1, "it's"), (0.1, 75.0, "mid"),
               (100.0, None, "high")]  # [75, 100) falls to the default
    edges = [-10.0, 0.1, 75.0, 100.0]
    vals = [None] + [e + d for e in edges for d in (-1e-9, 0.0, 1e-9)]
    rows = list(enumerate(vals))
    df = spark.createDataFrame(rows, "i long, v double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for policy, default in [(NullPolicy.UNKNOWN, "o'flow"), (NullPolicy.NULL, None)]:
        want = [model_bucketize(v, policy, buckets, default) for v in vals]
        on_spark = df.select("i", bucketize("v", buckets, policy, default).alias("b"))
        assert [r["b"] for r in on_spark.orderBy("i").collect()] == want
        sql = f"SELECT {bucketize_sql('v', buckets, policy, default)} FROM t ORDER BY i"
        assert [r[0] for r in con.execute(sql).fetchall()] == want
    assert want[1:4] == ["low", "it's", "it's"] and want[10:13] == [None, "high", "high"]
    with pytest.raises(ValueError, match="backslash"):
        bucketize_sql("v", [(None, None, "a\\b")])


def test_cleansing_scrubs(spark):
    df = spark.createDataFrame(
        [("NULL", 0, 0.0, 51.5, "camden TOWN")],
        "s string, usrn int, lat double, lon double, ward string",
    )
    out = null_sentinels(df, subset=["s"])
    out = zero_to_null(out, ["usrn"])
    out = linked_scrub(out, F.col("lat") == 0.0, ["lat", "lon"])
    out = standardize_names(out, ["ward"])
    r = out.collect()[0]
    assert r["s"] is None and r["usrn"] is None
    assert r["lat"] is None and r["lon"] is None
    assert r["ward"] == "Camden Town"


def test_zscore_scrub_single_pass(spark):
    vals = [(float(i),) for i in range(100)] + [(10_000.0,)]
    df = spark.createDataFrame(vals, "v double")
    out = zscore_scrub(df, ["v"], threshold=3.0)
    kept = out.filter(F.col("v").isNotNull()).count()
    assert kept == 100  # the planted outlier is scrubbed


def test_exact_aggregates_deterministic(spark):
    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], "v double")
    r = df.agg(sum_exact("v").alias("s"), avg_exact("v").alias("a")).collect()[0]
    assert r["s"] == 0.6  # decimal-exact, not 0.6000000000000001
    assert r["a"] == 0.6 / 3  # deterministic double division of the exact sum


def test_redact_pii(spark):
    from lfb_data_warehouse_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [("call +44 (20) 7946-0958 or mail a.b+c@ex-ample.co.uk today",),
         ("no pii here",),
         ("two mails x@y.io z@w.dev and digits 12 34",)],
        "t string",
    )
    emails, phones = pii_counts("t")
    rows = df.select(
        redact_pii("t").alias("r"), emails.alias("e"), phones.alias("p")
    ).collect()
    assert rows[0]["r"] == "call [PHONE] or mail [EMAIL] today"
    assert (rows[0]["e"], rows[0]["p"]) == (1, 1)
    assert rows[1]["r"] == "no pii here" and rows[1]["e"] == 0 and rows[1]["p"] == 0
    # short digit runs (< 8 chars) are not phones
    assert rows[2]["r"] == "two mails [EMAIL] [EMAIL] and digits 12 34"
    assert (rows[2]["e"], rows[2]["p"]) == (2, 0)


def test_mad_scrub_grouped_robust_to_planted_outliers(spark):
    from lfb_data_warehouse_spark.functions.cleanse import mad_scrub_grouped

    # group "a": tight cluster + one far outlier; group "b": no outliers.
    rows = [("a", float(v)) for v in range(10, 21)] + [("a", 10_000.0)]
    rows += [("b", float(v)) for v in (1.0, 2.0, 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_scrub_grouped(df, "v", ["g"], threshold=3.5)
    got = {(r["g"], r["v"]) for r in out.collect()}
    assert ("a", None) in got and ("a", 10_000.0) not in got
    assert sum(1 for g, v in got if g == "a" and v is not None) == 11
    assert all(v is not None for g, v in got if g == "b")
    # stat columns are constant per group and survive into the output
    med = {r["g"]: r["v_med"] for r in out.select("g", "v_med").distinct().collect()}
    assert med["a"] == 15.5 and med["b"] == 2.0


def test_ansi_mode_pinned_for_long_sum_overflow(spark):
    """functions.exact's long-accumulator fast path relies on ANSI mode
    to turn a (pathological) long-sum overflow into a loud error
    instead of a silent wrap. If this default ever flips, sum_exact
    must switch its low-scale path to the wide accumulator."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_sum_exact_matches_decimal_formulation(spark):
    """Fast path == decimal formulation, bit for bit, on on-grid data
    (both accumulator widths)."""
    import random

    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.functions.exact import avg_exact, sum_exact

    random.seed(7)
    rows = [(i, round(random.uniform(-1e5, 1e5), 2)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, x double")
    got = df.agg(
        sum_exact("x").alias("s2"),
        sum_exact("x", "decimal(18,4)").alias("s4"),
        sum_exact("x", wide=True).alias("s2w"),
        avg_exact("x").alias("a2"),
    ).first()
    want = df.agg(
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("s2"),
        F.sum(F.col("x").cast("decimal(18,4)")).cast("double").alias("s4"),
        (F.sum(F.col("x").cast("decimal(18,2)")).cast("double") / F.count("x")).alias("a2"),
    ).first()
    assert got.s2 == want.s2 == got.s2w
    assert got.s4 == want.s4
    assert got.a2 == want.a2


def test_morton_key_matches_reference_interleave(spark):
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.functions.zorder import morton_key

    def py_morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    import random

    rng = random.Random(7)
    pts = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    pts += [(0, 0), (65535, 65535), (65535, 0), (0, 65535), (1, 2)]
    df = spark.createDataFrame(pts, "x long, y long").withColumn(
        "z", morton_key(F.col("x"), F.col("y"))
    )
    for r in df.collect():
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])
    # inputs beyond 16 bits are masked, not corrupted
    big = spark.createDataFrame([(1 << 20 | 5, 3)], "x long, y long")
    assert big.select(morton_key(F.col("x"), F.col("y")).alias("z")).collect()[0]["z"] == py_morton(5, 3)
    # IntegerType inputs with bit 15 set must not overflow 32-bit
    # shiftleft before the long cast (y=32768: 0x55555555<<1 wraps
    # negative in int32 space)
    ints = spark.createDataFrame(
        [(32768, 32768), (65535, 40000), (7, 65535)], "x int, y int"
    )
    for r in ints.select("x", "y", morton_key(F.col("x"), F.col("y")).alias("z")).collect():
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])
