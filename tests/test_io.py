"""IO layer tests (SURVEY §2.1): CSV scans, schema conformance, parquet
sinks with partitioning, managed-table sink with clustering fallback."""

import ast
import datetime as dt
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

import lfb_data_warehouse_spark
from lfb_data_warehouse_spark.sources.io import (
    conform,
    local_frame,
    read_csv,
    write_parquet,
    write_table,
)
from tests.conftest import runs_python_task

SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
    ]
)


def test_read_csv_explicit_schema(spark, tmp_path):
    p = tmp_path / "flat"
    p.mkdir()
    (p / "a.csv").write_text("id,name\n1,x\n2,y\n")
    df = read_csv(spark, str(p), schema=SCHEMA)
    assert df.schema == SCHEMA
    assert {(r["id"], r["name"]) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_read_csv_recursive_lookup(spark, tmp_path):
    # mirrors the reference's recursiveFileLookup AQ ingest
    # (/root/reference/etl/transform/aq-cleanse.py:194-199)
    root = tmp_path / "nested"
    (root / "2023").mkdir(parents=True)
    (root / "2024").mkdir()
    (root / "2023" / "a.csv").write_text("id,name\n1,x\n")
    (root / "2024" / "b.csv").write_text("id,name\n2,y\n")
    df = read_csv(spark, str(root), schema=SCHEMA, recursive=True)
    assert df.count() == 2


def test_conform_casts_and_renames_by_name(spark):
    # replaces the reference's positional createDataFrame(df.rdd, schema)
    # (/root/reference/etl/load/load_weather_dim.py:24-38)
    src = spark.createDataFrame([("1", "gale")], "id string, WindStrength string")
    target = StructType(
        [StructField("id", IntegerType()), StructField("Wind", StringType())]
    )
    out = conform(src, target, renames={"WindStrength": "Wind"})
    assert out.schema == target
    assert out.collect()[0]["Wind"] == "gale"
    assert out.collect()[0]["id"] == 1


def test_local_frame_equals_the_tuple_built_frame(arrow_off):
    """Same values, types and nullability as ``createDataFrame`` over
    the same tuples, planned as a LocalTableScan with no Python task."""
    spark = arrow_off
    schema = StructType.fromDDL(
        "id long, ts timestamp, n int, s string, x double, v array<bigint>"
    ).add("k", "string", nullable=False)
    rows = [
        (1, dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc), 0, "a", 0.5, [1, 2], "k1"),
        (None, None, None, None, None, None, "k2"),
    ]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema == schema
    assert got.collect() == want.collect()
    assert got.selectExpr("unix_micros(ts)").collect() == (
        want.selectExpr("unix_micros(ts)").collect()
    )
    assert got._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
    assert runs_python_task(want) and not runs_python_task(got)
    empty = local_frame(spark, [], "a int, b string")
    assert empty.count() == 0 and empty.schema == StructType.fromDDL("a int, b string")


def _create_data_frame_callers():
    """(module, enclosing function) of every ``createDataFrame`` call in
    the engine's source."""
    root = pathlib.Path(lfb_data_warehouse_spark.__file__).parent
    found = []

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            found.append((rel, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(root).as_posix(), None)
    return found


def test_engine_builds_driver_rows_only_through_local_frame():
    """A frame over driver-side rows comes from ``local_frame`` alone, so
    no engine frame is a pickled RDD that re-runs a Python task on
    every scan."""
    assert _create_data_frame_callers() == [("sources/io.py", "local_frame")]


def test_driver_built_operator_frames_run_no_python_task(arrow_off):
    """The offset tables of the dense ids and the packing, and the
    k-means centroid set, are local frames: none of the three runs a
    Python task."""
    from lfb_data_warehouse_spark.operators.ids import assign_dense_ids
    from lfb_data_warehouse_spark.operators.packing import pack_sequences
    from lfb_data_warehouse_spark.operators.similarity import kmeans_centroids

    spark = arrow_off
    df = spark.range(0, 40).selectExpr(
        "id AS doc_id",
        "IF(id % 3 = 0, 'a', 'b') AS source",
        "id % 7 + 1 AS tok",
        "array(CAST(id % 5 AS FLOAT), CAST(id % 2 AS FLOAT), 1.0F) AS embedding",
    )
    frames = {
        "dense_ids": assign_dense_ids(df, ["doc_id"], num_partitions=3),
        "packing": pack_sequences(
            df, group_col="source", order_cols=["doc_id"], token_col="tok",
            seq_len=16, num_partitions=3,
        ),
        "centroids": kmeans_centroids(df, "doc_id", "embedding", k=3, iters=2),
    }
    assert [name for name, frame in frames.items() if runs_python_task(frame)] == []
    assert frames["dense_ids"].count() == 40
    assert frames["packing"].count() == 40
    assert frames["centroids"].count() == 3


def test_write_parquet_partitioned_prunes(spark, tmp_path):
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, part int")
    dest = str(tmp_path / "part_out")
    write_parquet(df, dest, partition_by=["part"])
    back = spark.read.parquet(dest).filter(F.col("part") == 1)
    assert back.count() == 10
    # partition pruning must reach the file index: only one partition dir scanned
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain()
    assert "PartitionFilters: [isnotnull(part" in buf.getvalue()


def test_delta_unavailable_falls_back(spark):
    """S7 capability pin (VERDICT r3 item 5): Delta Lake is conclusively
    absent in this environment — no `delta-spark` package, no delta jars
    under pyspark/jars, and no network for `spark.jars.packages` to
    fetch them — so the Parquet `saveAsTable` fallback is the DOCUMENTED
    write_table behavior here, not a silent degradation. If this test
    ever fails on the first assert, Delta appeared on the classpath:
    flip S7 to the real `format("delta")` path (reference
    etl/load/load_fact.py:392-405) and add a Delta round-trip gate."""
    import importlib.util

    from lfb_data_warehouse_spark.sources.io import _delta_available

    assert importlib.util.find_spec("delta") is None  # no delta-spark pkg
    assert not _delta_available(spark)  # no DeltaLog class on the JVM
    df = spark.range(5).withColumn("v", F.col("id") * 2)
    write_table(df, "t_delta_probe", mode="overwrite")
    try:
        assert spark.table("t_delta_probe").count() == 5
        provider = spark.sql("DESCRIBE TABLE EXTENDED t_delta_probe").filter(
            "col_name = 'Provider'"
        ).collect()
        assert provider and provider[0]["data_type"].lower() == "parquet"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_delta_probe")


def test_write_table_cluster_by_fallback(spark, tmp_path):
    # no Delta on this classpath: write_table must fall back to a
    # parquet saveAsTable with range-partition + sort clustering
    df = spark.createDataFrame(
        [(i, (i * 7919) % 100) for i in range(1000)], "id long, ck int"
    )
    write_table(df, "t_cluster_test", mode="overwrite", cluster_by=["ck"])
    try:
        back = spark.table("t_cluster_test")
        assert back.count() == 1000
        # clustering means each file holds a narrow ck range: within every
        # parquet file the ck values must arrive sorted
        files = back.select("ck", F.input_file_name().alias("f"))
        from pyspark.sql import Window

        w = Window.partitionBy("f").orderBy(F.monotonically_increasing_id())
        ordered = files.withColumn("prev", F.lag("ck").over(w)).filter(
            F.col("prev").isNotNull() & (F.col("ck") < F.col("prev"))
        )
        assert ordered.count() == 0, "ck not sorted within files — no row-group skipping"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cluster_test")


def test_bucketed_tables_join_without_shuffle(spark):
    """Co-located join (the 100 TB answer to lineitem ⋈ orders): both
    sides bucketed by the join key at write time join with ZERO
    exchanges — the one shuffle TPC-H Q5 calls irreducible becomes a
    write-time cost paid once."""
    import contextlib
    import io as _io

    a = spark.createDataFrame([(i, i * 2) for i in range(1000)], "k long, va long")
    b = spark.createDataFrame([(i, i * 3) for i in range(1000)], "k long, vb long")
    # at test scale Spark would broadcast instead (bypassing buckets);
    # disable it to expose the big-big path buckets exist for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, df in (("t_bkt_a", a), ("t_bkt_b", b)):
            df.write.mode("overwrite").format("parquet").bucketBy(8, "k").sortBy(
                "k"
            ).saveAsTable(name)
        joined = spark.table("t_bkt_a").join(spark.table("t_bkt_b"), "k")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SortMergeJoin" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_compaction_reduces_file_count(spark):
    """compaction_roundtrip's staged layout: 64 shattered fragments in,
    ≤4 compacted files out, values identical."""
    from lfb_data_warehouse_spark.plans.io_queries import _STAGED, compaction_roundtrip

    sf_dir = "/root/testdata/sf0.001"
    compaction_roundtrip(spark, sf_dir)  # stages on first call
    path = _STAGED[("compacted", sf_dir)]
    import glob

    shattered = glob.glob(f"{path}/shattered/part-*")
    compacted = glob.glob(f"{path}/compacted/part-*")
    assert len(shattered) == 64
    assert 0 < len(compacted) <= 4
    a = spark.read.parquet(f"{path}/shattered")
    b = spark.read.parquet(f"{path}/compacted")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_python_datasource_calendar_partitions_and_values(spark):
    # Spark 4 Python DataSource API: partition planning is real (one
    # input partition per month) and the generated rows agree with
    # Spark's own date functions, leap day included
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.sources.pydatasource import calendar

    cal = calendar(spark, 2024)
    assert cal.rdd.getNumPartitions() == 12
    assert cal.count() == 366  # leap year
    mism = cal.filter(
        (F.col("iso_weekday") != F.expr("weekday(day) + 1"))
        | (F.col("is_weekend") != F.expr("weekday(day) >= 5"))
    ).count()
    assert mism == 0


def test_write_table_parquet_bloom_filters(spark):
    """Round 12: bloom_filter_for writes a real parquet bloom filter,
    sized by the supplied NDV. pyarrow 16 has no bloom-offset metadata
    API, so the pin is byte-level and behavioral: the bloomed file
    carries measurably more footer-adjacent bytes than the identical
    un-bloomed write (the filter bitset), an NDV-sized filter is
    smaller than the 1 MiB-cap default, and a point lookup on the
    bloomed column returns exact rows."""
    import glob
    import os

    from pyspark.sql import functions as F

    df = spark.range(0, 5000).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 97).alias("bucket"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    ).coalesce(1)

    def table_bytes(name):
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
            .filter(F.col("col_name") == "Location").collect()[0]["data_type"]
        )
        files = glob.glob(loc.removeprefix("file:") + "/*.parquet")
        assert files, f"no parquet files for {name}"
        return sum(os.path.getsize(f) for f in files)

    for name in ("t_bloom_none", "t_bloom_sized", "t_bloom_capped"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_table(df, "t_bloom_none", mode="overwrite")
    write_table(df, "t_bloom_sized", mode="overwrite",
                bloom_filter_for={"user_id": 5000})
    write_table(df, "t_bloom_capped", mode="overwrite",
                bloom_filter_for=["user_id"])  # parquet-mr default sizing
    plain, sized, capped = (
        table_bytes("t_bloom_none"),
        table_bytes("t_bloom_sized"),
        table_bytes("t_bloom_capped"),
    )
    # a 5000-NDV filter is ~8 KiB; the unsized default is far larger
    assert sized > plain + 2048, (plain, sized)
    assert capped > sized + 65536, (sized, capped)
    got = spark.table("t_bloom_sized").filter(F.col("user_id") == 4242).collect()
    assert len(got) == 1 and got[0]["bucket"] == 4242 % 97
    for name in ("t_bloom_none", "t_bloom_sized", "t_bloom_capped"):
        spark.sql(f"DROP TABLE {name}")


def test_clustered_stage_carries_partkey_bloom_filter(spark):
    """clustered_write_skipping's staged layout (round 13): the
    l_shipdate-clustered lineitem copy also carries an NDV-sized bloom
    filter on l_partkey. Pins: (a) the bloomed column is PLAIN-encoded
    (the at-scale shape — parquet-mr omits bloom filters for
    all-dictionary chunks, so a dictionary here would mean NO filter
    was written), (b) the staged files carry the filter bitset bytes
    vs an identical write differing only in bloom_filter_for (pyarrow
    16 exposes no bloom-offset API, so byte-delta is the pin), (c) the
    point-lookup leg pushes the l_partkey equality into the parquet
    scan (where parquet-mr consults the filter), (d) the point lookup
    returns exactly the source rows."""
    import glob
    import os

    import pyarrow.parquet as pq

    from lfb_data_warehouse_spark.plans.io_queries import (
        _STAGED,
        clustered_write_skipping,
    )
    from lfb_data_warehouse_spark.sources.io import write_parquet
    from lfb_data_warehouse_spark.sources.testdata import load_table

    sf_dir = "/root/testdata/sf0.001"
    out = clustered_write_skipping(spark, sf_dir)  # stages on first call
    path = _STAGED[("clustered", sf_dir)]

    def dir_bytes(p):
        files = glob.glob(f"{p}/part-*.parquet")
        assert files, f"no parquet files under {p}"
        return sum(os.path.getsize(f) for f in files)

    md = pq.ParquetFile(glob.glob(f"{path}/part-*.parquet")[0]).metadata
    rg = md.row_group(0)
    partkey_cols = [
        rg.column(i)
        for i in range(rg.num_columns)
        if rg.column(i).path_in_schema == "l_partkey"
    ]
    assert partkey_cols and "PLAIN" in partkey_cols[0].encodings
    assert "PLAIN_DICTIONARY" not in partkey_cols[0].encodings

    li = load_table(spark, sf_dir, "lineitem")
    import tempfile

    nobloom = tempfile.mkdtemp(prefix="lfb_io_clustered_nobloom_")
    write_parquet(
        li,
        nobloom,
        mode="overwrite",
        cluster_by=["l_shipdate"],
        options={"parquet.enable.dictionary#l_partkey": "false"},
    )
    # 20k-NDV bloom bitset is ~32 KiB per row group
    assert dir_bytes(path) > dir_bytes(nobloom) + 16384, (
        dir_bytes(path),
        dir_bytes(nobloom),
    )

    point = spark.read.parquet(path).filter(F.col("l_partkey") == 1)
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        point.explain()
    plan = buf.getvalue()
    assert any(
        "PushedFilters" in l and "EqualTo(l_partkey,1)" in l
        for l in plan.splitlines()
    ), plan
    got = {r["l_orderkey"] for r in point.select("l_orderkey").collect()}
    want = {
        r["l_orderkey"]
        for r in li.filter(F.col("l_partkey") == 1).select("l_orderkey").collect()
    }
    assert got == want and want
    rows = out.collect()
    legs = {r["leg"] for r in rows}
    assert legs == {"shipdate_range", "partkey_point"}
