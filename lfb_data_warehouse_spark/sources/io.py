"""Readers and writers (SURVEY §2.1 S1-S10).

The reference reads CSV with schema inference at the raw edge and
re-applies declared StructTypes positionally over ``df.rdd``
(/root/reference/etl/load/load_fact.py:387 et al.). This engine replaces
that idiom with :func:`conform` — an explicit name-mapped cast/select
that keeps Catalyst pushdown and whole-stage codegen (no RDD
round-trip, SURVEY §1.4).

Delta-specific maintenance (OPTIMIZE/ZORDER,
/root/reference/etl/load/load_fact.py:392-405) is feature-detected;
on plain OSS Spark the equivalent data-clustering effect comes from
``repartitionByRange().sortWithinPartitions()`` before the write so
parquet row-group min/max statistics enable data skipping.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    recursive: bool = False,
) -> DataFrame:
    """CSV scan (S1/S2). Prefer an explicit schema; inference is allowed
    only at the raw edge (it costs an extra full scan of the files)."""
    reader = spark.read.option("header", str(header).lower())
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S3) — columnar, predicate pushdown, column pruning."""
    return spark.read.parquet(path)


def local_frame(spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str) -> DataFrame:
    """A frame over rows computed on the driver (a sentinel member, an
    offset or centroid table, a query's result rows), typed by
    ``schema``, a ``StructType`` or a DDL string.

    The rows reach the JVM as one Arrow table, which ``createDataFrame``
    reads itself whether or not the session enables Arrow conversion,
    and which Spark plans as a ``LocalTableScan``. A frame built from
    tuples or ``Row``s is a pickled ``parallelize`` RDD instead: every
    later scan re-serializes its rows in a Python task per slice (a
    ``PythonRDD`` in its lineage). A naive ``datetime`` is read as UTC,
    not in the Python process's local time zone."""
    schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    arrays = [pa.array(c, f.type) for c, f in zip(cols, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


def conform(df: DataFrame, schema: StructType, renames: Mapping[str, str] | None = None) -> DataFrame:
    """Re-type/rename a frame to a declared schema *by name* (replaces the
    reference's positional ``createDataFrame(df.rdd, schema)`` idiom, S10).

    ``renames`` maps source column → target column for tables where the
    reference renamed positionally (e.g. WindStrength→Wind,
    /root/reference/etl/load/load_weather_dim.py:24-37).
    """
    renames = dict(renames or {})
    inverse = {v: k for k, v in renames.items()}
    cols = []
    for field in schema.fields:
        src = inverse.get(field.name, field.name)
        cols.append(F.col(src).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def _cluster(df: DataFrame, cluster_by: Sequence[str]) -> DataFrame:
    """S8 clustering fallback: range-partition + in-partition sort on the
    cluster columns, so parquet row-group min/max stats prune on them
    (the OSS substitute for Delta OPTIMIZE ZORDER)."""
    cols = [F.col(c) for c in cluster_by]
    return df.repartitionByRange(*cols).sortWithinPartitions(*cols)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    cluster_by: Sequence[str] | None = None,
    bloom_filter_for: Mapping[str, int | None] | Sequence[str] | None = None,
    options: Mapping[str, str] | None = None,
) -> None:
    """Parquet sink (S5); ``cluster_by`` applies the S8 clustering
    fallback (see :func:`_cluster`) to a path-based write;
    ``bloom_filter_for`` writes NDV-sized parquet bloom filters (see
    :func:`write_table`); ``options`` passes arbitrary writer options
    through (e.g. ``parquet.enable.dictionary#col``)."""
    _writer(df, mode, partition_by, cluster_by, bloom_filter_for, options).parquet(path)


def _writer(df, mode, partition_by, cluster_by, bloom_filter_for, options):
    """The writer both sinks share: S8 clustering, partition columns,
    parquet bloom filters (round 12: enabled per column, sized by the
    expected NDV when a mapping is passed) and any other options.

    Dictionary interaction (round 13, measured): parquet-mr OMITS the
    bloom filter for a column chunk whose pages are all
    dictionary-encoded — the dictionary page is already an exact
    row-group membership filter, so the bloom would be redundant
    bytes. At real scale the user_id-class columns this option targets
    overflow the dictionary-page cap and land PLAIN-encoded, which is
    when the filter is actually written; to reproduce that shape on
    small test data, additionally pass
    ``options={"parquet.enable.dictionary#col": "false"}``."""
    if cluster_by:
        df = _cluster(df, cluster_by)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for col in bloom_filter_for or ():
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
        ndv = bloom_filter_for[col] if isinstance(bloom_filter_for, Mapping) else None
        if ndv:
            writer = writer.option(f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv)))
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    return writer


def _delta_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.Class.forName("org.apache.spark.sql.delta.DeltaLog")  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    cluster_by: Sequence[str] | None = None,
    bloom_filter_for: Mapping[str, int | None] | Sequence[str] | None = None,
    options: Mapping[str, str] | None = None,
) -> None:
    """Managed-table sink (S7) with data clustering (S8).

    With Delta on the classpath this maps to a Delta ``saveAsTable`` (the
    reference then runs ``OPTIMIZE ... ZORDER BY``); on OSS Spark we get
    the same file-skipping effect by range-partitioning + sorting on the
    cluster columns before a Parquet ``saveAsTable`` — parquet row-group
    stats then prune on those columns.

    ``bloom_filter_for`` (round 12): write a parquet bloom filter per
    named column (``parquet.bloom.filter.enabled#col``) — the
    row-group-skipping mechanism for POINT lookups on high-cardinality
    columns that min/max stats cannot prune (a clustered sort only
    helps the cluster keys; a bloom filter prunes `user_id = X` probes
    on any column at ~1 byte/value). Pass a mapping ``{col: ndv}`` to
    size each filter (``parquet.bloom.filter.expected.ndv#col``)
    instead of parquet-mr's 1 MiB default cap. The NDV is applied PER
    ROW GROUP, so pass the expected distincts per row group, not the
    table's global count (measured: a global-NDV filter bloated files
    +51% for the same skipping; the per-group figure costs +3% bytes
    for ~20% faster point lookups on warm local files, and on cold
    object storage a skipped row group is an unread GET). At scale this is the difference between scanning
    every row group of a shard and touching only the groups whose
    filter admits the key.
    """
    writer = _writer(df, mode, partition_by, cluster_by, bloom_filter_for, options)
    if _delta_available(df.sparkSession):
        writer = writer.format("delta").option("delta.autoOptimize.optimizeWrite", "true")
    else:
        writer = writer.format("parquet")
    writer.saveAsTable(name)
