"""lfb_data_warehouse_spark — a PySpark-native analytics engine.

A clean-room, Spark-first rebuild of the query / data-processing
capabilities of the reference warehouse (it1shka/lfb-data-warehouse,
surveyed in /root/repo/SURVEY.md): composable, parameterized DataFrame
operators instead of single-purpose job scripts, plus the
large-scale-training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB pipeline needs.

Layout
------
- ``sources``    readers/writers, schema registry (SURVEY §2.1 S1-S10)
- ``functions``  column-expression builders: hash keys, bucketing
                 CASEs, cleansing scrubs, text/vector expressions
                 (SURVEY §2.8)
- ``operators``  DataFrame→DataFrame relational operators: incremental
                 anti-join upsert, nearest-within as-of join, date spine,
                 rollups/pivot, top-k, dedup, similarity, DQ checks
                 (SURVEY §2.2-§2.7, §2.11)
- ``plans``      end-to-end pipelines (LFB star schema) and the
                 query/oracle registry driving ``__spark_entry__``
- ``streaming``  Structured Streaming variants (incremental upsert,
                 watermarked dedup, windowed aggregation)

Design stance (SURVEY §7.1): no RDDs, no row-at-a-time UDFs, no custom
Catalyst rules — declare plans with DataFrame/SQL and let Catalyst/AQE
pick physical strategies; Pandas UDFs only where built-ins cannot
express the semantics (vector math fast path, multimodal decode).
"""

__version__ = "0.1.0"
