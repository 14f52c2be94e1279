"""Structured Streaming queries exposed through the correctness gate.

Each query actually executes a streaming pipeline (parquet file source →
streaming aggregation → memory sink, availableNow-style bounded run) and
returns the sink contents, so the DuckDB oracle checks *streaming*
semantics against batch SQL — the point being that the engine's stream
operators are meaning-preserving twins of the batch ones (SURVEY §2.9:
the reference is batch-only; this is the beyond-reference extension).

The file source re-stages the events table to a temp dir first because
the driver's events.parquet is TIMESTAMP(NANOS), which the streaming
reader can't take directly (sources.testdata handles the batch side);
re-staging also mirrors a real deployment where the stream reads a
landing zone, not the warehouse.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import sum_exact
from ..sources.io import local_frame
from ..sources.testdata import load_table
from ..streaming.ops import stream_session_agg, stream_windowed_agg
from .queries import register

SESSION_GAP_MIN = 30
SESSION_GAP = f"{SESSION_GAP_MIN} minutes"

# one staged copy per (warehouse-dir, sf_dir) per process — repeated
# bench/correctness runs in one session must not pile up temp copies
_STAGED: dict[str, str] = {}


def _stage_events(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    events = load_table(spark, sf_dir, "events")
    src = _STAGED.get(sf_dir)
    if src is None:
        src = tempfile.mkdtemp(prefix="lfb_stream_src_")
        events.write.mode("overwrite").parquet(src)
        _STAGED[sf_dir] = src
    return events, src


# stream_sliding_bench staging: exactly K files so maxFilesPerTrigger=1
# yields K deterministic "arrivals" — the engine streams through them
# once; the naive twin (tools/baseline_bench.py) batch-recomputes the
# dashboard after each arrival. Shared so both sides read the SAME bytes.
SLIDE_BENCH_FILES = 8
_SLIDE_STAGED: dict[str, str] = {}


def stage_events_k_files(spark: SparkSession, sf_dir: str) -> str:
    src = _SLIDE_STAGED.get(sf_dir)
    if src is None:
        import atexit
        import shutil

        events = load_table(spark, sf_dir, "events")
        src = tempfile.mkdtemp(prefix="lfb_slide_bench_")
        events.repartition(SLIDE_BENCH_FILES).write.mode("overwrite").parquet(src)
        atexit.register(shutil.rmtree, src, ignore_errors=True)
        _SLIDE_STAGED[sf_dir] = src
    return src


def sliding_bench_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine side of the ``stream_sliding_bench`` row: ONE streaming
    query consumes the K staged arrival files (maxFilesPerTrigger=1 →
    K triggers), maintaining the hopping-window aggregate incrementally
    in the state store; the memory sink holds the refreshed dashboard
    after every trigger. Each event is READ ONCE regardless of K — the
    naive per-arrival batch recompute reads N·(K+1)/2 rows for the same
    K refreshes, which is the quadratic term streaming state exists to
    delete (the measured local premium is per-trigger machinery, priced
    in BASELINE.md).

    State partitions are sized to the STATE (~8k window×type keys →
    2 partitions), not to the session default: a stateful query pays
    per-trigger store commits × partitions, so oversizing the count is
    pure fixed cost (measured 8→2 partitions: 3.9 → 3.2 s on the 8
    identical triggers). At warehouse scale the same sizing rule holds
    in reverse — partitions grow with state volume, set once at query
    start."""
    events = load_table(spark, sf_dir, "events")
    src = stage_events_k_files(spark, sf_dir)
    with _state_partitions(spark, 2):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = stream_windowed_agg(
            stream, "ts", window="1 hour", keys=["event_type"], slide="30 minutes"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("stream_slide_bench")
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table("stream_slide_bench")


class _state_partitions:
    """Temporarily pin spark.sql.shuffle.partitions for a bounded
    streaming run. A stateful stream fixes its state-store partition
    count at query start from this conf — a vanilla session's default
    (200) means 200 state tasks per micro-batch for a local test run.
    The conf is restored afterwards (the running query keeps the value
    it started with)."""

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


class _rocksdb_state:
    """Pin the RocksDB state store provider for one bounded run —
    ``transformWithState`` (state API v2) requires it; the conf is read
    at query start, so setting+restoring around the run leaves the
    session default untouched."""

    KEY = "spark.sql.streaming.stateStore.providerClass"
    PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(self.KEY, None)
        self.spark.conf.set(self.KEY, self.PROVIDER)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.KEY)
        else:
            self.spark.conf.set(self.KEY, self.prev)
        return False


def _run_complete(out: DataFrame, prefix: str) -> DataFrame:
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    with _state_partitions(out.sparkSession):
        q = out.writeStream.format("memory").queryName(name).outputMode("complete").start()
        q.processAllAvailable()
        q.stop()
    return out.sparkSession.table(name)


@register(
    "stream_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregate, executed for real through a
    memory sink — must equal the batch tumbling_hourly_events oracle."""
    events, src = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = stream_windowed_agg(stream, "ts", window="1 hour", keys=["event_type"])
    return _run_complete(out, "stream_win")


@register(
    "stream_sessionize",
    oracle=f"""
    WITH l AS (SELECT user_id, ts, event_id,
                      CASE WHEN lag(ts) OVER w IS NULL
                                OR ts - lag(ts) OVER w >= INTERVAL '{SESSION_GAP_MIN} minutes'
                           THEN 1 ELSE 0 END AS ns
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
          FROM l)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '{SESSION_GAP_MIN} minutes' AS session_end,
           COUNT(*) AS event_count
    FROM s GROUP BY user_id, sid
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (SESSION_GAP gap) through a
    memory sink; the oracle rebuilds the identical sessions with the
    batch lag+cumsum formulation — the cumulative-sum window carries the
    event_id tiebreak too, so duplicate (user, ts) rows at a session
    boundary cannot land in the wrong session (session_window's
    half-open [start, last+gap) semantics)."""
    events, src = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = stream_session_agg(stream, "ts", keys=["user_id"], gap=SESSION_GAP)
    return _run_complete(out, "stream_sess")


@register(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(p.ts)
     AND epoch_us(c.ts) <= epoch_us(p.ts) + 7200000000
    WHERE p.event_type = 'purchase'
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed for real (two file streams →
    watermarked range join → append memory sink): clicks attributed to
    the purchase windows they fall into. Must equal the batch range-join
    oracle — the streaming twin of interval_join_purchase_clicks'
    pre-aggregation pair set."""
    from ..streaming.ops import stream_stream_interval_join

    events, src = _stage_events(spark, sf_dir)
    purchases = (
        spark.readStream.schema(events.schema)
        .parquet(src)
        .filter("event_type = 'purchase'")
        .selectExpr("event_id AS purchase_id", "user_id", "ts AS p_ts")
    )
    clicks = (
        spark.readStream.schema(events.schema)
        .parquet(src)
        .filter("event_type = 'click'")
        .selectExpr("event_id AS click_id", "user_id", "ts AS c_ts")
    )
    joined = stream_stream_interval_join(
        purchases, clicks, left_ts="p_ts", right_ts="c_ts", on=["user_id"], window="2 hours"
    ).select("purchase_id", "click_id", "user_id")
    name = f"stream_ivl_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = joined.writeStream.format("memory").queryName(name).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
    return spark.table(name)


@register(
    "stream_interval_join_outer",
    oracle="""
    WITH wm AS (
      SELECT least((SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
                   (SELECT MAX(ts) FROM events WHERE event_type = 'click'))
             - INTERVAL '3 hours' - INTERVAL '10 seconds' AS horizon
    )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts
    FROM events p
    LEFT JOIN events c
      ON c.event_type = 'click'
     AND c.user_id = p.user_id
     AND epoch_us(c.ts) >= epoch_us(p.ts)
     AND epoch_us(c.ts) <= epoch_us(p.ts) + 7200000000
    CROSS JOIN wm
    WHERE p.event_type = 'purchase' AND p.ts <= wm.horizon
    """,
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join executed for real
    (round 13): every purchase inside the watermark-safe horizon, with
    its attributed clicks if any and NULL click_id if none — the
    "attribution with nulls" shape inner joins cannot express.

    Unmatched rows emit only via watermark eviction (Spark's
    join-state solver works in whole milliseconds with a left-value
    ceiling — boundary pinned in test_streaming.py), so the gate
    restricts BOTH sides to purchases at least window + delay + 10 s
    older than the younger stream's max event: rows Spark could still
    be buffering at stream end are excluded from the comparison by
    construction, and inside the horizon the streamed outer result
    must equal the batch LEFT JOIN oracle exactly — nulls included."""
    from ..streaming.ops import stream_stream_interval_join

    events, src = _stage_events(spark, sf_dir)
    horizon = (
        events.agg(
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            ).alias("m")
        )
        .select(F.col("m") - F.expr("INTERVAL 3 hours") - F.expr("INTERVAL 10 seconds"))
        .first()[0]
    )
    purchases = (
        spark.readStream.schema(events.schema)
        .parquet(src)
        .filter("event_type = 'purchase'")
        .selectExpr("event_id AS purchase_id", "user_id", "ts AS p_ts")
    )
    clicks = (
        spark.readStream.schema(events.schema)
        .parquet(src)
        .filter("event_type = 'click'")
        .selectExpr("event_id AS click_id", "user_id", "ts AS c_ts")
    )
    joined = stream_stream_interval_join(
        purchases, clicks, left_ts="p_ts", right_ts="c_ts",
        on=["user_id"], window="2 hours", how="leftOuter",
    ).select("purchase_id", "click_id", "user_id", "p_ts")
    name = f"stream_ivlo_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = joined.writeStream.format("memory").queryName(name).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .filter(F.col("p_ts") <= F.lit(horizon))
        .select(
            "purchase_id", "click_id", "user_id",
            F.col("p_ts").alias("purchase_ts"),
        )
    )


@register(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
           MAX(ts) AS last_seen
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running
    per-user accumulators with event-time idle finalization, executed
    for real through a memory sink.

    The gate checks the running-stats VALUES against the batch groupBy
    twin: each user's newest non-final emission must carry the full
    count/sum/last-seen (the operator accumulates value in integer
    ten-thousandths, so the sum is bit-identical to a decimal(18,4) SQL
    sum). The idle-timeout/finalize path — not expressible in batch SQL
    (watermark-relative) — is pinned by unit test instead
    (test_streaming.py::test_stream_running_user_stats_stateful)."""
    from ..streaming.ops import stream_running_user_stats

    events, src = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = stream_running_user_stats(stream, watermark="1 hour", idle_timeout="2 hours")
    name = f"stream_state_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = out.writeStream.format("memory").queryName(name).outputMode("update").start()
        q.processAllAvailable()
        q.stop()
    sink = spark.table(name)
    # newest update-mode emission per user (multi-batch runs emit one row
    # per user per batch; finals replay the same totals with final=true)
    w = Window.partitionBy("user_id").orderBy(
        F.col("event_count").desc(), F.col("final").asc()
    )
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_count", "value_sum", "last_seen")
    )


# NOTE — transformWithState (state API v2, SPARK-46815): the operator
# exists (streaming/ops.py:stream_tws_user_stats, with _rocksdb_state
# above providing the RocksDB provider it requires), but it is NOT a
# registry query: v2's state server speaks protobuf over a local
# socket, and `google.protobuf` is absent from this container (no
# network to install it) — the query start fails with
# STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. The capability probe
# is pinned in tests/test_streaming.py::test_transform_with_state_unavailable;
# if protobuf appears, register the query with the same oracle as
# stream_stateful_user_stats.


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment, event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming
    dimension lookup: the event stream joins a STATIC broadcast
    dimension (no watermark, no join state; the dimension is re-read
    per micro-batch, which is what keeps slowly-changing lookups fresh
    in production), then a streaming aggregate per (segment, type).
    Executed for real through a memory sink; the oracle is the plain
    batch join — stream-static semantics must be value-identical."""
    from pyspark.sql import functions as F

    events, src = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(events.schema).parquet(src)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    out = (
        stream.join(dim, stream.user_id == F.col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            sum_exact(F.col("value"), "decimal(18,4)", wide=False).alias("total_value"),
        )
    )
    return _run_complete(out, "stream_dim")


@register(
    "stream_upsert_idempotent",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT event_id) AS distinct_ids,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_upsert_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental upsert, idempotency PROVEN in the gate:
    the same source stream runs to completion TWICE against one target
    (fresh checkpoint on the second run forces full re-delivery); the
    per-batch anti-join on event_id (streaming/ops.py
    stream_incremental_upsert — the streaming twin of the reference's
    extract-job anti-joins, lfb-extract.py:36-47) must swallow every
    replayed row, so the target aggregates exactly equal the source's.
    Duplicate-free counts AND sums are asserted — an append bug that
    doubled rows would break both."""
    from pyspark.sql import functions as F

    from ..streaming.ops import stream_incremental_upsert

    events, src = _stage_events(spark, sf_dir)
    key = ("upsert", sf_dir)
    root = _STAGED.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix="lfb_stream_upsert_")
        target = f"{root}/target"
        with _state_partitions(spark):
            for run in (1, 2):  # run 2 = full replay, separate checkpoint
                stream = spark.readStream.schema(events.schema).parquet(src)
                q = stream_incremental_upsert(
                    stream, target, keys=["event_id"], checkpoint=f"{root}/ckpt{run}"
                ).start()
                q.processAllAvailable()
                q.stop()
        _STAGED[key] = root
    back = spark.read.parquet(f"{root}/target")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("distinct_ids"),
        sum_exact(F.col("value"), "decimal(18,4)", wide=False).alias("total_value"),
    )


@register(
    "stream_dedup_events",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup under at-least-once delivery, PROVEN in the gate:
    the same file source is read as two streams and unioned — every
    event arrives exactly twice — then ``stream_dedup`` (watermarked
    dropDuplicates on the natural key) must swallow the second delivery
    before the downstream aggregate. Two chained stateful operators
    (dedup → agg) with watermark propagation; the oracle is the plain
    distinct source aggregate, so any leaked duplicate breaks both the
    counts and the sums."""
    from ..streaming.ops import stream_dedup

    events, src = _stage_events(spark, sf_dir)
    s1 = spark.readStream.schema(events.schema).parquet(src)
    s2 = spark.readStream.schema(events.schema).parquet(src)
    doubled = s1.unionByName(s2)
    deduped = stream_dedup(doubled, keys=["event_id"], ts_col="ts")
    out = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        sum_exact(F.col("value"), "decimal(18,4)", wide=False).alias("total_value"),
    )
    return _run_complete(out, "stream_dedup")


@register(
    "stream_dedup_jittered",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_dedup_jittered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup for the retry-with-new-timestamp producer: the
    second delivery of every event arrives with its event time shifted
    +1 minute, so exact-duplicate dedup (key + ts) would KEEP both
    copies — ``dropDuplicatesWithinWatermark`` on the business key
    alone collapses them because the copies land within the watermark
    delay of each other. Chained with the downstream aggregate like the
    exact-dup gate; the oracle is the plain single-delivery aggregate,
    so any leaked jittered duplicate breaks counts and sums."""
    from ..streaming.ops import stream_dedup_within_watermark

    events, src = _stage_events(spark, sf_dir)
    s1 = spark.readStream.schema(events.schema).parquet(src)
    s2 = (
        spark.readStream.schema(events.schema)
        .parquet(src)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE"))
    )
    doubled = s1.unionByName(s2)
    deduped = stream_dedup_within_watermark(doubled, keys=["event_id"], ts_col="ts")
    out = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        sum_exact(F.col("value"), "decimal(18,4)", wide=False).alias("total_value"),
    )
    return _run_complete(out, "stream_dedup_ww")


# ---------------------------------------------------------------------------
# Late-data semantics: the watermark actually DROPS too-late arrivals
# ---------------------------------------------------------------------------

# one staged tranche dir per sf_dir per process (same rationale as
# _STAGED above)
_LATE_STAGED: dict[str, str] = {}

_LATE_CUTOFF = "2024-01-02"


def _stage_late_tranches(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as FIVE ordered single-file micro-batches:

      00  day-1 events (on time)
      01  everything after day 1 (advances the watermark far past day 1)
      02  '__flush__' sentinel at max(ts)+48h — a spacer batch, because
          Spark's watermark LAGS one micro-batch (batch N runs under
          the watermark computed from batches ≤ N-2; measured here:
          without the spacer the late tranche lands while day-1's last
          two hourly windows are still live and double-counts them)
      03  day-1 events AGAIN (late duplicates — watermark is now months
          past them, so every row must be dropped)
      04  '__flush__' sentinel at max(ts)+96h (pushes the watermark
          past sentinel 02's window so append mode emits every real
          window; sentinel rows are filtered from the output and 04's
          own window never emits)

    Files are named 00-04 with strictly increasing mtimes so the file
    source (maxFilesPerTrigger=1, oldest-first) replays them as five
    deterministic micro-batches.
    """
    import datetime as dt
    import os
    import shutil

    src = _LATE_STAGED.get(sf_dir)
    if src is not None:
        return src
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_LATE_CUTOFF).cast("timestamp")
    t0 = events.filter(F.col("ts") < cutoff)
    t1 = events.filter(F.col("ts") >= cutoff)
    # collect() gives local time; local_frame reads a naive value as UTC
    max_ts = events.agg(F.max("ts")).collect()[0][0].astimezone(dt.timezone.utc)

    def flush(eid: int, hours: int) -> DataFrame:
        return local_frame(
            spark,
            [(eid, max_ts + dt.timedelta(hours=hours), 0, "__flush__", 0.0, None)],
            events.schema,
        )

    src = tempfile.mkdtemp(prefix="lfb_stream_late_")
    for i, df in enumerate((t0, t1, flush(10**12, 48), t0, flush(10**12 + 1, 96))):
        tmp = tempfile.mkdtemp(prefix="lfb_stream_late_part_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in sorted(os.listdir(tmp)) if p.endswith(".parquet"))
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(tmp, ignore_errors=True)
    _LATE_STAGED[sf_dir] = src
    return src


def _run_append(out: DataFrame, prefix: str) -> DataFrame:
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    with _state_partitions(out.sparkSession):
        q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
    return out.sparkSession.table(name)


@register(
    "stream_late_data_drop",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, gated end to end: the stream
    replays day-1 events, then the rest of the corpus (advancing the
    watermark far past day 1), then THE SAME day-1 events again as late
    arrivals, in append mode. The 1-hour watermark must drop the late
    tranche entirely — their windows closed and evicted when the
    watermark passed — so the streaming output equals the plain batch
    hourly aggregate over the ORIGINAL events: duplicates contribute
    nothing, and the oracle is the clean batch answer. (complete/update
    modes never demonstrate this: they re-emit state, so late dupes
    would double-count. This is THE correctness property that makes
    bounded-state streaming safe at 100 TB/day ingest.)"""
    events = load_table(spark, sf_dir, "events")
    src = _stage_late_tranches(spark, sf_dir)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_windowed_agg(stream, "ts", window="1 hour", keys=["event_type"], watermark="1 hour")
    res = _run_append(out, "stream_late")
    return res.filter(F.col("event_type") != "__flush__")


@register(
    "stream_sliding_halfhour",
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
def stream_sliding_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HOPPING-window aggregate (1 h window, 30 min slide)
    executed for real through a memory sink — the streaming twin of
    batch sliding_window_events, same oracle. Each event feeds
    window/slide = 2 open windows, so streaming state (and the
    watermark's eviction pressure) doubles vs the tumbling case — the
    scale note stream_windowed_agg's slide parameter documents."""
    events, src = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = stream_windowed_agg(
        stream, "ts", window="1 hour", keys=["event_type"], slide="30 minutes"
    )
    return _run_complete(out, "stream_slide")
