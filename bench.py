"""Headline-query benchmark.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full plan executes,
nothing written) — count() alone would let column pruning skip most of
the work and flatter the numbers.

Noise protocol (VERDICT r3 item 2 — the round-3 headline swung +9% on
box/position noise alone): for every query the ENGINE plan and its
NAIVE twin (tools/baseline_bench.py) run INTERLEAVED in the same
session — (engine, naive) × 3 with the within-pair order alternating
per repetition — and each side reports its best-of-3. Interleaving
means any transient slowdown (GC, neighbor load, page-cache churn)
hits both sides of the SAME query equally instead of whichever suite
happened to run first, so the per-query ratio is position-independent.
The JSON carries the naive timings, per-query ratios, and box state
(loadavg, cpu count) alongside the unchanged driver-facing fields.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lfb_data_warehouse_spark.plans import REGISTRY  # noqa: E402
from lfb_data_warehouse_spark.session import get_spark  # noqa: E402


def sf_from_dir(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


EXTRA_BENCH = (
    "knn_numpy_topk",
    "ivf_search_persisted",
    "incremental_dedup_daily",
    "pq_adc_search_persisted",
    "ivfpq_search_persisted",
    "prepare_training_corpus",
    "crawl_to_corpus",
    "stream_sliding_bench",
    "media_decode_bench",
    "audio_decode_bench",
)

# The rows benchmarked in BOTH round 11 and round 12 (the full
# round-11 suite including crawl_to_corpus, which joined in r11;
# audio_decode_bench is new in r12 and therefore NOT carried). Their
# subtotal is reported alongside the full headline so genuine
# regression separates from suite growth in one glance (VERDICT r6
# item 6); rebuild this tuple whenever the suite changes.
CARRIED_FROM_PREV = (
    "crawl_to_corpus",
    "media_decode_bench",
    "stream_sliding_bench",
    "flagship_star_fact",
    "asof_nearest_purchase",
    "interval_join_purchase_clicks",
    "salted_agg_events",
    "window_trailing_30d",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume",
    "dedup_keep_canonical",
    "semantic_dedup_keep",
    "tpch_q9_product_profit",
    "tpch_q21_waiting_supplier",
    "dedup_minhash_lsh",
    "mart_per_month",
    "mart_per_segment",
    "pivot_priority_by_year",
    "join_enrich_brand_revenue",
    "dedup_components_star",
    "gopher_quality_gates",
    "text_quality_stats",
    "c4_clean_documents",
    "ewma_customer_spend",
    "anomaly_daily_revenue",
    "basket_brand_affinity",
    "knn_numpy_topk",
    "ivf_search_persisted",
    "incremental_dedup_daily",
    "pq_adc_search_persisted",
    "ivfpq_search_persisted",
    "prepare_training_corpus",
)

_INC_BENCH_DIRS: dict[str, str] = {}


def incremental_dedup_daily(spark, sf_dir):
    """The RECURRING daily-ingest dedup step: yesterday's labels read
    from parquet (materialized once per session, untimed after the
    first pass — the state a production deployment already has), then
    new-batch pair finding (old side pruned by a broadcast semi-join
    on the batch's shingles) → label fold → survivor update. The naive
    twin is the nightly FULL from-scratch dedup this design replaces
    (same output contract: doc_id, source, represents; equality with
    the full recompute is driver-gated by incremental_dedup_survivors).
    """
    import tempfile

    from lfb_data_warehouse_spark.plans.datapipe_queries import (
        daily_increment,
        keep_canonical,
        old_labels,
    )
    from lfb_data_warehouse_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    if sf_dir not in _INC_BENCH_DIRS:
        d = tempfile.mkdtemp(prefix="lfb_inc_bench_")
        old_labels(docs).write.mode("overwrite").parquet(d)
        _INC_BENCH_DIRS[sf_dir] = d
    labels = spark.read.parquet(_INC_BENCH_DIRS[sf_dir])
    return keep_canonical(*daily_increment(docs, labels))


_PQ_CODES_DIRS: dict[str, tuple[str, list]] = {}


def pq_adc_search_persisted(spark, sf_dir):
    """Search-side PQ-ADC benchmark over PERSISTED codes — the same
    rationale that moved IVF's bench row off the inline-rebuild gate
    (VERDICT r2 item 4): codebook training + corpus encode are
    build-once costs amortized over every search batch, so timing them
    per query makes the inline gate (ann_pq_adc_topk, still the
    correctness anchor) look ~9× worse than the deployment it gates.
    Only LUT scoring over the materialized code table + the per-probe
    top-k is timed. At 2k vectors brute force still wins (crossover at
    ~30k, BASELINE.md); the row prices the production search path."""
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        pq_adc_score,
        pq_codebook,
        pq_encode,
        pq_probe_luts,
        quantize,
    )
    from lfb_data_warehouse_spark.plans.datapipe_queries import KNN_K, KNN_PROBES
    from lfb_data_warehouse_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _PQ_CODES_DIRS:
        cw = pq_codebook(emb, "vec_id", "embedding")
        d = tempfile.mkdtemp(prefix="lfb_pq_codes_")
        pq_encode(emb, "vec_id", "embedding", cw).select(
            F.col("vec_id").alias("neighbor_id"), "codes"
        ).write.mode("overwrite").parquet(d)
        _PQ_CODES_DIRS[sf_dir] = (d, cw)
    d, cw = _PQ_CODES_DIRS[sf_dir]
    probes = pq_probe_luts(
        quantize(
            emb.filter(F.col("vec_id") < KNN_PROBES), "vec_id", "embedding"
        ),
        cw,
        id_col="vec_id",
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        pq_adc_score(spark.read.parquet(d), probes, cw)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KNN_K)
        .select("probe_id", "neighbor_id", "rank", "score")
    )


_IVFPQ_INDEX_DIRS: dict[str, tuple[str, list]] = {}


def ivfpq_search_persisted(spark, sf_dir):
    """Search-side benchmark for the COMPOSED IVF x PQ index over a
    persisted codes-only inverted list — the production ANN shape at
    1e9 vectors (BASELINE.md: the only curve that stays near-flat as
    the corpus grows; 0.12x brute at 1M vectors vs 0.20/0.21 for the
    single-technique paths). Build (centroids + assignment + codebook
    + encode) materializes once per session untimed, exactly like the
    ivf/pq persisted rows; only centroid ranking, LUT construction,
    list-restricted ADC scoring, and the per-probe top-k are timed.
    Correctness anchor: ann_ivf_pq_topk (same arithmetic, inline)."""
    import tempfile

    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        ivf_pq_build,
        ivf_pq_search,
        quantize,
    )
    from lfb_data_warehouse_spark.plans.datapipe_queries import (
        EMB_DIM,
        IVF_NPROBE,
        KNN_K,
        KNN_PROBES,
    )
    from lfb_data_warehouse_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _IVFPQ_INDEX_DIRS:
        inv, cents, cw = ivf_pq_build(emb, "vec_id", "embedding", "label", dim=EMB_DIM)
        d = tempfile.mkdtemp(prefix="lfb_ivfpq_index_")
        inv.write.mode("overwrite").partitionBy("assigned_label").parquet(d + "/inv")
        cents.write.mode("overwrite").parquet(d + "/cents")
        quantize(
            emb.filter(F.col("vec_id") < KNN_PROBES), "vec_id", "embedding"
        ).select(
            F.col("vec_id").alias("probe_id"),
            F.col("q").alias("pq"),
            F.col("norm").alias("pnorm"),
        ).write.mode("overwrite").parquet(d + "/probes")
        _IVFPQ_INDEX_DIRS[sf_dir] = (d, cw)
    d, cw = _IVFPQ_INDEX_DIRS[sf_dir]
    return ivf_pq_search(
        spark.read.parquet(d + "/inv"),
        spark.read.parquet(d + "/cents"),
        spark.read.parquet(d + "/probes"),
        cw,
        KNN_K,
        nprobe=IVF_NPROBE,
    )


_IVF_INDEX_DIRS: dict[str, str] = {}


def ivf_search_persisted(spark, sf_dir):
    """Search-side IVF ANN benchmark over a PERSISTED index — the
    production shape, where ivf_build materializes ONCE (parquet,
    partitioned by assigned_label) and amortizes over every search
    batch. Only the search is timed; the inline-rebuild variant
    (ann_ivf_topk) stays as the correctness gate but is the wrong thing
    to time, since rebuilding an index per query does more arithmetic
    than one brute scan by construction (VERDICT r2 item 4; crossover
    table in BASELINE.md round 2, measured by tools/ivf_crossover.py,
    last held at commit 1e57315)."""
    import tempfile

    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        quantize,
    )
    from lfb_data_warehouse_spark.plans.datapipe_queries import (
        EMB_DIM,
        IVF_NPROBE,
        KNN_K,
        KNN_PROBES,
    )
    from lfb_data_warehouse_spark.sources.testdata import load_table

    if sf_dir not in _IVF_INDEX_DIRS:
        emb = load_table(spark, sf_dir, "embeddings")
        inv, cents = ivf_build(emb, "vec_id", "embedding", "label", dim=EMB_DIM)
        d = tempfile.mkdtemp(prefix="lfb_ivf_index_")
        inv.write.mode("overwrite").partitionBy("assigned_label").parquet(d + "/inv")
        cents.write.mode("overwrite").parquet(d + "/cents")
        quantize(
            emb.filter(F.col("vec_id").isin(list(range(KNN_PROBES)))),
            "vec_id",
            "embedding",
        ).select(
            F.col("vec_id").alias("probe_id"),
            F.col("q").alias("pq"),
            F.col("norm").alias("pnorm"),
        ).write.mode("overwrite").parquet(d + "/probes")
        _IVF_INDEX_DIRS[sf_dir] = d
    d = _IVF_INDEX_DIRS[sf_dir]
    return ivf_search(
        spark.read.parquet(d + "/inv"),
        spark.read.parquet(d + "/cents"),
        spark.read.parquet(d + "/probes"),
        KNN_K,
        nprobe=IVF_NPROBE,
    )


def prepare_training_corpus(spark, sf_dir):
    """The flagship composed pipeline (C4 → Gopher → repetition →
    SemDeDup → exact dedup → packing as ONE lazy plan) raced against
    the staged-materialized, semi-join-gated multi-job nightly it
    replaces (tools/baseline_bench.py twin: per-stage keep-list jobs,
    parquet round-trips between stages, identical per-stage predicate
    expressions — so the race isolates the composition's 12× shuffle
    cut and zero disk round-trips, not stage formulations). The
    demoted heavy_hitters_sketch_bench row's slot: that sketch's
    regime is provably unreachable single-node (BASELINE.md "MG-sketch
    vocabulary probe", measured by tools/mg_crossover.py, last held at
    commit 1e57315), while this composition's win is the
    deployment default at any scale."""
    return REGISTRY["prepare_training_corpus"].fn(spark, sf_dir)


def crawl_to_corpus(spark, sf_dir):
    """The crawl flagship (round 11): WARC parse → HTML strip →
    quality gates → exact dedup → packing as ONE lazy plan, raced
    against the staged fetch/extract/clean multi-job pipeline it
    replaces (tools/baseline_bench.py twin: pages table and text
    table round-tripped through parquet between stages, identical
    stage expressions — the race prices the composition, not the
    stages). Equal-RESULT; equality pytest-pinned
    (tests/test_bench_twins.py)."""
    return REGISTRY["crawl_to_corpus"].fn(spark, sf_dir)


def knn_numpy_topk(spark, sf_dir):
    """Throughput-path ANN benchmark: numpy mapInPandas brute-force top-k
    for 100 probes (the oracle-exact JVM variant is correctness-gated
    separately; this is the production fan-out path)."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import cosine_topk_np
    from lfb_data_warehouse_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probe_ids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(100).collect()]
    return cosine_topk_np(emb, "vec_id", "embedding", probe_ids, k=10)


def stream_sliding_bench(spark, sf_dir):
    """Streaming hopping-window dashboard over K staged file arrivals
    (VERDICT r7 item 6 — the first streaming row with a naive twin):
    one Structured Streaming query, K triggers, incremental state. The
    twin recomputes the full batch aggregate after every arrival — the
    no-streaming alternative — reading N·(K+1)/2 rows where the stream
    reads N. Final dashboard equality is pytest-pinned
    (tests/test_bench_twins.py)."""
    from lfb_data_warehouse_spark.plans.streaming_queries import sliding_bench_stream

    return sliding_bench_stream(spark, sf_dir)


def media_decode_bench(spark, sf_dir):
    """Media-decode tier priced with a naive twin (VERDICT r9 item 2 —
    until now the tier's scale story lived only in SCALE.md ×10 rows):
    4:2:0 JPEG synthesize + full entropy decode over 2/5 of documents,
    engine shape = one Arrow ``mapInPandas`` batch pass per stage
    (payload bytes never shuffle or leave the executor). The twin runs
    the IDENTICAL pure-Python decode as a row-at-a-time pickled UDF
    (``BatchEvalPython``) — same codec, so the ratio isolates the
    execution shape (Arrow batch vs per-row pickling), and near-parity
    is the honest reading at this payload size: at sf0.1 on a 4-core box
    (2,000 documents, interleaved best of 3) the engine took 0.93 s and
    the twin 0.94 s. Per document, synthesizing costs about 0.5 ms of
    Python and decoding about 0.45 ms (5.7 and 6.7 ms before the 8×8
    DCT moved to numpy), the stats sums about 5 µs; spread over four
    cores that compute is about half of either side's wall time. The
    100-TB differences (no per-row serialization tax, no driver
    involvement, map-only zero-exchange plan) are the shape this row
    pins. Output equality with the twin is pytest-pinned
    (tests/test_bench_twins.py)."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_jpeg_subsampled_stats,
        synthesize_jpeg_subsampled,
    )
    from lfb_data_warehouse_spark.sources.testdata import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 5 <= 1)  # 2/5 of docs; 5 coprime to the dim mods
    )
    return decode_jpeg_subsampled_stats(synthesize_jpeg_subsampled(docs, "doc_id"))


def audio_decode_bench(spark, sf_dir):
    """Audio-tier execution-shape bench (VERDICT r11 item 5 —
    media_decode_bench predates the FLAC/ADPCM kernels): full FLAC
    bitstream decode (Rice, prediction, CRC-8/16, MD5) and IMA-ADPCM
    nibble-machine decode over the union of the two gates' fixtures,
    engine shape = one Arrow ``mapInPandas`` pass through the generic
    sniff-and-dispatch stats decoder (payload bytes never shuffle).
    The twin runs the IDENTICAL pure-Python codecs as a row-at-a-time
    pickled UDF — same code both sides, so the ratio isolates Arrow
    batch transfer vs per-row pickling on compute-dominated audio
    payloads; parity is the honest expectation, the map-only
    zero-exchange plan is the 100-TB shape. Output equality with the
    twin is pytest-pinned (tests/test_bench_twins.py)."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_audio_linear_stats,
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
    return decode_audio_linear_stats(media)


def _load_naive() -> dict:
    """Import the naive-twin suite from tools/baseline_bench.py by path
    (tools/ is not a package)."""
    import importlib.util

    p = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools", "baseline_bench.py")
    spec = importlib.util.spec_from_file_location("baseline_bench", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.NAIVE


def _box_state() -> dict:
    state = {"cpus": os.cpu_count()}
    try:
        state["loadavg_1m"], state["loadavg_5m"], _ = (
            round(v, 2) for v in os.getloadavg()
        )
    except OSError:
        pass
    try:
        with open("/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor") as f:
            state["governor"] = f.read().strip()
    except OSError:
        state["governor"] = None
    return state


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    naive = _load_naive()

    # Untimed JMH-style warmup: one pass of every headline query at
    # sf0.001 plus a trivial pandas UDF. This warms what is session
    # infrastructure, not query work — Janino/JIT codegen compilation,
    # the Python (Arrow) worker pool, parquet footer caches. Measured
    # first-vs-second execution of the same plan differs up to 4× from
    # compilation alone; the number that predicts 100 TB behavior is the
    # warm one (a real cluster compiles each plan once per job, not once
    # per partition of work).
    names = [n for n, s in REGISTRY.items() if s.headline]
    spark.range(spark.sparkContext.defaultParallelism * 2).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, schema="id long").write.format("noop").mode("overwrite").save()
    for name in names:
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    for name in EXTRA_BENCH:
        globals()[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    runners = {name: REGISTRY[name].fn for name in names}
    runners.update({name: globals()[name] for name in EXTRA_BENCH})
    # carried-basis drift must fail loudly (r7 ADVICE): a renamed or
    # removed suite row silently shrinking the subtotal would make
    # carried_total read round-over-round-comparable when it isn't
    missing_carried = sorted(set(CARRIED_FROM_PREV) - set(runners))
    assert not missing_carried, (
        f"CARRIED_FROM_PREV names absent from the suite: {missing_carried}; "
        "rebuild the tuple to match the current suite"
    )
    for name, fn in naive.items():
        if name in runners:  # warm the naive twins' codegen/readers too
            fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()

    def run_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # interleaved best-of-3: engine and naive alternate WITHIN each
    # query (pair order flips per repetition), so transient box noise
    # lands on both sides equally and the ratio is position-independent;
    # the min is the reproducible cost
    timings: dict[str, float] = {}
    naive_timings: dict[str, float] = {}
    ratios: dict[str, float] = {}
    raw_e: dict[str, float] = {}
    raw_n: dict[str, float] = {}
    # aggregate sums accumulate UNROUNDED (same policy as the per-query
    # ratios): summing 3dp-rounded values would feed quantized error
    # from every sub-10ms query into the headline ratio
    sum_e = sum_n = paired_sum_e = 0.0
    for name, fn in runners.items():
        nfn = naive.get(name)
        best_e, best_n = float("inf"), float("inf")
        for rep in range(3):
            if nfn is None:
                best_e = min(best_e, run_once(fn))
            elif rep % 2 == 0:
                best_e = min(best_e, run_once(fn))
                best_n = min(best_n, run_once(nfn))
            else:
                best_n = min(best_n, run_once(nfn))
                best_e = min(best_e, run_once(fn))
        timings[name] = round(best_e, 3)
        raw_e[name] = best_e
        sum_e += best_e
        if nfn is not None:
            naive_timings[name] = round(best_n, 3)
            raw_n[name] = best_n
            sum_n += best_n
            paired_sum_e += best_e
            if best_n > 0:
                # ratio from the UNROUNDED timings: rounding first would
                # quantize sub-10ms queries' ratios by double-digit %
                ratios[name] = round(best_e / best_n, 3)

    total_e = round(sum_e, 3)
    total_n = round(sum_n, 3)
    ratio = round(paired_sum_e / sum_n, 3) if sum_n else None
    # carried-row subtotal (VERDICT r6 item 6): same queries as last
    # round's suite, so a drift here is real movement, not suite growth
    carried = [n for n in CARRIED_FROM_PREV if n in raw_e]
    carried_e = sum(raw_e[n] for n in carried)
    carried_n = sum(raw_n[n] for n in carried if n in raw_n)
    carried_paired_e = sum(raw_e[n] for n in carried if n in raw_n)
    carried_total = round(carried_e, 3)
    carried_ratio = round(carried_paired_e / carried_n, 3) if carried_n else None
    detail = {
        "metric": "headline query wall-clock (noop-sink materialization)",
        "value": total_e,
        "unit": "sec",
        "queries": timings,
        "sf": sf_from_dir(sf_dir),
        "naive_queries": naive_timings,
        "naive_total": total_n,
        "ratio_vs_naive": ratio,
        "ratios": ratios,
        "carried_queries": carried,
        "carried_total": carried_total,
        "carried_naive_total": round(carried_n, 3),
        "carried_ratio_vs_naive": carried_ratio,
        "protocol": "interleaved engine/naive pairs, best-of-3 each",
        "box": _box_state(),
    }
    # full detail blob goes to a FILE (BENCH_r04.json came back
    # parsed:null — the grown stdout JSON overflowed the driver's
    # 2000-char tail capture and beheaded the leading fields); stdout
    # gets the compact driver-facing headline as the LAST line,
    # guaranteed far under the capture window
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")
    headline = {
        "metric": "headline query wall-clock (noop-sink materialization)",
        "value": total_e,
        "unit": "sec",
        "queries": timings,
        "sf": sf_from_dir(sf_dir),
        "naive_total": total_n,
        "ratio_vs_naive": ratio,
        "carried_total": carried_total,
        "carried_ratio_vs_naive": carried_ratio,
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(headline)
    # if the suite ever grows past the capture window, drop the
    # per-query map from stdout (it lives in BENCH_DETAIL.json) rather
    # than ship a beheaded JSON
    if len(line) >= 1800:
        headline.pop("queries")
        line = json.dumps(headline)
    print(line)


if __name__ == "__main__":
    main()
