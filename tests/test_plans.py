"""Physical-plan regression tests (the 100 TB guardrails).

These assert the *shape* of the plans Catalyst produces for the
registry queries — the properties that decide whether a query survives
a 1000-executor scale-up:

- no row-at-a-time Python (``BatchEvalPython``) anywhere: Python only
  enters through Arrow (``MapInPandas`` / ``ArrowEvalPython``);
- parquet scans prune columns (ReadSchema ⊂ table schema) and push
  predicates down;
- dimension joins broadcast instead of shuffling the fact side;
- the as-of join never degrades to a cartesian/nested-loop product;
- force-broadcast hints exist ONLY on fixed-cardinality dims.

Plans are inspected pre-execution (AQE initial plan) — anything
asserted here holds statically, so it holds at any scale factor.

Failure isolation: plans are built lazily per query (memoized), and the
whole-registry properties are parametrized per query — one broken query
fails exactly its own tests instead of ERRORing the suite (round-1
lesson: a single loader bug zeroed out all seven assertions).
"""

import contextlib
import io

import pytest

from lfb_data_warehouse_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# streaming queries execute eagerly inside fn() (memory sink); their
# batch twins' plans are asserted instead
SKIP = {
    "stream_tumbling_hourly",
    "stream_sessionize",
    "stream_stateful_user_stats",
    "stream_interval_join",
    "stream_static_enrich",
    "stream_upsert_idempotent",
    "stream_dedup_events",
    "stream_dedup_jittered",
    "stream_late_data_drop",
}

ALL_QUERIES = [n for n in REGISTRY if n not in SKIP]


def plan_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


_plan_cache: dict[str, str] = {}


def get_plan(spark, name: str) -> str:
    """Build (once) and return the formatted physical plan for a query.

    Lazy + memoized so a query that fails to *plan* fails only the
    tests that ask for it.
    """
    if name not in _plan_cache:
        _plan_cache[name] = plan_str(REGISTRY[name].fn(spark, SF_DIR))
    return _plan_cache[name]


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_row_at_a_time_python(spark, name):
    """No row-wise Python UDF (``BatchEvalPython``) in the plan. This
    does not see a frame built from pickled Python rows, whose scan runs
    a Python task below a ``Scan ExistingRDD``;
    ``test_engine_builds_driver_rows_only_through_local_frame`` and the
    ``runs_python_task`` lineage tests cover those."""
    assert "BatchEvalPython" not in get_plan(spark, name), (
        f"{name}: row-wise Python UDF in plan"
    )


# queries whose plan deliberately contains a broadcast nested-loop /
# cross join against a PROVABLY SMALL broadcast side: probe sets and
# centroid tables (k·probes rows) fanned out map-only over the corpus,
# and the one documented n² verification kernel
INTENDED_CROSS = {
    "near_dup_recall_audit",  # exact O(n²) kernel BY DESIGN: the LSH recall baseline
    "knn_bruteforce_cosine",  # corpus × broadcast(probes)
    "ivf_centroid_assign",  # corpus × broadcast(centroids)
    "ann_ivf_topk",  # corpus × broadcast(centroids), lists × broadcast(probe-centroids)
    "ivf_recall_audit",  # same two shapes + corpus × broadcast(probes) exact baseline
    "ivf_persisted_search",  # probes × broadcast(centroids) ranking over the persisted index
    "kmeans_fit_centroids",  # corpus × broadcast(k centroids) per Lloyd round
    "ann_ivf_kmeans_recall",  # kmeans rounds + IVF search + exact baseline
    "semantic_dedup_kmeans",  # kmeans rounds; the pair join itself is a cluster equi-join
    "int8_ann_topk_claim",  # corpus × broadcast(probes), twice (exact + int8 paths)
    "ann_pq_adc_topk",  # PQ codes × broadcast(probes) — ADC scoring fan-out
    "ann_ivf_pq_topk",  # corpus × broadcast(centroids) assign + probes × broadcast(centroids) ranking
    "ann_ivf_pq_residual_topk",  # same two shapes; residual LUTs live on the broadcast side
    "ivf_incremental_append",  # old corpus + new batch each × broadcast(frozen centroids)
    "ivfpq_residual_recall_audit",  # raw + residual IVFPQ paths + corpus × broadcast(probes) exact baseline
    "ivfpq_structured_recall_audit",  # same three shapes on the structured fixture
    "tpch_q22_prospects",  # scalar subquery: customer × broadcast(1-row avg aggregate)
    "scd2_point_in_time_join",  # versions × broadcast(1-row max-date aggregate)
    "tpch_q11_important_parts",  # per_part × broadcast(1-row scoped total)
    "tpch_q15_top_supplier",  # revenue × broadcast(1-row max aggregate)
    "gap_fill_daily_revenue",  # day spine × broadcast(segment list) — both tiny
    "bloom_semijoin_revenue",  # fact × broadcast(1-row bloom bitmap) — bytes, not rows
    "rfm_customer_scores",  # per-customer rows × broadcast(1-row max-date aggregate)
    "basket_brand_affinity",  # brand pairs × broadcast(1-row basket-count aggregate)
    "pareto_abc_brands",  # brand revenues × broadcast(1-row grand-total aggregate)
    "dup_cluster_size_histogram",  # corpus total × broadcast(1-row clustered-count aggregate)
    "line_dedup_boilerplate",  # line frequencies × broadcast(1-row corpus-size aggregate)
    "semantic_dedup_keep",  # corpus × broadcast(centroids) — the pair stage is a grouped Arrow pass keyed on the cluster
}


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_cartesian_products(spark, name):
    p = get_plan(spark, name)
    if name in INTENDED_CROSS:
        # the intended ones must broadcast the small side, never shuffle-NLJ
        assert "CartesianProduct" not in p, f"{name} lost its broadcast"
    else:
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, (
            f"{name}: unplanned cartesian join"
        )


@pytest.mark.parametrize(
    "name",
    [
        "png_pixel_decode_stats",
        "jpeg_pixel_decode_stats",
        "jpeg_color_decode_stats",
        "audio_feature_stats",
        "multimodal_decode",
        # round-14 media gates: both ADPCM families, the AVI walk,
        # the two-container frame sampler, perceptual image dedup
        "adpcm_decode_stats",
        "avi_mjpeg_decode_stats",
        "multimodal_frame_sample",
        "image_ahash_dedup",
    ],
)
def test_media_decode_gates_never_shuffle_payload(spark, name):
    """The pixel/container decode gates synthesize → decode in one
    Arrow pipeline. At 100 TB the payload bytes are the dominant volume
    — no Exchange may carry a payload column. (load_table's documented
    small-file fan-out upstream of synthesis is allowed: it moves only
    the 8-byte ids.)"""
    p = get_plan(spark, name)
    assert "MapInPandas" in p, f"{name}: expected Arrow batch operators"
    # every Exchange detail block must list an Input without payload
    import re

    for m in re.finditer(r"\(\d+\) Exchange\n((?:.+\n)+?)\n", p):
        block = m.group(1)
        assert "payload" not in block, (
            f"{name}: an Exchange carries payload bytes:\n{block}"
        )


def test_scan_prunes_columns(spark):
    # the per-month mart touches orders only for 2 columns; the scan
    # must not read the rest of the table
    p = get_plan(spark, "mart_per_month")
    scans = [l for l in p.splitlines() if "ReadSchema" in l]
    assert scans, "no parquet scan found"
    assert any(
        "o_orderdate" in s and "o_totalprice" in s and "o_comment" not in s for s in scans
    ), scans


def test_round5_gates_scan_pruning(spark):
    # the late round-5 analytics gates must prune their scans to the
    # columns they touch — a wide documents/lineitem/orders read is a
    # 100-TB regression even when results stay correct
    p = get_plan(spark, "heavy_hitters_sketch")
    scans = [line for line in p.splitlines() if "ReadSchema" in line]
    assert any(
        "text" in s and "source" in s and "doc_id" not in s and "lang" not in s
        for s in scans
    ), scans
    p = get_plan(spark, "pareto_abc_brands")
    scans = [line for line in p.splitlines() if "ReadSchema" in line]
    assert any(
        "l_extendedprice" in s and "l_discount" in s and "l_quantity" not in s
        for s in scans
    ), scans
    p = get_plan(spark, "rfm_customer_scores")
    scans = [line for line in p.splitlines() if "ReadSchema" in line]
    assert any(
        "o_custkey" in s and "o_totalprice" in s and "o_comment" not in s
        and "o_orderpriority" not in s
        for s in scans
    ), scans


def test_incremental_pushes_filter(spark):
    p = get_plan(spark, "incremental_new_orders")
    assert "PushedFilters" in p
    assert any(
        "PushedFilters" in l and "IsNotNull" in l for l in p.splitlines()
    ), "anti-join key null-filter not pushed to scan"


def test_dimension_joins_broadcast(spark):
    # brand revenue enriches lineitem from the small part table: the
    # build side must broadcast (shuffling 100 TB of lineitem on
    # partkey would be the scale failure mode)
    assert "BroadcastHashJoin" in get_plan(spark, "join_enrich_brand_revenue")


def test_asof_join_stays_bucketed(spark):
    # the nearest-within join must remain an equi-join on the time
    # bucket (plus window top-1) — never a range cross-join
    p = get_plan(spark, "asof_nearest_purchase")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_marts_aggregate_partially_and_scan_vectorized(spark):
    # (AQE initial plans carry no WholeStageCodegen annotation — the
    # enforceable static properties are map-side combine and the
    # vectorized parquet reader)
    for name in ("mart_per_month", "mart_per_segment", "mart_types_per_segment"):
        p = get_plan(spark, name)
        assert "partial_" in p, f"{name}: no map-side partial aggregation"
        assert "Batched: true" in p, f"{name}: parquet scan not vectorized"


def test_flagship_broadcasts_only_fixed_dims(spark):
    """Only fixed-cardinality dims may carry a FORCED broadcast hint.

    nation is 25 rows at every SF; part/orders/customer grow linearly
    with SF, so a forced broadcast on them OOMs at warehouse scale
    (round-1 verdict: scale-killer). AQE may still choose broadcast at
    small SF from size statistics — that's fine; the hint is what must
    not exist. Asserted on the analyzed logical plan, where hints are
    still visible as ResolvedHint nodes."""
    df = REGISTRY["flagship_star_fact"].fn(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = [l for l in analyzed.splitlines() if "ResolvedHint" in l]
    assert len(hints) == 1, f"expected exactly 1 forced broadcast (nation): {hints}"


def test_cdc_snapshot_anti_join_broadcasts(spark):
    """The CDC merge must touch the snapshot with a broadcast anti-join
    (the batch's winning keys), never shuffle the snapshot itself."""
    p = get_plan(spark, "cdc_merge_orders")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p[:500]


def test_bloom_prune_scans_only_needed_columns(spark):
    """The bloom-pruned fact scan reads exactly the join key + measure;
    the bitmap side reaches the fact as a 1-row broadcast."""
    p = get_plan(spark, "bloom_semijoin_revenue")
    scans = [l for l in p.splitlines() if "ReadSchema" in l and "l_orderkey" in l]
    assert scans, "no lineitem scan found"
    assert all(
        "l_extendedprice" in s and "l_quantity" not in s and "l_shipdate" not in s
        for s in scans
    ), scans


def test_asof_backward_stays_bucketed(spark):
    p = get_plan(spark, "asof_backward_last_click")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_dpp_fact_scan_has_dynamic_partition_filter(spark):
    """The partitioned fact's scan must carry a dynamicpruning
    PartitionFilter — the runtime mechanism that lets a dim-side filter
    skip fact partitions a static optimizer can't see. Asserted on the
    executed plan (DPP subqueries are injected after logical
    optimization)."""
    df = REGISTRY["dpp_partitioned_fact_join"].fn(spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in p.lower(), p[:800]


def test_semantic_dedup_pairs_only_within_clusters(spark):
    """The semantic-dedup pair stage must run ONLY within a cluster
    (corpus²/nlist), never all-pairs. Since r14 the stage is a grouped
    Arrow pass (`FlatMapGroupsInPandas`) keyed on the cluster
    assignment — pinned two ways: no CartesianProduct anywhere (the
    centroid fan-outs must stay broadcast BNLJs), and the grouped-map
    node exists with `assigned_label` as its grouping key (if the pair
    stage degraded to an ungrouped/all-pairs form, the node or its key
    would vanish)."""
    import re

    p = get_plan(spark, "semantic_dedup_keep")
    assert "CartesianProduct" not in p
    assert "FlatMapGroupsInPandas" in p, "pair stage lost its grouped Arrow pass"
    assert re.search(
        r"Arguments: \[assigned_label#\d+\], drops\(", p
    ), "grouped pass not keyed on the cluster assignment"


def test_hash_split_and_shard_are_map_side(spark):
    # split/shard assignment must be a pure projection over the scan —
    # an Exchange before the audit aggregate would mean the label
    # derivation itself shuffles (it must survive ANY partitioning)
    # stratified split: exactly the one audit-aggregate exchange.
    # shard audit: two — its count_distinct(source) plans as a two-phase
    # distinct aggregate (partial on (shard, source), final on shard).
    for name, n_expected in (
        ("stratified_split_documents", 1),
        ("shard_assignment_documents", 2),
    ):
        p = get_plan(spark, name)
        n_exchanges = p.count("Arguments: hashpartitioning")
        assert n_exchanges == n_expected, (
            f"{name}: expected {n_expected} agg exchange(s), plan has {n_exchanges}"
        )
        assert "partial_" in p, f"{name}: audit aggregate lost map-side combine"


def test_zorder_key_single_aggregate_exchange(spark):
    # the Morton key is integer bit arithmetic in the projection; the
    # only shuffle is the bucket aggregate
    p = get_plan(spark, "zorder_clustering_locality")
    assert p.count("Arguments: hashpartitioning") == 1
    assert "partial_" in p
    assert "BatchEvalPython" not in p  # bit-spread stayed JVM-side


def test_grouping_sets_single_expand_pass(spark):
    # three grains must come from ONE Expand over one aggregate, not a
    # union of three groupBys (3 scans + 3 shuffles)
    p = get_plan(spark, "grouping_sets_mart")
    assert "Expand" in p, "grouping sets not planned as Expand"
    assert p.count("Arguments: hashpartitioning") == 1, "more than the one grouped-agg shuffle"
    assert "BroadcastHashJoin" in p, "customer dim join must broadcast"


def test_cross_source_dup_join_is_equi_on_hash(spark):
    # the pair join must be an equi-join on the content hash (never a
    # cartesian over documents)
    p = get_plan(spark, "cross_source_dup_matrix")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_quality_batteries_are_map_only(spark):
    # the Gopher/entropy quality filters must run entirely inside the
    # scan stage: zero Exchange nodes in the whole plan — at 100 TB
    # these gates filter the corpus during the read, never after a
    # shuffle (the documents loader's small-file repartition is absent
    # at sf0.001 where input arrives pre-partitioned)
    for name in ("gopher_quality_gates", "gopher_repetition_gates", "text_char_entropy"):
        p = get_plan(spark, name)
        # the loader's small-file RoundRobin fan-out is the ONLY exchange
        # allowed (absent at warehouse scale, sources/testdata.py); any
        # hash/range partitioning means the gate itself shuffles
        assert "hashpartitioning" not in p and "rangepartitioning" not in p, (
            f"{name}: quality gate shuffles — should be map-only"
        )
        assert "SortMergeJoin" not in p and "HashAggregate" not in p, (
            f"{name}: quality gate aggregates/joins — should be a pure projection"
        )


def test_pq_candidates_carry_codes_not_vectors(spark):
    # the PQ search's candidate side must broadcast the PROBES (tiny)
    # and stream the encoded corpus map-side: exactly one top-k window
    # exchange keyed by probe, plus the encode stage's input
    p = get_plan(spark, "ann_pq_adc_topk")
    assert "BroadcastExchange" in p  # probes broadcast
    assert "Window" in p  # per-probe top-k
    assert "SortMergeJoin" not in p  # never a shuffled join of corpus rows


def test_mg_sketch_plan_shape(spark):
    # the MG path must summarize through Arrow (MapInPandas), broadcast
    # the candidate set into the recount (equi-join, no shuffled join
    # of occurrence rows), and keep exactly one top-k window
    p = get_plan(spark, "heavy_hitters_sketch")
    assert "MapInPandas" in p  # per-partition summaries are the sketch
    assert "BroadcastHashJoin" in p  # candidates broadcast into recount
    assert "SortMergeJoin" not in p  # occurrences never shuffle-join
    assert "Window" in p  # exact top-k tail


def test_ivfpq_residual_candidates_carry_codes(spark):
    # residual IVFPQ: everything per-(probe, list) — the probe-centroid
    # dot, residual LUTs, and centroid-codeword cross table — must ride
    # the broadcast side; inverted-list rows carry only codes
    p = get_plan(spark, "ann_ivf_pq_residual_topk")
    assert "BroadcastExchange" in p  # (probe, list) LUT frame broadcast
    assert "Window" in p  # per-probe top-k
    assert "SortMergeJoin" not in p  # corpus rows never shuffle-join


def test_salted_collect_two_bounded_exchanges(spark):
    # the holistic salted collect must be exactly two exchanges — one
    # on (key, salt) carrying partial_collect_set buffers, one on key
    # carrying the <= buckets pre-shrunk arrays — with map-side partial
    # collection on BOTH sides and a 2-column pruned scan
    p = get_plan(spark, "salted_collect_users")
    assert p.count("Arguments: hashpartitioning") == 2
    assert "partial_collect_set" in p and "partial_collect_list" in p
    assert "BatchEvalPython" not in p
    assert "struct<user_id:bigint,event_type:string>" in p, "scan not pruned to 2 columns"


def test_q18_gate_rides_long_sums(spark):
    # the HAVING-subquery quantity gate must aggregate LONGs (the
    # scaled-long fast path, round 12), never a decimal sum buffer
    p = get_plan(spark, "tpch_q18_large_volume")
    # the gate aggregate: sum(FLOOR(l_quantity*100 + 0.5)) — LONG sums
    assert "sum(FLOOR(" in p, "quantity gate lost the scaled-long form"
    assert "sum(l_quantity" not in p, "a raw decimal/double sum crept back in"
    assert "partial_sum" in p
    assert "BatchEvalPython" not in p
    # r14: the per-orderkey total is CARRIED through the join (orderkey
    # is unique in orders, so the outer 5-key group is exactly one
    # qualifying order) — lineitem must be scanned exactly ONCE and the
    # join-again-then-reaggregate shape (a second lineitem scan plus a
    # second aggregate exchange) must not come back
    assert p.count("lineitem.parquet") == 1, "lineitem re-scan crept back in"
    n_aggs = len([ln for ln in p.splitlines() if ln.strip().startswith("Keys [")])
    assert n_aggs <= 2, f"expected one partial+final gate aggregate, got {n_aggs} Keys blocks"


def test_training_order_exchange_carries_hash_only(spark):
    """The epoch-shuffle's one data exchange (the range partitioning on
    the order key) may carry only (doc_id, 64-char hash) — never text
    or payloads; the dense-rank window must be keyed (no
    whole-dataset window partition), and the offsets join broadcast."""
    import re

    p = get_plan(spark, "training_order_shuffle")
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p, "offsets must broadcast"
    for m in re.finditer(r"\(\d+\) Exchange\n((?:.+\n)+?)\n", p):
        block = m.group(1)
        if "rangepartitioning" in block:
            assert "text" not in block and "payload" not in block
    # the window is partitioned by __pid (never 'Window operation!'
    # single-partition): formatted plans show the partition spec
    assert re.search(r"Window.*__pid", p, re.S), "dense-rank window lost its partition key"


@pytest.mark.parametrize("kernel", ["all_pairs_jaccard", "incremental_jaccard_pairs"])
def test_hot_shingle_salt_keeps_user_repartition(spark, kernel):
    """Above the hot-shingle cap both sides of the salted join must be
    user repartitions keyed on the salt (REPARTITION_BY_NUM): AQE leaves
    those alone, where it would coalesce an ordinary join exchange's
    tiny salt buckets back into one task (``dedup._hot_keys``). Under
    the cap the plan carries no salt at all."""
    import re

    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators import dedup

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta w"), F.col("id").cast("string")).alias("body"),
    )

    def executed(cap):
        if kernel == "all_pairs_jaccard":
            df = dedup.all_pairs_jaccard(docs, "doc_id", "body", 2, 0.1, hot_cap=cap)
        else:
            old, new = docs.filter("doc_id < 40"), docs.filter("doc_id >= 40")
            df = dedup.incremental_jaccard_pairs(old, new, "doc_id", "body", 2, 0.1, hot_cap=cap)
        df.collect()
        # the adaptive plan prints its final plan, then the initial one
        return df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]

    salted = re.findall(r"Exchange hashpartitioning\(([^)]*)\), REPARTITION_BY_NUM", executed(5))
    assert len(salted) == 2 and all("__salt" in keys for keys in salted), salted
    plain = executed(0)
    assert "REPARTITION_BY_NUM" not in plain and "__salt" not in plain
