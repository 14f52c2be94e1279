"""Similarity search over embedding columns (array<float>).

Two execution paths:

- **Exact/JVM path** (:func:`cosine_topk`, :func:`cosine_pairs`,
  :func:`ivf_assign`): embeddings are quantized to integer vectors
  (``round(x * 10000)``) so dot products are exact int64 arithmetic —
  bit-identical on any engine and order-independent. Stays in
  whole-stage codegen (zip_with/aggregate are codegen'd higher-order
  functions). This is the correctness/oracle path.

- **Vectorized numpy path** (:func:`cosine_topk_np`): mapInPandas with
  a broadcast probe matrix; each Arrow batch becomes one BLAS matmul.
  ~100× the JVM path for wide fan-outs; float results (not
  oracle-exact). This is the throughput path for 100 TB: per-partition
  matmuls, no shuffle, probes broadcast once per executor.

Quantization note: scale 1e4 on float32 inputs is exact in double
(24-bit × 14-bit mantissas < 53 bits) and can never land on a .5
rounding boundary (denominator 5^4 is not a binary fraction), so both
engines round identically.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.io import local_frame

QUANT_SCALE = 10000


def quantize(df: DataFrame, id_col: str, vec_col: str, keep: tuple = ()) -> DataFrame:
    """(id, *keep, q: array<bigint>, norm: bigint) — integer vector +
    self-dot. ``keep`` carries extra columns (e.g. a label) through the
    map-only pass so downstream consumers never join back to the source
    just to recover them."""
    q = F.transform(F.col(vec_col), lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))
    out = df.select(F.col(id_col), *[F.col(c) for c in keep], q.alias("q"))
    norm = F.aggregate(
        F.zip_with(F.col("q"), F.col("q"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return out.withColumn("norm", norm)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _cosine(dot, norm_a, norm_b):
    """Cosine from a dot product and two SQUARED norms. Zero-norm
    vectors score 0.0, not NaN: 0/0 would float-divide to NaN, and
    Spark orders NaN LARGEST while SQL ``ORDER BY score DESC`` oracles
    and min_by/max_by tiebreaks disagree on it — a degenerate
    (all-zero) vector or quantized centroid must rank below every real
    match on both engine and oracle sides, never first."""
    return F.when(
        (norm_a > 0) & (norm_b > 0),
        dot.cast("double") / (F.sqrt(norm_a.cast("double")) * F.sqrt(norm_b.cast("double"))),
    ).otherwise(F.lit(0.0))


def _bruteforce_topk(
    q: DataFrame, id_col: str, vec_field: str, norm_field: str, probe_ids, k: int, score_name: str
) -> DataFrame:
    """Shared brute-force top-k plan over any quantized representation:
    probes broadcast (small side), candidates stream through a map-only
    scoring stage, one per-probe top-k window over k·|probes| rows —
    the single place the tiebreak/self-filter/rank semantics live."""
    probes = q.filter(F.col(id_col).isin(list(probe_ids))).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_field).alias("pq"),
        F.col(norm_field).alias("pnorm"),
    )
    cand = q.select(F.col(id_col).alias("neighbor_id"), vec_field, norm_field)
    scored = (
        cand.crossJoin(F.broadcast(probes))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            _cosine(_dot(F.col(vec_field), F.col("pq")), F.col(norm_field), F.col("pnorm")).alias(
                score_name
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col(score_name).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", score_name)
    )


def cosine_topk(
    emb: DataFrame, id_col: str, vec_col: str, probe_ids, k: int
) -> DataFrame:
    """Exact brute-force top-k neighbors for each probe id (integer
    kernel — oracle-exact)."""
    q = quantize(emb, id_col, vec_col)
    return _bruteforce_topk(q, id_col, "q", "norm", probe_ids, k, "score")


STRUCT_NLIST = 16  # clusters (= IVF lists) in the structured fixture


def structured_embeddings(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Deterministic CLUSTERED embedding fixture — the corpus PQ's
    regime actually needs (VERDICT r7 item 5).

    The raw synthetic embeddings are structureless, so PQ recall is
    capped (~0.13) by code distortion regardless of nprobe — an honest
    but uninformative operating point. This fixture has PRODUCT
    structure, the separability product quantization exploits: in each
    of the PQ_M subspaces, vector ``i``'s subvector is one of 16
    patterns, chosen by ``h(i, m) = (i·(2m+1) + (i//16)·(m+3)) mod 16``
    (pattern value at local dim j: ``((h+3)·(11j+7)) mod 103 − 51``,
    ×40, plus ±2 integer noise). For ``i < 16`` the map ``i → h`` is a
    bijection per subspace, so the engine's smallest-id PQ codebook
    (operators/similarity.py:pq_codebook) contains EVERY pattern and
    reconstruction error collapses to the noise floor; true neighbors
    differ by how many subspace patterns they share, which the code
    space expresses exactly. All arithmetic is integer → both engines
    agree bit-for-bit, and quantize() recovers the integers exactly.

    Map-only, derived from the corpus ids: scales with the table, no
    stored fixture, no randomness."""
    i = F.col(id_col).cast("long")

    def val(d):
        m = F.floor(d / 16).cast("long")
        j = d % 16
        h = (i * (2 * m + 1) + F.floor(i / 16).cast("long") * (m + 3)) % 16
        pat = ((h + 3) * (j * 11 + 7)) % 103 - 51
        noise = (i * 13 + d * 7 + i * d) % 5 - 2
        return (pat * 40 + noise).cast("double") / 10000.0

    emb = F.transform(F.sequence(F.lit(0).cast("long"), F.lit(63).cast("long")), val)
    return df.select(
        i.alias("vec_id"),
        (i % STRUCT_NLIST).cast("int").alias("label"),
        emb.alias("embedding"),
    )


def int8_quantize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: q = round(x · 127/max|x|).

    Cosine is scale-invariant, so the per-vector scale cancels and int8
    cosine approximates float cosine with ~1e-3 error at dim 64. This
    is the memory-bandwidth scale path: 4× smaller vectors than float32
    (16× vs the int64 exact kernel), and integer dot products. Kept
    Spark-side only (the oracle grades its *result quality* against the
    exact kernel, not its bits)."""
    mx = F.greatest(
        F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    q8 = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * F.lit(127.0) / mx).cast("long")
    )
    out = df.select(F.col(id_col), q8.alias("q8"))
    norm8 = F.aggregate(
        F.zip_with(F.col("q8"), F.col("q8"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return out.withColumn("norm8", norm8)


def int8_topk(emb: DataFrame, id_col: str, vec_col: str, probe_ids, k: int) -> DataFrame:
    """Brute-force top-k in int8 space — the shared
    :func:`_bruteforce_topk` plan on quarter-width vectors."""
    q = int8_quantize(emb, id_col, vec_col)
    return _bruteforce_topk(q, id_col, "q8", "norm8", probe_ids, k, "score8")


PQ_M = 4  # subspaces
PQ_K = 16  # codewords per subspace


def pq_codebook(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = PQ_M,
    cb_k: int = PQ_K,
) -> list[list[list[int]]]:
    """Deterministic product-quantization codebook: ``cw[s][c]`` is the
    ``s``-th subvector of the vector with the ``c``-th smallest id, in
    the exact integer space of :func:`quantize`.

    Taking the ``cb_k`` smallest-id vectors as codewords (instead of
    running k-means per subspace) keeps the whole PQ pipeline
    bit-replayable by a SQL oracle while exercising the REAL scale
    mechanics — encode, asymmetric-distance lookup, reconstruction
    norms. Swapping in :func:`kmeans_centroids`-trained sub-codebooks
    changes only this function. Bounded driver collect: cb_k rows."""
    q = quantize(emb, id_col, vec_col)
    rows = q.orderBy(F.col(id_col).asc()).limit(cb_k).collect()
    if len(rows) < cb_k:
        raise ValueError(f"pq_codebook: only {len(rows)} vectors for cb_k={cb_k}")
    dim = len(rows[0]["q"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[int(v) for v in r["q"][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def _long_array_lit(values) -> Column:
    """array<bigint> literal built from ONE parsed SQL expression —
    per-element ``F.lit`` unrolling (what classic PySpark's lit(list)
    also does internally) costs a py4j round-trip per element and
    dominated PLAN-BUILD time for codebook-literal-heavy queries."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


def _nested_long_array_lit(rows) -> Column:
    """array<array<bigint>> literal, one parsed expression."""
    inner = ",".join(
        "array(" + ",".join(f"{int(v)}L" for v in w) + ")" for w in rows
    )
    return F.expr(f"array({inner})")


def _pq_codes_expr(qcol, cw: list):
    """PQ codes for one quantized vector column as a flat Catalyst
    expression: per subspace the L2^2 distances to every codeword form
    a literal array; ``array_position(d, array_min(d)) - 1`` is the
    argmin with first-occurrence (smallest code) tiebreak. Shared by
    :func:`pq_encode` (corpus frames) and :func:`ivf_pq_build` (which
    encodes the assignment frame's payload in place — no extra join)."""
    m, sub = len(cw), len(cw[0][0])

    def l2_with(sv):
        # single-parameter closure (a 2-arg lambda would be called by
        # F.transform as (element, index))
        return lambda w: F.aggregate(
            F.zip_with(sv, w, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    codes = []
    for s in range(m):
        svec = F.slice(qcol, s * sub + 1, sub)
        dists = F.transform(_nested_long_array_lit(cw[s]), l2_with(svec))
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def _pq_lut_exprs(pqcol, cw: list) -> list:
    """Per-subspace ADC lookup tables for one quantized probe column:
    ``lut[s][c]`` = probe-subvector . codeword dot product. Shared by
    :func:`pq_probe_luts` and :func:`ivf_pq_search`.

    Built as ONE nested-array literal + a transform per subspace
    (~6 driver-side expression constructions instead of 3·cb_k):
    per-codeword `F.lit`/`F.array` unrolling cost ~2s of py4j plan
    BUILD time per call — it dominated the persisted-search bench
    while the actual execution was 0.5s. The probe side is a tiny
    broadcast frame, so the interpreted-HOF evaluation of the
    transform is irrelevant at any scale (the corpus-side encode keeps
    its unrolled codegen form in :func:`_pq_codes_expr`)."""
    m, sub = len(cw), len(cw[0][0])

    def dot_with(sv):
        # single-parameter closure: a 2-arg lambda would be called by
        # F.transform as (element, index) and bind the index as sv
        return lambda w: F.aggregate(
            F.zip_with(sv, w, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    luts = []
    for s in range(m):
        svec = F.slice(pqcol, s * sub + 1, sub)
        luts.append(F.transform(_nested_long_array_lit(cw[s]), dot_with(svec)))
    return luts


def pq_encode(emb: DataFrame, id_col: str, vec_col: str, cw: list) -> DataFrame:
    """Map-only PQ encode: each vector becomes ``m`` small codes — the
    64×-compressed representation the candidate side of an ANN search
    carries at 100 TB (codes + nothing else cross operators; raw
    vectors stay in the scan).

    Per subspace the L2² distances to all codewords form a literal
    array; ``array_position(d, array_min(d)) - 1`` is the argmin with
    first-occurrence (smallest code) tiebreak — one flat expression,
    no exponential when-chain, all exact int64 arithmetic inside
    whole-stage codegen."""
    q = quantize(emb, id_col, vec_col)
    return q.withColumn("codes", _pq_codes_expr(F.col("q"), cw))


def pq_probe_luts(q: DataFrame, cw: list, id_col: str = "vec_id") -> DataFrame:
    """Per-probe ADC lookup tables: for each subspace, the array of the
    probe-subvector · codeword dot products — computed ONCE per probe
    (the probe side is tiny and broadcast), so candidate scoring is m
    array lookups per row instead of a dim-wide dot product. This is
    the asymmetric-distance trick that makes PQ search
    arithmetic-bound by m, not dim.

    ``q`` is a :func:`quantize` result (id, q, norm); ``id_col`` names
    its id column explicitly, like every sibling operator here."""
    out = q.select(
        F.col(id_col).alias("probe_id"),
        F.col("q").alias("pq"),
        F.col("norm").alias("pnorm"),
    )
    for s, lut in enumerate(_pq_lut_exprs(F.col("pq"), cw)):
        out = out.withColumn(f"lut{s}", lut)
    return out


def pq_adc_score(cand: DataFrame, probes: DataFrame, cw: list) -> DataFrame:
    """Score (neighbor_id, codes) candidates against LUT-carrying probes:
    per candidate, m LUT lookups + m reconstruction-norm lookups — the
    candidate row never touches a raw vector."""
    m = len(cw)
    cwn_lits = [
        _long_array_lit([sum(int(v) * int(v) for v in w) for w in cw[s]])
        for s in range(m)
    ]
    code = lambda s: F.element_at(F.col("codes"), s + 1)  # noqa: E731
    adc = None
    recon = None
    for s in range(m):
        dot_s = F.element_at(F.col(f"lut{s}"), code(s) + 1)
        rn_s = F.element_at(cwn_lits[s], code(s) + 1)
        adc = dot_s if adc is None else adc + dot_s
        recon = rn_s if recon is None else recon + rn_s
    return (
        cand.crossJoin(F.broadcast(probes))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "neighbor_id",
            _cosine(adc, F.col("pnorm"), recon).alias("score"),
        )
    )


def pq_adc_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    probe_ids,
    k: int,
    m: int = PQ_M,
    cb_k: int = PQ_K,
) -> DataFrame:
    """Asymmetric-distance product-quantization top-k (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search"): probes stay
    full-precision, candidates are their PQ codes, the score is the
    probe·reconstruction cosine computed through codeword lookups.

    Scale shape: the codebook is a bounded collect folded into literal
    arrays (broadcast with the plan); encode and scoring are map-only;
    the only shuffle is the per-probe top-k window — same exchange
    budget as the exact kernel but the candidate payload is m codes
    instead of the vector. Integer dots/norms keep it oracle-exact."""
    cw = pq_codebook(emb, id_col, vec_col, m=m, cb_k=cb_k)
    enc = pq_encode(emb, id_col, vec_col, cw)
    probes = pq_probe_luts(
        quantize(emb.filter(F.col(id_col).isin(list(probe_ids))), id_col, vec_col),
        cw,
        id_col=id_col,
    )
    scored = pq_adc_score(enc.select(F.col(id_col).alias("neighbor_id"), "codes"), probes, cw)
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "score")
    )


def cosine_pairs(emb: DataFrame, id_col: str, vec_col: str, threshold: float) -> DataFrame:
    """All-pairs cosine ≥ threshold (embedding near-dup detection).
    O(n²) — for corpus scale, pre-bucket with LSH/IVF and feed candidate
    sets instead; kept exact here as the verification kernel."""
    q = quantize(emb, id_col, vec_col)
    a = q.select(F.col(id_col).alias("id_a"), F.col("q").alias("qa"), F.col("norm").alias("na"))
    b = q.select(F.col(id_col).alias("id_b"), F.col("q").alias("qb"), F.col("norm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def label_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int | None = None,
    quantized: DataFrame | None = None,
) -> DataFrame:
    """Per-label centroid in quantized space: exact integer per-dimension
    sums → mean → re-quantized integer centroid (deterministic).

    ONE hash aggregate with ``dim`` element_at sums — no posexplode (a
    dim× row blow-up), no second shuffle, no collect_list/array_sort.
    Map-side partial aggregation means each executor contributes one
    partial row per label regardless of corpus size. The mean divides by
    the label's non-NULL vectors; a label whose vectors are all NULL
    gets NULL components (and ``cnorm``), not a division by zero."""
    if dim is None:
        # NB: inferring dim runs a small eager job at plan-build time —
        # pass dim explicitly in lazy/library contexts
        row = emb.select(F.size(vec_col).alias("d")).first()
        if row is None or row["d"] is None or row["d"] < 0:
            raise ValueError(
                f"cannot infer vector dim (empty DataFrame or NULL first "
                f"vector); pass dim= (id_col={id_col!r}, vec_col={vec_col!r})"
            )
        dim = row["d"]
    q = quantized if quantized is not None else quantize(emb, id_col, vec_col)
    if label_col in q.columns:  # label carried through quantize(keep=...)
        ql = q
    else:
        ql = q.join(emb.select(F.col(id_col), F.col(label_col)), id_col)
    # One SQL string for the whole dim-wide aggregate: building 2·dim
    # Column objects through the Python API costs a py4j round-trip per
    # expression (~1.3 s of pure driver time at dim=64, dwarfing the
    # executor work on any corpus); a single parsed expr is one call.
    cq_sql = "array({}) AS cq".format(
        ",".join(
            f"CAST(round(CAST(SUM(element_at(q, {i + 1})) AS DOUBLE)"
            f" / NULLIF(COUNT(q), 0)) AS BIGINT)"
            for i in range(dim)
        )
    )
    out = (
        ql.groupBy(label_col)
        .agg(F.expr(cq_sql))
        .select(F.col(label_col).alias("centroid_label"), "cq")
    )
    return out.withColumn(
        "cnorm",
        F.expr(
            "aggregate(zip_with(cq, cq, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ),
    )


def ivf_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    cents: DataFrame | None = None,
    quantized: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF building block: assign each vector to its nearest label
    centroid by cosine. Centroids are broadcast (num_partitions rows);
    assignment is a map-only score fan-out + a max_by aggregate (partial
    on the map side — no window sort, no per-id row_number shuffle).
    Callers that already quantized the corpus / built the centroids
    (ivf_topk) pass them in instead of paying the aggregation twice."""
    if quantized is None:
        quantized = quantize(emb, id_col, vec_col, keep=(label_col,))
    if label_col in quantized.columns:
        q = quantized
    else:
        q = quantized.join(emb.select(F.col(id_col), F.col(label_col)), id_col)
    if cents is None:
        cents = label_centroids(emb, id_col, vec_col, label_col, dim=dim, quantized=q)
    # r15: map-only Arrow argmax (no fan-out, no per-(id,label) max_by
    # exchange); deterministic tiebreak unchanged — highest score, then
    # smallest centroid label — and the emitted centroid_score double is
    # the identical IEEE cosine (see _arrow_nearest_centroid).
    return _arrow_nearest_centroid(
        q, cents, id_col, out_id=id_col, keep_cols=(label_col,), score=True
    )


def ivf_build(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index: ``(inverted_list, centroids)``.

    The inverted list is (neighbor_id, assigned_label, nq, nn) — each
    corpus vector assigned to its nearest centroid WITH its quantized
    payload, so search never joins back to the corpus. Built with one
    broadcast fan-out + one max_by aggregate. In production this pair is
    materialized ONCE (parquet, partitioned by assigned_label) and
    amortized over every search batch — the build scans the corpus
    ``nlist`` times in dot products, so single-shot build+search can
    never beat brute force; persistent index + ``ivf_search`` is the
    scale path (crossover table in BASELINE.md round 2)."""
    q = quantize(emb, id_col, vec_col, keep=(label_col,))
    cents = label_centroids(emb, id_col, vec_col, label_col, dim=dim, quantized=q)
    return ivf_index_from_cents(q, cents, id_col), cents


def _arrow_nearest_centroid(
    q: DataFrame,
    cents: DataFrame,
    id_col: str,
    out_id: str,
    keep_cols: tuple = (),
    payload: bool = False,
    score: bool = False,
) -> DataFrame:
    """Shared map-only Arrow nearest-centroid kernel (r15): the k-way
    broadcast crossJoin HOF fan-out + per-id max_by aggregate both
    :func:`ivf_index_from_cents` and :func:`ivf_assign` used is an
    argmax per row — no aggregation is needed at all, so the full-corpus
    ``groupBy(id)`` exchange (n rows WITH quantized payload) disappears
    from every index build and assignment. The centroid set is collected
    (bounded: nlist/k rows — the same driver-side footprint the
    broadcast paid) and the per-batch scoring is one float64 BLAS
    matmul, bit-identical to the JVM ``_cosine`` by the guarded < 2^53
    integer argument (see :func:`_exactness_guard`); exact score ties
    pick the smallest centroid label via first-max argmax over
    label-sorted columns, the min_by struct order it replaces.

    ``keep_cols`` pass through untouched; ``payload`` re-emits (q, norm)
    as (nq, nn); ``score`` emits the winning cosine (``centroid_score``,
    the identical IEEE ops → identical double). Empty centroid sets
    yield the empty frame the crossJoin produced. A NULL label trains no
    centroid (nor does a label whose vectors are all NULL); its rows are
    still assigned by their vectors. A NULL vector has no nearest
    centroid: its row passes through with a NULL ``assigned_label`` (and
    score), which no pair stage groups."""
    import numpy as np

    rows = [
        r for r in cents.collect()  # bounded: nlist/k rows
        if r["centroid_label"] is not None and r["cnorm"] is not None
    ]
    id_t = q.schema[id_col].dataType.simpleString()
    keep_ts = [(c, q.schema[c].dataType.simpleString()) for c in keep_cols]
    label_t = cents.schema["centroid_label"].dataType.simpleString()
    fields = [f"{out_id} {id_t}"]
    fields += [f"{c} {t}" for c, t in keep_ts]
    fields.append(f"assigned_label {label_t}")
    if payload:
        fields += ["nq array<bigint>", "nn bigint"]
    if score:
        fields.append("centroid_score double")
    schema = ", ".join(fields)
    in_cols = [F.col(id_col)] + [F.col(c) for c in keep_cols] + [F.col("q"), F.col("norm")]
    if not rows:
        empty = [F.col(id_col).alias(out_id)]
        empty += [F.col(c) for c in keep_cols]
        empty.append(F.lit(None).cast(label_t).alias("assigned_label"))
        if payload:
            empty += [F.col("q").alias("nq"), F.col("norm").alias("nn")]
        if score:
            empty.append(F.lit(None).cast("double").alias("centroid_score"))
        return q.filter(F.lit(False)).select(*empty)
    labels, C, cn = _np_centroid_arrays(rows)
    dim = C.shape[1]
    rt_c = np.sqrt(cn)
    cpos = cn > 0.0
    max_c = float(np.abs(C).max())
    labels_arr = np.array(labels)

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            valid = pdf["q"].notna().to_numpy()
            if not valid.any():
                if len(pdf):
                    yield pd.DataFrame(unassigned(pdf))
                continue
            Qf = np.vstack(pdf["q"].to_numpy()[valid]).astype(np.float64)
            _exactness_guard(dim, float(np.abs(Qf).max()), max_c)
            nm = pdf["norm"].to_numpy()[valid].astype(np.float64)
            dot = Qf @ C.T  # exact: integer-valued float64 < 2^53
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (np.sqrt(nm)[:, None] * rt_c[None, :])
            cos = np.where((nm[:, None] > 0.0) & cpos[None, :], cos, 0.0)
            best = np.argmax(cos, axis=1)  # first max = smallest label
            out = unassigned(pdf)
            out["assigned_label"] = scatter(valid, labels_arr.take(best))
            if score:
                out["centroid_score"] = scatter(valid, cos[np.arange(len(best)), best])
            yield pd.DataFrame(out)

    def unassigned(pdf: pd.DataFrame) -> dict:
        out = {out_id: pdf[id_col]}
        for c, _ in keep_ts:
            out[c] = pdf[c]
        out["assigned_label"] = np.full(len(pdf), None, dtype=object)
        if payload:
            out["nq"] = pdf["q"]
            out["nn"] = pdf["norm"]
        if score:
            out["centroid_score"] = np.full(len(pdf), np.nan)
        return out

    def scatter(valid: np.ndarray, values: np.ndarray) -> np.ndarray:
        """``values`` of the valid rows, NULL on the others."""
        if valid.all():
            return values
        full = np.full(len(valid), None, dtype=object)
        full[valid] = values
        return full

    return q.select(*in_cols).mapInPandas(assign, schema=schema)


def ivf_index_from_cents(q: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Inverted list for ANY centroid set — label-derived
    (:func:`label_centroids`) or learned (:func:`kmeans_centroids`):
    assign each quantized vector to its nearest centroid WITH its
    quantized payload. Since r15 this is the map-only Arrow argmax
    kernel (:func:`_arrow_nearest_centroid`) — ZERO exchanges: the old
    broadcast-fan-out + per-id max-by shape shuffled the whole corpus
    (with payload) once per build. The payload rides along so search
    never joins back to the corpus."""
    return _arrow_nearest_centroid(
        q, cents, id_col, out_id="neighbor_id", payload=True
    )


def ivf_index_append(
    inv: DataFrame,
    cents: DataFrame,
    new_emb: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Fold a NEW vector batch into an existing IVF index WITHOUT
    rebuilding: quantize the batch, assign it against the FROZEN
    centroid set (broadcast — the batch never joins the old corpus),
    and union the new rows onto the inverted list.

    This is how a production ANN index absorbs a daily embedding
    ingest: work is bounded by |new batch| (one broadcast fan-out +
    one per-id max-by over batch rows only); the existing list is
    untouched — persisted as parquet partitioned by assigned_label,
    the append writes only new files into existing partitions. The
    frozen-centroid policy is the standard one (FAISS `add` after
    `train`); centroid drift is handled by periodic re-trains, not
    per-batch. The ``ivf_incremental_append`` gate proves
    append == rebuild-with-frozen-centroids through search results."""
    q_new = quantize(new_emb, id_col, vec_col)
    return inv.unionByName(ivf_index_from_cents(q_new, cents, id_col))


def kmeans_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means in quantized integer space —
    (centroid_label, cq, cnorm) after ``iters`` refinement rounds.

    Deterministic end to end, so a SQL oracle can replay it exactly:
    seeds are the vectors with the ``k`` smallest ids; assignment
    tiebreaks on (score, centroid label); the centroid update is the
    same integer round(sum/n) recipe as :func:`label_centroids`. A
    cluster that loses every member simply disappears (both engines'
    GROUP BY drops it).

    Scale shape per iteration: one broadcast fan-out of k centroids
    over the corpus (map-only scoring), one max-by assignment
    aggregate, one dim-wide centroid mean aggregate — two shuffles of
    (id, label)-sized rows, never of raw vectors, and the iteration
    count is a constant (k-means over a fixed-size sample is also the
    standard way to LEARN the IVF index's neighborhoods; the label
    shortcut exists for corpora that arrive pre-clustered)."""
    q = quantize(emb, id_col, vec_col)
    if dim is None:
        row = emb.select(F.size(vec_col).alias("d")).first()
        if row is None or row["d"] is None or row["d"] < 0:
            raise ValueError("cannot infer vector dim; pass dim=")
        dim = row["d"]
    return kmeans_centroids_q(q, id_col, k, iters=iters, dim=dim)


def _np_centroid_arrays(rows):
    """Collected centroid rows → (labels, C, cnorm) numpy triple for the
    Arrow assignment kernels, sorted ASCENDING by label so that
    ``np.argmax`` (first-max) reproduces the JVM/SQL tiebreak exactly:
    highest cosine wins, exact float ties go to the smallest label."""
    import numpy as np

    srows = sorted(rows, key=lambda r: r["centroid_label"])
    labels = [r["centroid_label"] for r in srows]
    C = np.array([list(r["cq"]) for r in srows], dtype=np.float64)
    cn = np.array([r["cnorm"] for r in srows], dtype=np.float64)
    return labels, C, cn


def _exactness_guard(dim: int, max_q: float, max_c: float) -> None:
    """The bit-exactness license of the Arrow kernels (r14 batch 12):
    every float64 intermediate of the BLAS dot products must be an
    exactly-representable integer, i.e. |dot| ≤ dim·max|q|·max|c| < 2^53
    — then any summation order is exact and the final cosine applies
    the same three IEEE ops as the JVM ``_cosine``. Raises instead of
    silently degrading; quantize()'s 1e4 scale at dim 64 leaves ~5
    orders of magnitude of headroom on unit-scale embeddings."""
    if dim * max_q * max_c >= 2.0**53:
        raise ValueError(
            f"quantized values too large for exact float64 dot products: "
            f"dim={dim} · max|q|={max_q:.3g} · max|c|={max_c:.3g} ≥ 2^53"
        )


def _lloyd_round(q: DataFrame, cent_rows, id_col: str, dim: int) -> list:
    """ONE Lloyd refinement round, fused (r15): nearest-centroid
    assignment AND the per-label integer partial sums happen inside a
    single Arrow ``mapInPandas`` pass — no k-way crossJoin fan-out, no
    per-id max_by aggregate, no full-corpus shuffle. The only exchange
    per round carries ≤ tasks·k partial rows (label, n, s[dim]); the
    centroid finalization ``round(CAST(sum AS DOUBLE)/n)`` stays in
    Spark SQL, the IDENTICAL expression :func:`label_centroids` uses,
    so the replayed oracle arithmetic is untouched.

    Bit-exactness: cosine scores come from a float64 BLAS matmul over
    integer-valued matrices (exact while < 2^53 — guarded), divided by
    the same sqrt(norm)·sqrt(cnorm) product the JVM computes; ties pick
    the smallest label via first-max argmax over label-sorted centroid
    columns. Partial sums accumulate in int64 (exact). Returns the
    collected k'-row centroid list (a label that loses every member
    emits no partials and disappears, like the GROUP BY it replaces)."""
    import numpy as np

    labels, C, cn = _np_centroid_arrays(cent_rows)
    rt_c = np.sqrt(cn)
    cpos = cn > 0.0
    max_c = float(np.abs(C).max()) if C.size else 0.0
    label_t = q.schema[id_col].dataType.simpleString()

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            Q = np.vstack(pdf["q"].to_numpy()).astype(np.int64)
            Qf = Q.astype(np.float64)
            _exactness_guard(dim, float(np.abs(Qf).max()), max_c)
            nm = pdf["norm"].to_numpy().astype(np.float64)
            dot = Qf @ C.T  # exact: integer-valued float64 < 2^53
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (np.sqrt(nm)[:, None] * rt_c[None, :])
            cos = np.where((nm[:, None] > 0.0) & cpos[None, :], cos, 0.0)
            best = np.argmax(cos, axis=1)  # first max = smallest label
            out_l, out_n, out_s = [], [], []
            for li in np.unique(best):
                sel = Q[best == li]
                out_l.append(labels[int(li)])
                out_n.append(sel.shape[0])
                out_s.append(sel.sum(axis=0).tolist())
            yield pd.DataFrame(
                {"assigned_label": out_l, "n": out_n, "s": out_s}
            )

    part = q.select("q", "norm").mapInPandas(
        partials, schema=f"assigned_label {label_t}, n bigint, s array<bigint>"
    )
    # identical finalization arithmetic to label_centroids: integer
    # total → CAST AS DOUBLE → / count → Spark round (HALF_UP) → BIGINT
    cq_sql = "array({}) AS cq".format(
        ",".join(
            f"CAST(round(CAST(SUM(element_at(s, {i + 1})) AS DOUBLE) / SUM(n)) AS BIGINT)"
            for i in range(dim)
        )
    )
    out = (
        part.groupBy("assigned_label")
        .agg(F.expr(cq_sql))
        .select(F.col("assigned_label").alias("centroid_label"), "cq")
        .withColumn(
            "cnorm",
            F.expr(
                "aggregate(zip_with(cq, cq, (a, b) -> a * b), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ),
        )
    )
    return out.collect()


def _kmeans_rows(q: DataFrame, id_col: str, k: int, iters: int, dim: int) -> list:
    """The Lloyd loop as collected k-row centroid lists (r15): seeds are
    collected once (one job — the eager-checkpoint + count pair it
    replaces was two), then each round is exactly one Spark job (the
    fused Arrow round's collect). Only k-row centroid sets ever touch
    the driver; the corpus stays distributed."""
    seeds = (
        q.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_label"),
            F.col("q").alias("cq"),
            F.col("norm").alias("cnorm"),
        )
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"kmeans_centroids: only {len(seeds)} vectors available for k={k} seeds"
        )
    rows = seeds
    for _ in range(iters):
        rows = _lloyd_round(q, rows, id_col, dim)
    return rows


def kmeans_centroids_q(
    q: DataFrame, id_col: str, k: int, iters: int, dim: int
) -> DataFrame:
    """The Lloyd loop of :func:`kmeans_centroids` over an ALREADY
    quantized ``(id, q, norm)`` frame — shared by the full-vector entry
    point above and the per-subspace codebook trainer
    (:func:`pq_codebook_kmeans`), so the seeding/tiebreak/update recipe
    exists exactly once.

    Since r15 each round is the fused Arrow assignment+update pass of
    :func:`_lloyd_round` (see its docstring for the exactness argument);
    the k-row centroid set rides the driver between rounds — the same
    bound as the r14 per-round localCheckpoint, minus one job per round
    and the full-corpus assignment shuffle. Seeding is unchanged: the
    ACTUAL k smallest ids (never an `id < k` filter that under-seeds on
    sparse/offset id spaces)."""
    rows = _kmeans_rows(q, id_col, k, iters, dim)
    label_t = q.schema[id_col].dataType.simpleString()
    return local_frame(
        q.sparkSession,
        [(r["centroid_label"], list(r["cq"]), int(r["cnorm"])) for r in rows],
        f"centroid_label {label_t}, cq array<bigint>, cnorm bigint",
    )


def pq_codebook_kmeans(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = PQ_M,
    cb_k: int = PQ_K,
    iters: int = 2,
    dim: int | None = None,
) -> list[list[list[int]]]:
    """PQ codebook LEARNED per subspace with the same deterministic
    quantized-integer k-means the IVF index trainer uses — the
    production upgrade over :func:`pq_codebook`'s smallest-id seeds
    (Jégou et al. train exactly this: an independent k_sub-means per
    subvector block). Returns the same ``cw[s][c]`` nested-list shape,
    so :func:`pq_encode` / :func:`pq_probe_luts` / :func:`pq_adc_score`
    consume it unchanged.

    Codewords are ordered by centroid label (= seed ids), so codes are
    stable across runs. A subspace cluster that loses every member
    disappears (its codebook is shorter) — encode's argmin handles
    ragged codebooks. m bounded driver collects of ≤ cb_k rows each;
    the Lloyd iterations are per-subspace map+aggregate passes over
    (id, subvector) rows, never raw full vectors."""
    q = quantize(emb, id_col, vec_col)
    if dim is None:
        row = emb.select(F.size(vec_col).alias("d")).first()
        if row is None or row["d"] is None or row["d"] < 0:
            raise ValueError("cannot infer vector dim; pass dim=")
        dim = row["d"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cbs: list[list[list[int]]] = []
    for s in range(m):
        sv = F.slice(F.col("q"), s * sub + 1, sub)
        qs = q.select(F.col(id_col), sv.alias("q")).withColumn(
            "norm", _dot(F.col("q"), F.col("q"))
        )
        # rows straight from the Lloyd loop (r15) — the per-subspace
        # createDataFrame→orderBy→collect round-trip added nothing
        rows = sorted(
            _kmeans_rows(qs, id_col, cb_k, iters=iters, dim=sub),
            key=lambda r: r["centroid_label"],
        )  # ≤ cb_k rows
        cbs.append([[int(v) for v in r["cq"]] for r in rows])
    return cbs


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    probe_ids,
    k: int,
    nprobe: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: each probe searches only the inverted lists
    of its ``nprobe`` nearest centroids instead of the whole corpus.

    Scale shape: centroids are broadcast twice (once to build the
    inverted lists, once to rank probe-centroids); the candidate join is
    a broadcast of the tiny (probe × nprobe) table against the
    assignment table partitioned by centroid — a map-side join, so the
    only shuffle is the final per-probe top-k over the candidates.
    Recall < 1 by construction (vectors in unprobed lists are unseen);
    the deterministic quantized arithmetic keeps it oracle-checkable.

    This convenience form builds the index inline (:func:`ivf_build`)
    and searches it once — at scale, materialize the index and call
    :func:`ivf_search` per query batch instead."""
    inv, cents = ivf_build(emb, id_col, vec_col, label_col, dim=dim)
    q = quantize(emb, id_col, vec_col)
    probes = q.filter(F.col(id_col).isin(list(probe_ids))).select(
        F.col(id_col).alias("probe_id"), F.col("q").alias("pq"), F.col("norm").alias("pnorm")
    )
    return ivf_search(inv, cents, probes, k, nprobe=nprobe)


def ivf_search(
    inv: DataFrame,
    cents: DataFrame,
    probes: DataFrame,
    k: int,
    nprobe: int = 2,
) -> DataFrame:
    """Search a (possibly persisted) IVF index: ``probes`` is
    (probe_id, pq, pnorm) — quantized query vectors. Reads only the
    ~nprobe/nlist fraction of the index the probe-centroid ranking
    selects; with the index parquet partitioned by assigned_label the
    broadcast pruning skips unprobed lists at the scan."""
    pc = probes.crossJoin(F.broadcast(cents)).select(
        "probe_id",
        "pq",
        "pnorm",
        "centroid_label",
        _cosine(_dot(F.col("pq"), F.col("cq")), F.col("pnorm"), F.col("cnorm")).alias("cscore"),
    )
    wp = Window.partitionBy("probe_id").orderBy(F.col("cscore").desc(), F.col("centroid_label").asc())
    pc = pc.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= nprobe)
    cand = inv.join(
        F.broadcast(pc.select("probe_id", "pq", "pnorm", "centroid_label")),
        pc.centroid_label == inv.assigned_label,
    ).filter(F.col("neighbor_id") != F.col("probe_id"))
    scored = cand.select(
        "probe_id",
        "neighbor_id",
        _cosine(_dot(F.col("nq"), F.col("pq")), F.col("nn"), F.col("pnorm")).alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "score")
    )


def ivf_pq_build(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    m: int = PQ_M,
    cb_k: int = PQ_K,
    dim: int | None = None,
):
    """IVF x PQ composed index — the production ANN shape at 1e9+
    vectors (FAISS's IVFPQ; Jegou et al. §IV): inverted lists that
    store PQ CODES, so IVF prunes the corpus to ~nprobe/nlist per
    probe AND what the scanned lists carry is m sub-codes (64x smaller
    than float32) instead of full quantized vectors.

    Returns ``(inv, cents, cw)``: inv = (neighbor_id, assigned_label,
    codes), cents = the IVF centroid set, cw = the PQ codebook (nested
    lists, plan literals downstream). The encode runs IN PLACE on the
    assignment frame's quantized payload (one map pass — no join back
    to the corpus); reconstruction norms are derived from codes at
    search time, so the persisted index is codes-only."""
    q = quantize(emb, id_col, vec_col, keep=(label_col,))
    cents = label_centroids(emb, id_col, vec_col, label_col, dim=dim, quantized=q)
    assigned = ivf_index_from_cents(q, cents, id_col)
    cw = pq_codebook(emb, id_col, vec_col, m=m, cb_k=cb_k)
    inv = assigned.select(
        "neighbor_id",
        "assigned_label",
        _pq_codes_expr(F.col("nq"), cw).alias("codes"),
    )
    return inv, cents, cw


def ivf_pq_search(
    inv: DataFrame,
    cents: DataFrame,
    probes: DataFrame,
    cw: list,
    k: int,
    nprobe: int = 2,
) -> DataFrame:
    """Search an :func:`ivf_pq_build` index: rank centroids per probe
    (broadcast), build the probe's ADC lookup tables once, scan only
    the ``nprobe`` selected lists scoring candidates through m LUT
    lookups + m reconstruction-norm lookups — candidate rows never
    carry (or reconstruct) a raw vector. The only shuffle is the final
    per-probe top-k window; with the index parquet partitioned by
    assigned_label the broadcast pruning skips unprobed lists at the
    scan, exactly like :func:`ivf_search`."""
    m = len(cw)
    pc = probes.crossJoin(F.broadcast(cents)).select(
        "probe_id",
        "pq",
        "pnorm",
        "centroid_label",
        _cosine(_dot(F.col("pq"), F.col("cq")), F.col("pnorm"), F.col("cnorm")).alias("cscore"),
    )
    wp = Window.partitionBy("probe_id").orderBy(
        F.col("cscore").desc(), F.col("centroid_label").asc()
    )
    pc = pc.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= nprobe)
    lut_cols = [lut.alias(f"lut{s}") for s, lut in enumerate(_pq_lut_exprs(F.col("pq"), cw))]
    pcl = pc.select("probe_id", "pnorm", "centroid_label", *lut_cols)
    cand = inv.join(
        F.broadcast(pcl), pcl.centroid_label == inv.assigned_label
    ).filter(F.col("neighbor_id") != F.col("probe_id"))
    cwn_lits = [
        F.array(*[F.lit(sum(v * v for v in w)) for w in cw[s]]) for s in range(m)
    ]
    adc = None
    recon = None
    for s in range(m):
        code_s = F.element_at(F.col("codes"), s + 1)
        dot_s = F.element_at(F.col(f"lut{s}"), code_s + 1)
        rn_s = F.element_at(cwn_lits[s], code_s + 1)
        adc = dot_s if adc is None else adc + dot_s
        recon = rn_s if recon is None else recon + rn_s
    scored = cand.select(
        "probe_id",
        "neighbor_id",
        _cosine(adc, F.col("pnorm"), recon).alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "score")
    )


def ivf_pq_residual_build(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    m: int = PQ_M,
    cb_k: int = PQ_K,
    dim: int | None = None,
):
    """IVF x PQ with RESIDUAL encoding — the actual FAISS IVFPQ recipe
    (Jegou et al. §IV.A): each vector is PQ-encoded as its residual
    from the assigned centroid, not raw. Residuals are centered near
    zero, so the same codebook budget quantizes them with far less
    error than raw vectors — the recall gain is measured by
    ``ivfpq_residual_recall_gain``.

    Returns ``(inv, cents, cw)`` with the same shapes as
    :func:`ivf_pq_build`; ``cw`` here is the RESIDUAL codebook
    (deterministic: residual subvectors of the cb_k smallest ids, so
    the oracle replays it). Scale shape unchanged: the index stays
    codes-only (reconstruction = centroid + codeword happens at search
    time from broadcast literals), encode is one map pass over the
    assignment frame joined to the broadcast centroid set."""
    q = quantize(emb, id_col, vec_col, keep=(label_col,))
    cents = label_centroids(emb, id_col, vec_col, label_col, dim=dim, quantized=q)
    assigned = ivf_index_from_cents(q, cents, id_col)
    withc = assigned.join(
        F.broadcast(cents), assigned.assigned_label == cents.centroid_label
    )
    resid = F.zip_with("nq", "cq", lambda a, b: a - b)
    seeds = (
        withc.orderBy(F.col("neighbor_id").asc())
        .limit(cb_k)
        .select(resid.alias("r"))
        .collect()  # bounded: cb_k rows
    )
    if len(seeds) < cb_k:
        raise ValueError(f"ivf_pq_residual_build: only {len(seeds)} vectors for cb_k={cb_k}")
    rows = [list(r["r"]) for r in seeds]
    d = len(rows[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    cw = [
        [[int(v) for v in r[s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]
    inv = withc.select(
        "neighbor_id",
        "assigned_label",
        _pq_codes_expr(resid, cw).alias("codes"),
    )
    return inv, cents, cw


def ivf_pq_residual_search(
    inv: DataFrame,
    cents: DataFrame,
    probes: DataFrame,
    cw: list,
    k: int,
    nprobe: int = 2,
) -> DataFrame:
    """Search a residual IVFPQ index. Per candidate the score is the
    probe . (centroid + residual-reconstruction) cosine, decomposed so
    the candidate row needs only m code lookups:

        dot  = dot(probe, centroid)            -- once per (probe, list)
             + sum_s LUT_res[s][code_s]        -- probe.residual-codeword
        |rec|^2 = |centroid|^2
             + 2 * sum_s dot(centroid_sub_s, codeword)   -- per-list table
             + sum_s |codeword|^2                        -- plan literal

    Everything per-(probe, list) — the probe-centroid dot, the residual
    LUTs, and the centroid-codeword cross table — is computed on the
    tiny broadcast pc frame; inverted-list rows still carry codes only."""
    m = len(cw)
    sub = len(cw[0][0])

    def dot_with(sv):
        return lambda w: F.aggregate(
            F.zip_with(sv, w, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    pc = probes.crossJoin(F.broadcast(cents)).select(
        "probe_id",
        "pq",
        "pnorm",
        "centroid_label",
        "cq",
        "cnorm",
        _cosine(_dot(F.col("pq"), F.col("cq")), F.col("pnorm"), F.col("cnorm")).alias("cscore"),
    )
    wp = Window.partitionBy("probe_id").orderBy(
        F.col("cscore").desc(), F.col("centroid_label").asc()
    )
    pc = pc.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= nprobe)
    cols = [
        F.col("probe_id"),
        F.col("pnorm"),
        F.col("centroid_label"),
        F.col("cnorm"),
        _dot(F.col("pq"), F.col("cq")).alias("pcdot"),
    ]
    for si in range(m):
        cb_lit = _nested_long_array_lit(cw[si])
        psl = F.slice(F.col("pq"), si * sub + 1, sub)
        csl = F.slice(F.col("cq"), si * sub + 1, sub)
        cols.append(F.transform(cb_lit, dot_with(psl)).alias(f"lut{si}"))
        cols.append(F.transform(cb_lit, dot_with(csl)).alias(f"xr{si}"))
    pcl = pc.select(*cols)
    cand = inv.join(
        F.broadcast(pcl), pcl.centroid_label == inv.assigned_label
    ).filter(F.col("neighbor_id") != F.col("probe_id"))
    rn_lits = [
        _long_array_lit([sum(int(v) * int(v) for v in w) for w in cw[si]])
        for si in range(m)
    ]
    adc = F.col("pcdot")
    recon = F.col("cnorm")
    for si in range(m):
        code_si = F.element_at(F.col("codes"), si + 1)
        adc = adc + F.element_at(F.col(f"lut{si}"), code_si + 1)
        recon = (
            recon
            + F.lit(2) * F.element_at(F.col(f"xr{si}"), code_si + 1)
            + F.element_at(rn_lits[si], code_si + 1)
        )
    scored = cand.select(
        "probe_id",
        "neighbor_id",
        _cosine(adc, F.col("pnorm"), recon).alias("score"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "score")
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    threshold: float,
    dim: int | None = None,
) -> DataFrame:
    """Semantic dedup à la SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the corpus (here: nearest-centroid assignment over the label
    centroids), compare pairs ONLY within a cluster, and drop every
    vector that has a more-canonical (lower-id) cluster-mate with cosine
    ≥ ``threshold``. Returns the surviving ``(id, assigned_label)`` set.

    The clustering is what makes this subquadratic: pairwise cosine runs
    per cluster (corpus²/nlist at uniform cluster sizes), never across
    the whole corpus — the property that lets embedding dedup run on a
    billion-document corpus. Deterministic end-to-end: integer quantized
    arithmetic, min-id survivor policy.

    The assignment aggregate carries only (label, score) — the quantized
    payload joins back once afterwards; measured at sf0.1 this beats
    carrying the 64-element payload arrays through the max_by aggregate
    (3.3 s → 2.6 s, the payload forces SortAggregate on every reuse).
    At warehouse scale, run dedup from the materialized
    :func:`ivf_build` index parquet instead — one scan, no recompute."""
    n = emb.count()  # gates the mega-cluster probe; parquet-metadata cheap
    qa = _assigned_quantized(emb, id_col, vec_col, label_col, dim=dim)
    return _within_cluster_survivors(qa, id_col, threshold, corpus_rows=n)


def semantic_dedup_drops(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    threshold: float,
    dim: int | None = None,
) -> DataFrame:
    """The DROPPED-id complement of :func:`semantic_dedup` — same
    assignment, same within-cluster pair stage, but returns the ids the
    min-id survivor policy removes. A consumer that needs the drop set
    (e.g. to anti-join a document corpus) previously had to re-derive
    it as ``emb ∖ survivors`` — two extra anti-join exchanges and an
    extra corpus scan for a frame the pair stage had already computed
    (every drop id comes from the assigned corpus, so
    ``emb ∖ (qa ∖ drops) ≡ drops``)."""
    # the mega-cluster guard's size probe would be a SECOND consumer of
    # the assignment chain, so the r14 single-consumer no-checkpoint
    # rule holds only when the corpus count gate skips the probe (≤ cap
    # rows — every test/dev corpus); above the cap the chain checkpoints
    # so probe + pair stage read blocks instead of recomputing it
    n = emb.count()  # parquet-metadata cheap; also gates the probe
    small = n <= SEMDEDUP_CLUSTER_CAP
    qa = _assigned_quantized(
        emb, id_col, vec_col, label_col, dim=dim, checkpoint=not small
    )
    return _within_cluster_drops(qa, id_col, threshold, corpus_rows=n)


def _assigned_quantized(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int | None,
    checkpoint: bool = True,
) -> DataFrame:
    """(id, q, norm, assigned_label) for the whole corpus — SemDeDup's
    shared build stage. Materialized ONCE (r14): ``qa`` feeds the
    grouped Arrow pair pass and the survivor anti-join (two consumers),
    and every lazy reuse re-ran the whole scan → quantize → centroid →
    assignment chain. localCheckpoint (not persist) so the blocks are
    ContextCleaner-managed and a library call leaks no session-lived
    cache entry; this is the in-query form of the documented at-scale
    advice (run dedup from the materialized ivf_build index).

    Since r15 the assignment itself is the map-only Arrow argmax
    (:func:`_arrow_nearest_centroid`) carrying the quantized payload
    through — the previous shape re-joined the assignment frame back
    onto the corpus on id (a full SortMergeJoin exchange pair) just to
    recover (q, norm)."""
    q = quantize(emb, id_col, vec_col, keep=(label_col,))
    cents = label_centroids(emb, id_col, vec_col, label_col, dim=dim, quantized=q)
    out = ivf_index_from_cents(q, cents, id_col).select(
        F.col("neighbor_id").alias(id_col),
        F.col("nq").alias("q"),
        F.col("nn").alias("norm"),
        "assigned_label",
    )
    return out.localCheckpoint(eager=True) if checkpoint else out


# Rows per cluster above which SemDeDup's pair stage leaves the grouped
# Arrow pass for the blocked join (see _within_cluster_drops). 200k rows
# ≈ a 100 MB n×dim int64 matrix at dim 64 — comfortably inside one
# task's memory.
SEMDEDUP_CLUSTER_CAP = 200_000


def _within_cluster_drops(
    qa: DataFrame,
    id_col: str,
    threshold: float,
    cluster_cap: int | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """The dropped-id set of SemDeDup's pair stage: every id with a
    lower-id cluster-mate at cosine ≥ threshold, distinct.

    One grouped Arrow pass per cluster (r14, guide §4.2) — the
    within-cluster self-join + per-pair HOF dot product evaluated
    |cluster|² zip_with/aggregate folds, each allocating a 64-element
    intermediate array; a blockwise BLAS matmul over the cluster's
    quantized matrix does the same arithmetic vectorized. BIT-EXACT by
    construction: the quantized values and squared norms are integers
    whose pairwise dot products stay < 2^53, so every float64
    intermediate in the matmul is an exactly-representable integer
    (no rounding anywhere, any summation order), and the final
    cosine — dot / (sqrt(na)·sqrt(nb)) — applies the same three IEEE
    ops in the same order as the JVM `_cosine`; zero-norm rows score
    0.0 on both sides (equivalence vs the join formulation is
    test-pinned). Distribution shape is unchanged: one exchange keyed
    on the cluster assignment, pairs never cross clusters; per-task
    memory is the cluster's n×dim int matrix + a ≤64 MB score block
    (the join formulation's per-partition hash relation was the same
    order).

    Requires ``threshold > 0`` (r15, ADVICE): the positive-norm mask
    excludes zero-norm rows from pairing, which matches the JVM
    formulation (zero-norm pairs score 0.0, below any positive
    threshold) ONLY for positive thresholds — a degenerate
    ``threshold ≤ 0`` would diverge, so it fails loudly instead.
    NULL cluster labels are excluded before the groupBy (r15, ADVICE):
    the old equi-join silently dropped NULL-labeled rows from pairing,
    whereas applyInPandas would form a real NULL group — the filter is
    free when labels are non-null (every current producer) and pins
    the join semantics otherwise.

    MEGA-CLUSTER GUARD (r15, VERDICT r14 item 1): ``applyInPandas``
    materializes an entire cluster in one Python worker, so a skewed
    label owning 10M+ rows would OOM the task where the old self-join
    streamed pairs. A one-job size probe over ``qa`` (collected: ≤
    nlist rows) routes every cluster above ``cluster_cap`` rows
    (default ``SEMDEDUP_CLUSTER_CAP``, 200k ≈ a 100 MB n×dim int64
    matrix at dim 64) through the pre-r14 blocked JOIN
    formulation — same integer arithmetic, bit-identical drop set,
    memory bounded per task by the join's hash relation — while every
    normal cluster keeps the grouped Arrow pass. When no cluster
    exceeds the cap (every current corpus: k-means balance and the
    label fixture keep clusters ~corpus/nlist) the returned plan is
    IDENTICAL to the unguarded one — no filters, no union. Callers
    that know the TOTAL corpus row count pass it as ``corpus_rows``:
    a corpus at or under the cap cannot contain an oversized cluster,
    so the probe job is skipped outright (measured 0.17 s on
    materialized blocks at sf0.1 — small, but it sat on two bench
    rows; the count gate is a 0.2 s parquet-metadata job the caller
    usually needs anyway)."""
    import pandas as pd

    if threshold <= 0.0:
        raise ValueError(
            f"semantic-dedup threshold must be > 0 (got {threshold}); "
            "zero-norm handling diverges at degenerate thresholds"
        )
    if cluster_cap is None:
        cluster_cap = SEMDEDUP_CLUSTER_CAP
    id_type = qa.schema[id_col].dataType.simpleString()

    def drops(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({id_col: pdf[id_col].iloc[:0]})
        order = np.argsort(pdf[id_col].to_numpy())
        ids = pdf[id_col].to_numpy()[order]
        q = np.vstack(pdf["q"].to_numpy()[order]).astype(np.float64)
        nm = pdf["norm"].to_numpy()[order].astype(np.float64)
        rt = np.sqrt(nm)
        pos = nm > 0.0
        dropped = np.zeros(n, dtype=bool)
        cols = np.arange(n)
        block = max(1, min(4096, 8_000_000 // n))
        for s in range(0, n, block):
            e = min(s + block, n)
            dot = q[s:e] @ q.T  # exact: integer-valued doubles < 2^53
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (rt[s:e, None] * rt[None, :])
            hit = (cos >= threshold) & pos[s:e, None] & pos[None, :]
            dropped |= np.any(
                hit & (np.arange(s, e)[:, None] < cols[None, :]), axis=0
            )
        return pd.DataFrame({id_col: ids[dropped]})

    def grouped(src: DataFrame) -> DataFrame:
        return (
            src.select(F.col(id_col), "assigned_label", "q", "norm")
            .filter(F.col("assigned_label").isNotNull())
            .groupBy("assigned_label")
            .applyInPandas(drops, schema=f"{id_col} {id_type}")
        )

    # a corpus at or under the cap cannot hold an oversized cluster —
    # skip the probe job entirely (the common case at test/dev scale)
    if corpus_rows is not None and corpus_rows <= cluster_cap:
        return grouped(qa)
    # size probe: one tiny job (≤ nlist result rows); labels above the
    # cap route through the blocked join, everything else stays grouped
    big = [
        r["assigned_label"]
        for r in (
            qa.groupBy("assigned_label")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > cluster_cap)
            .collect()
        )
        if r["assigned_label"] is not None
    ]
    if not big:
        return grouped(qa)
    small_drops = grouped(qa.filter(~F.col("assigned_label").isin(big)))
    bigqa = qa.filter(F.col("assigned_label").isin(big))
    a = bigqa.select(
        F.col("assigned_label").alias("cl"),
        F.col(id_col).alias("id_a"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
    )
    b = bigqa.select(
        F.col("assigned_label").alias("cl"),
        F.col(id_col).alias("id_b"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
    )
    big_drops = (
        a.join(b, "cl")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb"))
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return small_drops.unionByName(big_drops)


def _within_cluster_survivors(
    qa: DataFrame, id_col: str, threshold: float, corpus_rows: int | None = None
) -> DataFrame:
    """SemDeDup's pair stage over an assigned corpus ``qa`` =
    (id, assigned_label, q, norm): within-cluster cosine pairs only,
    min-id survivor policy; returns surviving (id, assigned_label)."""
    drops = _within_cluster_drops(qa, id_col, threshold, corpus_rows=corpus_rows)
    return qa.join(drops, id_col, "left_anti").select(F.col(id_col), "assigned_label")


def semantic_dedup_from_index(inv: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """SemDeDup over an EXISTING inverted-list assignment
    (:func:`ivf_index_from_cents` / a persisted :func:`ivf_build`
    index) — with LEARNED k-means clusters this is the paper's actual
    formulation (Abbas et al. 2023 cluster with k-means, not given
    labels), and at warehouse scale it runs straight off the
    materialized index parquet: one scan, no re-assignment.

    The assigned corpus is materialized ONCE (localCheckpoint) before
    the pair stage — the same r14 fix as :func:`semantic_dedup`: the
    within-cluster self-join and the survivor anti-join reference the
    assignment three times, and lazy reuse re-ran the whole upstream
    chain (for the k-means entry point: seeding + every Lloyd round +
    the final assignment, 3×) per reference."""
    qa = inv.select(
        F.col("neighbor_id").alias(id_col),
        F.col("assigned_label"),
        F.col("nq").alias("q"),
        F.col("nn").alias("norm"),
    ).localCheckpoint(eager=True)
    # count on materialized blocks (~0.1 s) gates the mega-cluster probe
    return _within_cluster_survivors(
        qa, id_col, threshold, corpus_rows=qa.count()
    )


def lsh_hyperplanes(planes: int, dim: int, scale: int = 10000) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH: integer
    components in [-scale, scale] derived from md5 — no RNG state, so
    the engine and the SQL oracle generate the identical planes."""
    import hashlib

    out = []
    for j in range(planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"lsh:{j}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h % (2 * scale + 1) - scale)
        out.append(row)
    return out


def cosine_lsh_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    bands: int = 4,
    planes_per_band: int = 4,
) -> DataFrame:
    """Banded sign-LSH cosine near-dup pairs: each vector hashes to one
    sign pattern per band (integer hyperplane dot products — exact
    signs, no float-order ambiguity); vectors pair when ANY band's
    pattern matches (OR-amplification), then candidates are verified
    with exact cosine ≥ threshold.

    Recall for a pair at angle θ is 1 - (1 - (1-θ/π)^planes)^bands —
    banding trades candidate volume for recall exactly like MinHash-LSH
    banding does for Jaccard. The scale shape: one map-only signing
    pass, a (band, pattern) self-join bounded per bucket, exact verify
    on survivors only. The exact all-pairs kernel (:func:`cosine_pairs`)
    is the recall-1 baseline this approximates.
    """
    hps = lsh_hyperplanes(bands * planes_per_band, dim)
    q = quantize(emb, id_col, vec_col)

    # Entire signing stage as ONE parsed SQL expression: the Python-API
    # formulation materializes bands·planes·dim literal Columns (~1k py4j
    # round-trips at 16×64) before Catalyst ever sees the plan; a string
    # parses JVM-side in one call and produces the identical expressions.
    def sign_bit(row: list[int]) -> str:
        plane = "array({})".format(",".join(str(v) for v in row))
        dot = (
            f"aggregate(zip_with(q, {plane}, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        return f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)"

    band_structs = ",".join(
        "struct({b} AS band, concat({bits}) AS pattern)".format(
            b=b,
            bits=",".join(
                sign_bit(hps[b * planes_per_band + p]) for p in range(planes_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = q.select(
        F.col(id_col), F.col("q"), F.col("norm"),
        F.explode(F.expr(f"array({band_structs})")).alias("bk"),
    ).select(id_col, "q", "norm", F.col("bk.band").alias("band"), F.col("bk.pattern").alias("pattern"))
    a = banded.select(
        "band", "pattern", F.col(id_col).alias("id_a"), F.col("q").alias("qa"), F.col("norm").alias("na")
    )
    b = banded.select(
        "band", "pattern", F.col(id_col).alias("id_b"), F.col("q").alias("qb"), F.col("norm").alias("nb")
    )
    return (
        a.join(b, ["band", "pattern"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cosine(_dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .distinct()
    )


def cosine_topk_np(
    emb: DataFrame, id_col: str, vec_col: str, probe_ids, k: int
) -> DataFrame:
    """Throughput path: per-Arrow-batch numpy matmul against a broadcast
    probe matrix; per-partition top-k then global top-k. Float scores
    (not oracle-exact) — use for benchmarks / production fan-out."""
    import numpy as np

    probes_pd = (
        emb.filter(F.col(id_col).isin(list(probe_ids)))
        .select(F.col(id_col), F.col(vec_col))
        .toPandas()
    )
    pids = probes_pd[id_col].to_numpy()
    P = np.array(probes_pd[vec_col].tolist(), dtype=np.float64)
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((pids, P))

    schema = f"probe_id long, neighbor_id long, score double"

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pids_, P_ = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            S = X @ P_.T  # (batch, probes)
            nid = pdf[id_col].to_numpy()
            # per-batch top-(k+1) per probe to bound output
            kk = min(k + 1, S.shape[0])
            idx = np.argpartition(-S, kk - 1, axis=0)[:kk]
            out = {
                "probe_id": np.repeat(pids_, kk),
                "neighbor_id": nid[idx].T.ravel(),
                "score": np.take_along_axis(S, idx, axis=0).T.ravel(),
            }
            yield pd.DataFrame(out)

    scored = emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(score_batches, schema=schema)
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
