"""Document deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (the point of each algorithm at 100 TB):

- **exact**: one hash-groupBy on ``sha256(text)`` — a single shuffle of
  (hash, id) pairs, never of document bodies.
- **MinHash + LSH**: per-doc signatures are a groupBy over exploded
  shingles (map-side partial min, tiny shuffle). Banding turns the
  quadratic all-pairs problem into an equi-join on (band, band_hash):
  only docs sharing a band bucket ever meet. Candidates are then
  *verified* with true Jaccard, so false positives cost extra work but
  never wrong output.
- **SimHash**: one aggregation pass → 32-bit fingerprint per doc;
  near-dup lookup becomes fingerprint-equality (or small-radius
  neighborhoods) — no pairwise stage at all.
- **n-gram Jaccard**: exact pairwise similarity via an equi-join on the
  shingle value. Quadratic in docs-per-shingle; use it within candidate
  sets or small groups, not corpus-wide (that is what LSH is for).

All hashing is md5/sha256 of explicit strings so results are
reproducible on any engine (see functions.text).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import HEX_HIGH, shingles, tokens
from ..sources.io import local_frame

# Hot-shingle guard for the exact pair kernels (r15). A shingle shared
# by d docs generates d^2 join rows IN ONE TASK of the shuffle join —
# and because d rows are only ~d*40 shuffled bytes, AQE's size-based
# skew split never sees the blow-up (measured: tools/shingle_skew_probe
# — the straggler survives AQE with fixture-scaled thresholds). Keys
# with document frequency > PAIR_HOT_CAP therefore get an explicit
# salted split (guide §2.5, :func:`_pair_join`): the left side hashed
# into S buckets by id, the right side replicated S ways, so each task
# generates <= d^2/S pairs. The guard only engages when the corpus CAN
# contain a hot key: array_distinct bounds every shingle's frequency by
# the doc count, so a corpus of <= PAIR_HOT_CAP docs takes the plain
# single-join plan with no frequency pass at all (one count job is the
# whole cost — that keeps the local bench on the exact r14 plan).
PAIR_HOT_CAP = 8192
# target pair rows per salted task chunk; S = ceil(max_d^2 / target)
_PAIR_SALT_TARGET = 1_000_000
_PAIR_SALT_MAX = 256


def _salt_count(max_d: int) -> int:
    return max(2, min(_PAIR_SALT_MAX, math.ceil(max_d * max_d / _PAIR_SALT_TARGET)))


def _more_rows_than(df: DataFrame, cap: int) -> bool:
    """True iff ``df`` has more than ``cap`` rows, as ONE job over a
    zero-data-column projection: the lit(1) select prunes every real
    column off the scan and the limit bounds each task's output at
    cap+1 rows. (take() would stop earlier at scale but runs 3-4
    scale-up jobs when the answer is "not more" — the case every
    local-SF bench call hits; count-over-limit is one job both ways.)"""
    return df.select(F.lit(1)).limit(cap + 1).count() > cap


def _hot_keys(sets: DataFrame, join_cols: list[str], hot_cap: int):
    """Collect the (provably tiny) hot-key set of an exploded shingle
    frame: keys with frequency > hot_cap number at most rows/hot_cap.
    Returns (hot_frame_or_None, salt_count, hot_join_partitions).

    The partition count matters as much as the salt: both the AQE skew
    splitter AND the AQE partition coalescer size partitions by map
    OUTPUT BYTES, and a hot key's rows are tiny in bytes (the d^2 blow-
    up happens at join time) — measured in tools/shingle_skew_probe,
    coalescing merged the salt buckets straight back into one task. The
    hot join therefore uses an explicit user-specified repartition
    (which AQE leaves alone) sized to one (key, salt) chunk per task."""
    freq = sets.groupBy(*[F.col(c) for c in join_cols]).agg(
        F.count(F.lit(1)).alias("__df")
    )
    hot_rows = freq.filter(F.col("__df") > hot_cap).collect()
    if not hot_rows:
        return None, 0, 0
    hot = local_frame(sets.sparkSession, hot_rows, freq.schema).select(
        *[F.col(c) for c in join_cols]
    )
    n_salt = _salt_count(max(r["__df"] for r in hot_rows))
    n_part = min(4096, len(hot_rows) * n_salt)
    return F.broadcast(hot), n_salt, n_part


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, group_col: str | None
) -> DataFrame:
    """(id, [group], sz, shingle): one row per distinct shingle of each
    doc. The set size is computed MAP-SIDE (``size`` of the distinct
    array) and CARRIED through the explode (r14), so the pair aggregate
    reads both sizes via ``first()`` instead of joining a sizes frame
    back twice. Docs with empty shingle sets emit no rows."""
    keep = [id_col] + ([group_col] if group_col else [])
    arrs = df.select(
        *[F.col(c) for c in keep],
        F.array_distinct(shingles(tokens(text_col), shingle_n)).alias("__ss"),
    )
    return arrs.select(
        *[F.col(c) for c in keep],
        F.size("__ss").cast("long").alias("sz"),
        F.explode("__ss").alias("shingle"),
    )


def _pair_join(
    lhs: DataFrame,
    rhs: DataFrame,
    jcols: list[str],
    salt_id: str,
    hot: DataFrame | None,
    n_salt: int,
    n_part: int,
) -> DataFrame:
    """The shingle equi-join of the exact pair kernels. With no hot keys
    (``hot`` None, see :func:`_hot_keys`) it is the plain join. Else the
    cold keys join plainly and the hot keys take the r15 salted split:
    ``lhs`` rows hashed into ``n_salt`` buckets by ``salt_id``, ``rhs``
    rows replicated ``n_salt`` ways, both user-repartitioned on (keys,
    salt) so AQE cannot coalesce the buckets back together. Every
    (lhs row, rhs row) co-occurrence still meets exactly once."""
    if hot is None:
        return lhs.join(rhs, jcols)
    cold = lhs.join(hot, jcols, "left_anti").join(
        rhs.join(hot, jcols, "left_anti"), jcols
    )
    salt_keys = [F.col(c) for c in jcols] + [F.col("__salt")]
    l_hot = (
        lhs.join(hot, jcols, "left_semi")
        .withColumn("__salt", F.pmod(F.xxhash64(salt_id), F.lit(n_salt)).cast("int"))
        .repartition(n_part, *salt_keys)
    )
    r_hot = (
        rhs.join(hot, jcols, "left_semi")
        .withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
        .repartition(n_part, *salt_keys)
    )
    return cold.unionByName(l_hot.join(r_hot, jcols + ["__salt"]).drop("__salt"))


def _pair_counts(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b) from one row per shared shingle:
    sizes are constant within each pair, so ``first()`` reads them."""
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("inter"),
        F.first("sz_a").alias("sz_a"),
        F.first("sz_b").alias("sz_b"),
    )


def _jaccard(inter: Column, sz_a: Column, sz_b: Column) -> Column:
    """|A∩B| / |A∪B| from the intersection and the two set sizes."""
    return inter.cast("double") / (sz_a + sz_b - inter)


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts: (text_sha256, survivor_id, dup_count).
    Survivor = smallest id (deterministic keep-first policy)."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha256"))
        .groupBy("text_sha256")
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Banded LSH: hash each band's signature slice, self-join on
    (band, band_hash). Returns distinct candidate (id_a < id_b) pairs."""
    rows = num_hashes // bands
    band_structs = []
    for b in range(bands):
        slice_cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *slice_cols)).alias("bh"))
        )
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, ss: array<string>) — distinct shingles kept as one array per
    doc (the compact set representation: one row per doc, not one per
    shingle, so downstream joins shuffle O(docs), not O(shingles)).

    Docs with no shingles (fewer than ``n`` tokens) are filtered — they
    can never pair, and keeping them would give every such doc an
    all-NULL MinHash signature whose band keys all collapse to
    ``md5('')``, making the whole short-doc population mutual LSH
    candidates (an O(shorts²) join blow-up for pairs the jaccard filter
    discards anyway)."""
    ws = tokens(text_col)
    return df.select(F.col(id_col), F.array_distinct(shingles(ws, n)).alias("ss")).filter(
        F.size("ss") > 0
    )


def minhash_signatures_mapside(
    arrs: DataFrame, id_col: str, num_hashes: int = 8
) -> DataFrame:
    """Per-doc MinHash signature computed entirely map-side: each hash is
    ``array_min`` over the salted-md5 of the doc's own shingle array —
    identical values to the explode→groupBy formulation but with zero
    shuffle (the aggregation never leaves the row)."""
    def salted(i: int):
        # NB: higher-order functions dispatch on lambda *arity* — a
        # 2-arg lambda would receive (element, index), so the salt must
        # be captured by closure, never as a default arg
        prefix = F.lit(f"{i}:")
        return lambda s: F.substring(F.md5(F.concat(prefix, s)), 1, 16)

    sigs = [
        F.array_min(F.transform("ss", salted(i))).alias(f"h{i}") for i in range(num_hashes)
    ]
    return arrs.select(F.col(id_col), *sigs)


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: shingle → sign →
    band-join → verify candidates with exact Jaccard ≥ threshold.

    Scale shape: signatures are map-side (no explode, no groupBy);
    the only required shuffles are the LSH bucket self-join over 4 small
    rows/doc and the candidate-pair verification joins, which move one
    shingle *array* per doc instead of one row per shingle — at equal
    doc counts that is ~2 orders of magnitude fewer shuffle rows than
    the exploded-set formulation. Verification is ``array_intersect``
    per pair (exact set semantics on the distinct arrays).

    Persistence choice (measured at sf0.1): nothing is persisted.
    The shingle arrays and signatures are map-only; recomputing them per
    consumer costs less than building Spark's columnar cache (~6× for
    array<string>), and a library operator must not leak session-lived
    cache entries per call. At warehouse scale, checkpoint
    ``shingle_arrays`` to parquet once and build both stages from it."""
    arrs = shingle_arrays(df, id_col, text_col, shingle_n)
    # materialize the SIGNATURES once (r14): both sides of the LSH
    # band self-join otherwise recompute the full tokenize → shingle →
    # 8×salted-md5 signing pass (the md5s dominate the map work). The
    # signature table is flat and tiny — id + num_hashes 16-char
    # strings — so the checkpoint is near-free, unlike the shingle
    # ARRAYS, whose cache build was measured at ~6× their recompute
    # (docstring below); localCheckpoint keeps blocks GC-managed.
    # eager=False (r14): the first band-join stage that touches the
    # signatures materializes the blocks as it computes them, so the
    # other side reads blocks without a dedicated checkpoint job
    # (measured −0.1–0.2 s min-of-8 over two same-box A/Bs).
    sig = minhash_signatures_mapside(arrs, id_col, num_hashes).localCheckpoint(
        eager=False
    )
    cand = lsh_candidate_pairs(sig, id_col, num_hashes, bands)
    a = arrs.select(F.col(id_col).alias("id_a"), F.col("ss").alias("sa"))
    b = arrs.select(F.col(id_col).alias("id_b"), F.col("ss").alias("sb"))
    jaccard = _jaccard(F.size(F.array_intersect("sa", "sb")), F.size("sa"), F.size("sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    group_col: str | None = None,
    hot_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b) for every doc pair sharing ≥1
    shingle (optionally within ``group_col``) — the common core of the
    exact Jaccard and containment kernels: :func:`_shingle_sets` on both
    sides, :func:`_pair_join` on the shingle, :func:`_pair_counts`. The
    equi-join bounds the blow-up to docs actually sharing a shingle.

    Hot-shingle guard (r15, see PAIR_HOT_CAP): above ``hot_cap`` docs
    the kernel counts per-shingle frequency once (over a checkpointed
    explode, so tokenize runs once instead of twice) and salts the keys
    with frequency > hot_cap in the join."""
    if hot_cap is None:
        hot_cap = PAIR_HOT_CAP
    sets = _shingle_sets(df, id_col, text_col, shingle_n, group_col)
    join_cols = ["shingle"] + ([group_col] if group_col else [])
    hot, n_salt, n_part = None, 0, 0
    # bounded-cost gate: "more docs than cap?" — the constant-column
    # select prunes the scan to zero data columns and CollectLimit
    # stops at cap+1 rows, so the gate never reads document bodies and
    # never scans past the cap at any corpus size (a plain count is a
    # full pass)
    if hot_cap and _more_rows_than(df, hot_cap):
        # only now CAN a hot shingle exist (frequency <= doc count);
        # lazy checkpoint: the frequency job materializes the blocks,
        # the join sides below read them (tokenize runs once, not twice)
        sets = sets.localCheckpoint(eager=False)
        hot, n_salt, n_part = _hot_keys(sets, join_cols, hot_cap)
    a = sets.select(
        *[F.col(c) for c in join_cols],
        F.col(id_col).alias("id_a"),
        F.col("sz").alias("sz_a"),
    )
    b = sets.select(
        *[F.col(c) for c in join_cols],
        F.col(id_col).alias("id_b"),
        F.col("sz").alias("sz_b"),
    )
    raw = _pair_join(a, b, join_cols, "id_a", hot, n_salt, n_part)
    return _pair_counts(raw.filter(F.col("id_a") < F.col("id_b")))


def all_pairs_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
    group_col: str | None = None,
    hot_cap: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard (optionally only within ``group_col``
    groups). Restrict to groups / candidates at corpus scale."""
    counts = _shingle_pair_counts(df, id_col, text_col, shingle_n, group_col, hot_cap)
    jaccard = _jaccard(F.col("inter"), F.col("sz_a"), F.col("sz_b"))
    return counts.select("id_a", "id_b", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list,
    prefix_len: int,
    threshold: int,
    ascii_fold: bool = True,
) -> DataFrame:
    """Blocked edit-distance (Levenshtein) near-dup pairs — the
    character-level near-dup family the shingle/minhash/simhash tiers
    do not cover (they are token/bag measures; edit distance catches
    single-character corruptions, OCR noise, and template fills that
    shift every shingle).

    Semantics (blocked, as in standard entity-resolution practice):
    candidates are pairs sharing every ``block_cols`` value; each is
    scored by ``levenshtein`` over the first ``prefix_len`` chars and
    kept when the distance is <= ``threshold``. Blocking is part of
    the operator contract, not an approximation knob — the oracle
    applies the same blocks.

    Scale shape: the self-join shuffles only (id, block key,
    ``prefix_len``-char prefix) — never full text; within-block
    pairing bounds the quadratic by block size (pick block keys to
    keep blocks ~10³ rows at corpus scale); the length-difference
    lower bound (|len_a − len_b| ≤ k ⇒ cheap int compare) prunes
    before the O(prefix_len²) distance; and ``F.levenshtein`` is a
    JVM codegen expression — no Python in the hot path.

    ``ascii_fold`` (default on) maps every non-ASCII codepoint to
    ``'?'`` BEFORE the prefix is cut, so the scored strings are pure
    ASCII where byte-, code-unit- and codepoint-level Levenshtein all
    agree — engines disagree on which unit they count (Spark
    ``F.levenshtein`` is codepoint-based; DuckDB's is byte-based:
    levenshtein('café','cafe') is 1 vs 2), and without the fold a
    multilingual corpus silently flips pair membership near the
    threshold depending on who computes. The fold is distance-
    preserving for the ASCII-noise family this operator targets (OCR
    noise, template fills). Folding also has a failure mode the
    operator guards against: a predominantly non-Latin document folds
    to a near-uniform ``'????…'`` prefix, and two UNRELATED such
    documents would land at distance ~0 — so with the fold on,
    documents whose folded prefix is less than half non-``'?'`` are
    EXCLUDED from pairing (they carry no signal this operator can
    score; route non-Latin scripts through the shingle/MinHash tiers,
    which are codepoint-clean). Pass ``ascii_fold=False`` only when
    every caller in the pipeline is pinned to one codepoint-correct
    engine."""
    if not block_cols:
        # an empty block key would make the self-join a cartesian
        # product — the O(n²) plan this operator exists to avoid; make
        # all-pairs an explicit caller choice (a constant column), not
        # a default
        raise ValueError(
            "edit_distance_pairs requires at least one blocking column; "
            "for deliberate all-pairs use a constant block column"
        )
    src = (
        F.regexp_replace(F.col(text_col), r"[^\x00-\x7F]", "?")
        if ascii_fold
        else F.col(text_col)
    )
    pfx = F.substring(src, 1, prefix_len)
    d = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], pfx.alias("pfx")
    )
    if ascii_fold:
        # signal guard (see docstring): a mostly-'?' folded prefix has
        # nothing for edit distance to measure — excluding it prevents
        # the unrelated-non-Latin-documents-at-distance-0 collapse
        d = d.filter(
            F.length(F.replace(F.col("pfx"), F.lit("?"), F.lit("")))
            * 2
            >= F.length("pfx")
        )
    a = d.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c) for c in block_cols],
        F.col("pfx").alias("pfx_a"),
    )
    b = d.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c) for c in block_cols],
        F.col("pfx").alias("pfx_b"),
    )
    return (
        a.join(b, on=block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        # |len_a - len_b| is a lower bound on levenshtein: free prune
        .filter(
            F.abs(F.length("pfx_a") - F.length("pfx_b")) <= F.lit(threshold)
        )
        # bounded levenshtein (r14, Spark 3.5+ threshold arg): banded
        # DP visits O(threshold·len) cells instead of O(len²) and
        # early-exits past the bound, returning -1 — for every pair
        # the ≤-threshold filter keeps, the bounded value IS the exact
        # distance, so the output is bit-identical to the unbounded
        # form (the -1 rows are exactly the rows the old filter
        # discarded)
        .withColumn("dist", F.levenshtein("pfx_a", "pfx_b", int(threshold)))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= F.lit(threshold)))
        .select("id_a", "id_b", "dist", *block_cols)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
    group_col: str | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    |A∩B|/|A| — catches a short document embedded inside a long one
    (quotes, excerpts, boilerplate-wrapped copies), where symmetric
    Jaccard stays small because the union is dominated by the long
    side. Emits both directions plus jaccard for comparison; pairs
    kept when the LARGER containment clears ``threshold``. Same
    bounded shingle equi-join core as :func:`all_pairs_jaccard`."""
    counts = _shingle_pair_counts(df, id_col, text_col, shingle_n, group_col)
    c_ab = F.col("inter").cast("double") / F.col("sz_a")
    c_ba = F.col("inter").cast("double") / F.col("sz_b")
    return counts.select(
        "id_a",
        "id_b",
        c_ab.alias("containment_a_in_b"),
        c_ba.alias("containment_b_in_a"),
        _jaccard(F.col("inter"), F.col("sz_a"), F.col("sz_b")).alias("jaccard"),
    ).filter(F.greatest(c_ab, c_ba) >= threshold)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    persist_fp: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: band the fingerprint into ``bands`` slices
    and self-join on slice equality — by pigeonhole, any pair within
    hamming distance < ``bands`` shares at least one identical slice, so
    banding is *exact* (no recall loss) for ``max_hamming ≤ bands - 1``.
    Since round 14b this is a thin wrapper over the generic
    :func:`hamming_near_dup_pairs` (the pairing is fingerprint-agnostic
    — the image perceptual hashes ride the same kernel); candidates are
    verified with the true hamming distance summed per band
    (``bit_count(slice_a XOR slice_b)`` — a few CPU instructions per
    pair, no per-bit loop, and no 62-bit whole-string conv cap).

    Scale shape: fingerprints shuffle once on (band, slice); the
    quadratic blow-up is bounded per bucket, exactly like MinHash-LSH
    but with zero false negatives inside the radius.
    """
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    # both sides of the band self-join scan the fingerprints; the table
    # is flat (id + bitstring) so its columnar cache is near-free and
    # saves the md5-array signing from running twice. NOTE: the cache
    # entry lives until the session ends (Spark's CacheManager holds it);
    # callers looping over many corpora should pass persist_fp=False or
    # checkpoint fingerprints to storage themselves.
    fp = simhash_fingerprints(df, id_col, text_col, bits)
    if persist_fp:
        fp = fp.persist()
    return hamming_near_dup_pairs(fp, id_col, "simhash", bits, bands, max_hamming)


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Multi-index Hamming pairing over ANY precomputed fixed-width
    '0'/'1' fingerprint column (SimHash, aHash/dHash perceptual image
    hashes, audio chromaprints): band the bitstring into ``bands``
    equal slices and self-join on slice equality — by pigeonhole, any
    pair within hamming distance < ``bands`` shares at least one
    identical slice, so candidate generation is *exact* (zero false
    negatives) for ``max_hamming ≤ bands − 1``, never all-pairs.
    Candidates are verified with the true distance computed as the SUM
    of per-band ``bit_count(conv(slice_a) XOR conv(slice_b))`` — each
    band parses into its own signed long, so (unlike a whole-string
    ``conv``) fingerprints up to 62·bands bits are exact; a 64-bit
    image hash fits with room to spare.

    Returns (id_a, id_b, hamming) with ``id_a < id_b``, distance
    ``≤ max_hamming``. Scale shape: fingerprints shuffle once on
    (band, slice); the quadratic blow-up is bounded per bucket — the
    multi-index-hashing structure of Norouzi et al. (CVPR'12)
    expressed as one equi-join.
    """
    if max_hamming >= bands:
        raise ValueError("banding is only exact for max_hamming <= bands - 1")
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    if width > 62:
        raise ValueError("band width must be <= 62 bits (signed-long XOR)")
    # a fingerprint shorter/longer than `bits` (or NULL — e.g. a
    # strict=False poison row fed in unfiltered) would band-split and
    # XOR silently wrong — fail loudly instead (one JVM comparison per
    # row, negligible next to the join). The length rides a coalesce:
    # concat null-propagates, and raise_error(NULL) aborts with a
    # useless '[USER_RAISED_EXCEPTION] null'.
    checked = F.when(F.length(hash_col) == bits, F.col(hash_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"hamming_near_dup_pairs: expected a {bits}-char "),
                F.lit("fingerprint, got length "),
                F.coalesce(F.length(hash_col).cast("string"), F.lit("NULL")),
            )
        )
    )
    slices = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring(hash_col, b * width + 1, width).alias("sl"),
        )
        for b in range(bands)
    ]
    banded = df.select(
        F.col(id_col), checked.alias(hash_col), F.explode(F.array(*slices)).alias("b")
    ).select(id_col, hash_col, F.col("b.band").alias("band"), F.col("b.sl").alias("sl"))
    a, b = banded.alias("a"), banded.alias("b")

    def band_long(side: str, k: int):
        return F.conv(
            F.substring(F.col(f"{side}.{hash_col}"), k * width + 1, width), 2, 10
        ).cast("long")

    hamming = sum(
        F.bit_count(band_long("a", k).bitwiseXOR(band_long("b", k)))
        for k in range(bands)
    ).cast("long")
    # hamming is computed and filtered BEFORE the cross-band dedup: the
    # distinct then runs over (id_a, id_b, hamming) triples of surviving
    # pairs only, instead of shuffling two fingerprints per raw band
    # collision (on a self-similar corpus that is ~4× the rows at ~10×
    # the bytes)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sl") == F.col("b.sl"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Term-frequency-weighted SimHash, computed entirely map-side: the
    per-token md5 is materialized ONCE into an array column (a lambda
    referencing an outer expression would re-run it per aggregate), then
    each bit is an ``aggregate`` walk summing ±1 weights — the high bit
    of hex nibble j of md5(token), identical on any engine, no 64-bit
    unsigned arithmetic. Zero shuffle: the aggregation never leaves the
    row (the explode→groupBy formulation shuffles every token).

    Docs with no tokens are filtered (the exploded formulation — and the
    oracle's ``unnest`` — produce no row for them)."""
    ws = tokens(text_col)
    md5s = df.select(
        F.col(id_col), F.transform(ws, lambda t: F.md5(t)).alias("__md5s")
    ).filter(F.size("__md5s") > 0)

    # The whole bits-wide fingerprint as ONE parsed SQL expression: the
    # Python-API formulation pays a py4j round-trip per Column object
    # (~5 per lambda-built aggregate × 32 bits of pure driver latency);
    # one string parses JVM-side in a single call.
    digits = ", ".join(f"'{d}'" for d in HEX_HIGH)

    def bit_sum(j: int) -> str:
        return (
            "aggregate(__md5s, 0, (acc, h) -> acc + "
            f"(CASE WHEN substring(h, {j + 1}, 1) IN ({digits}) THEN 1 ELSE -1 END))"
        )

    bit_chars = ",".join(
        f"(CASE WHEN {bit_sum(j)} > 0 THEN '1' ELSE '0' END)" for j in range(bits)
    )
    return md5s.select(F.col(id_col), F.expr(f"concat({bit_chars})").alias("simhash"))


def span_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    stride: int = 4,
    boiler_docs: int = 2,
    dup_max: float = 0.5,
) -> DataFrame:
    """Corpus-wide SPAN-level exact dedup — the paragraph-dedup stage of
    C4/CCNet/Dolma-style pipelines, sitting between exact-doc dedup and
    near-dup doc detection: a doc that is mostly token-spans already
    seen in EARLIER docs (or spans shared across many docs, i.e.
    boilerplate) is flagged even when no single whole-doc duplicate
    exists.

    Per doc: ``n_spans``, ``n_dup_spans`` (spans whose hash first
    appeared in a smaller doc_id — keep-first policy), ``n_boiler_spans``
    (hash present in > ``boiler_docs`` distinct docs), ``dup_ratio``,
    and ``keep`` (dup_ratio ≤ ``dup_max``).

    Scale shape: span extraction is map-only array expressions (the
    chunking machinery — sequence/posexplode/slice, no Python); spans
    travel as md5 hashes, never bodies. One shuffle builds per-hash
    stats (map-side partial min/countDistinct); the join back to span
    occurrences is an equi-join on the SAME hash key, so with AQE the
    exchange is reused and skewed boilerplate hashes are AQE-split. No
    collects, no windows over the whole corpus.
    """
    w = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__w"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("__w") - F.lit(n - 1), F.lit(1)), F.lit(stride)
    )
    sp = w.select(
        F.col(id_col), F.explode(starts).alias("__start"), F.col("__w")
    ).select(
        F.col(id_col),
        F.md5(F.array_join(F.slice("__w", F.col("__start"), n), " ")).alias("__h"),
    )
    stats = sp.groupBy("__h").agg(
        F.min(id_col).alias("__first_doc"),
        F.countDistinct(id_col).alias("__n_docs"),
    )
    per = (
        sp.join(stats, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col(id_col) > F.col("__first_doc")).cast("long")).alias("n_dup_spans"),
            F.sum((F.col("__n_docs") > boiler_docs).cast("long")).alias("n_boiler_spans"),
        )
    )
    dup_ratio = F.col("n_dup_spans").cast("double") / F.col("n_spans")
    return per.select(
        F.col(id_col),
        "n_spans",
        "n_dup_spans",
        "n_boiler_spans",
        dup_ratio.alias("dup_ratio"),
        (dup_ratio <= F.lit(dup_max)).alias("keep"),
    )


def incremental_jaccard_pairs(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
    group_col: str | None = None,
    hot_cap: int | None = None,
) -> DataFrame:
    """NEW-BATCH near-dup pair finding for incremental (daily-ingest)
    dedup: emits exactly the new×new and new×old Jaccard pairs — never
    old×old, which yesterday's labeling already encodes. Feed the
    result with that labeling to graph.incremental_components and the
    merged labels equal a full-corpus recompute (the gate's oracle).

    Traffic is bounded by the NEW batch, not the corpus: old-side
    shingle rows pass a BROADCAST semi-join against the new batch's
    distinct shingles before any shuffle, so only old docs that
    actually share a shingle with today's batch ever move; their
    set sizes are likewise computed only for those candidates (at
    production scale the per-doc shingle size is a precomputed column;
    here it is re-derived map-side from the pruned candidates). The
    broadcast side is the new batch's shingle vocabulary — daily-batch
    sized by construction.

    Pair orientation: pairs are canonicalized to ``id_a < id_b``. A
    new×new pair meets once (left < right guard); a new×old pair meets
    once because old ids appear only on the left side.

    Re-ingested ids: an id present in BOTH frames (a doc re-submitted
    today) is treated as new — the old side drops it up front via a
    broadcast anti-join on the batch's ids (batch-sized, so the
    broadcast is free at daily-ingest scale). Without this a pair
    would meet via both the old and new copy and silently duplicate.

    Shared pieces: both sides are :func:`_shingle_sets` (set sizes
    carried through the explode), the join is :func:`_pair_join`, the
    aggregate :func:`_pair_counts` and the ratio :func:`_jaccard` — the
    same code as the full kernel, :func:`_shingle_pair_counts`.

    Hot-shingle guard (r15, see PAIR_HOT_CAP): the work one join key
    produces here is (old candidates sharing it) × (new docs sharing
    it) rows — in one task. Above ``hot_cap`` total docs the kernel
    counts key frequency over the (checkpointed) left side — which
    contains the new side, so a key hot on either side is caught —
    and salts those keys in :func:`_pair_join`. Below the gate the plan
    is the r14 one, untouched."""
    if hot_cap is None:
        hot_cap = PAIR_HOT_CAP
    # bounded-cost gate (see _more_rows_than): both sides small ⇒ no
    # key can be hot; a single union'd probe keeps it to one job
    guard = bool(hot_cap) and _more_rows_than(
        old.select(F.lit(1).alias("__one")).unionByName(
            new.select(F.lit(1).alias("__one"))
        ),
        hot_cap,
    )
    old = old.join(
        F.broadcast(new.select(id_col).distinct()), id_col, "left_anti"
    )
    jcols = ["shingle"] + ([group_col] if group_col else [])
    new_sets = _shingle_sets(new, id_col, text_col, shingle_n, group_col)
    old_sets = _shingle_sets(old, id_col, text_col, shingle_n, group_col)
    if guard:
        # 3 consumers below (probe, left union, right side) — one
        # tokenize pass instead of three once the guard engages
        new_sets = new_sets.localCheckpoint(eager=False)
    probe = new_sets.select(*[F.col(c) for c in jcols]).distinct()
    pruned_old = old_sets.join(F.broadcast(probe), jcols, "left_semi")
    left = pruned_old.withColumn("__new", F.lit(False)).unionByName(
        new_sets.withColumn("__new", F.lit(True))
    )
    hot, n_salt, n_part = None, 0, 0
    if guard:
        left = left.localCheckpoint(eager=False)
        hot, n_salt, n_part = _hot_keys(left, jcols, hot_cap)
    lhs = left.select(
        *[F.col(c) for c in jcols],
        F.col(id_col).alias("lid"),
        F.col("sz").alias("lsz"),
        "__new",
    )
    rhs = new_sets.select(
        *[F.col(c) for c in jcols],
        F.col(id_col).alias("rid"),
        F.col("sz").alias("rsz"),
    )
    joined = _pair_join(lhs, rhs, jcols, "lid", hot, n_salt, n_part)
    raw = joined.filter(
        (~F.col("__new")) | (F.col("lid") < F.col("rid"))
    ).filter(F.col("lid") != F.col("rid"))
    lid_first = F.col("lid") < F.col("rid")
    counts = _pair_counts(
        raw.select(
            F.least("lid", "rid").alias("id_a"),
            F.greatest("lid", "rid").alias("id_b"),
            F.when(lid_first, F.col("lsz")).otherwise(F.col("rsz")).alias("sz_a"),
            F.when(lid_first, F.col("rsz")).otherwise(F.col("lsz")).alias("sz_b"),
        )
    )
    jaccard = _jaccard(F.col("inter"), F.col("sz_a"), F.col("sz_b"))
    return counts.select("id_a", "id_b", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def line_dedup_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_doc_frac_20th: int = 1,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal (round 11): drop
    every line that appears in at least ``min_doc_frac_20th``/20 of the
    corpus's documents (default 1/20 = 5%) — the navbars, cookie
    banners and footers a crawl repeats on every page — and reassemble
    each document from its surviving lines in original order.

    Returns (id, n_lines, n_dropped, cleaned_chars, cleaned_text).

    Scale shape: lines explode map-side and are hashed BEFORE the
    frequency exchange (the shuffle carries (line_sha256, doc_id), not
    line text); the corpus size rides a broadcast one-row aggregate
    (no driver collect, the whole plan stays lazy); the boilerplate
    set — lines frequent across documents — is inherently tiny
    relative to the corpus, so the drop join broadcasts. A 100 TB
    corpus shuffles id+hash pairs once and never moves document text
    between executors; reassembly groups each document's own lines,
    which co-reside with their doc after the anti-join.

    Threshold arithmetic is integer (``(n + 19) // 20`` for the 5%
    default) so both engines agree exactly — never ``ceil(0.05 * n)``,
    whose double rounding is a parity trap.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__idx", "__line"),
    ).withColumn("__lh", F.sha2("__line", 256))
    tot = df.agg(F.count(F.lit(1)).alias("__n"))
    denom = 20 // min_doc_frac_20th
    freq = (
        lines.groupBy("__lh")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .crossJoin(F.broadcast(tot))
        .filter(
            F.col("__nd")
            >= F.floor((F.col("__n") + F.lit(denom - 1)) / F.lit(denom)).cast("long")
        )
        .select("__lh")
    )
    kept = lines.join(F.broadcast(freq), "__lh", "left_anti")
    n_lines = F.size(F.split(F.col(text_col), "\n")).alias("n_lines")
    originals = df.select(F.col(id_col), n_lines)
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("cleaned_text"),
    )
    return (
        originals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.length(F.coalesce(F.col("cleaned_text"), F.lit("")))
            .cast("long")
            .alias("cleaned_chars"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )
