"""Unit tests: dedup / similarity / text / multimodal operators."""

import hashlib

import pytest
from pyspark.sql import functions as F

from lfb_data_warehouse_spark.functions.text import bpe_tokens, tokens
from lfb_data_warehouse_spark.operators.dedup import (
    all_pairs_jaccard,
    exact_dup_groups,
    minhash_near_dups,
    simhash_fingerprints,
    simhash_near_dup_pairs,
)
from lfb_data_warehouse_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    resize_image,
    sample_frames,
)
from lfb_data_warehouse_spark.operators.similarity import (
    cosine_pairs,
    cosine_topk,
    cosine_topk_np,
    ivf_assign,
    ivf_topk,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "completely different words appear in this one"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = exact_dup_groups(docs, "doc_id", "text").collect()
    by_survivor = {r["survivor_id"]: r["dup_count"] for r in groups}
    assert by_survivor[1] == 2  # docs 1 and 4 identical
    assert by_survivor[2] == 1 and by_survivor[3] == 1


def test_minhash_finds_near_dups(docs):
    pairs = minhash_near_dups(
        docs, "doc_id", "text", shingle_n=2, num_hashes=8, bands=4, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in got  # exact dup always collides (jaccard 1.0)
    # the near-dup pair shares 7/9 bigrams = 0.78
    assert (1, 2) in got or (2, 4) in got


def test_jaccard_exact_values(docs):
    pairs = all_pairs_jaccard(docs, "doc_id", "text", shingle_n=2, threshold=0.1)
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert vals[(1, 4)] == 1.0
    assert abs(vals[(1, 2)] - 7 / 9) < 1e-12


def test_simhash_properties(docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs, "doc_id", "text").collect()}
    assert fps[1] == fps[4]  # identical text → identical fingerprint
    assert len(fps[1]) == 32 and set(fps[1]) <= {"0", "1"}
    ham_12 = sum(a != b for a, b in zip(fps[1], fps[2]))
    ham_13 = sum(a != b for a, b in zip(fps[1], fps[3]))
    assert ham_12 < ham_13  # near-dup is closer than unrelated doc


VECS = [
    (0, [1.0, 0.0, 0.0], 0),
    (1, [0.99, 0.1, 0.0], 0),
    (2, [0.0, 1.0, 0.0], 1),
    (3, [0.0, 0.95, 0.3], 1),
    (4, [-1.0, 0.0, 0.0], 2),
]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_exact(emb):
    out = cosine_topk(emb, "vec_id", "embedding", probe_ids=[0], k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]
    assert out[0]["score"] > 0.99


def test_cosine_pairs_threshold(emb):
    pairs = {(r["id_a"], r["id_b"]) for r in cosine_pairs(emb, "vec_id", "embedding", 0.9).collect()}
    assert pairs == {(0, 1), (2, 3)}


def test_ivf_assign_matches_labels(emb):
    out = ivf_assign(emb, "vec_id", "embedding", "label").collect()
    agree = {r["vec_id"]: r["assigned_label"] == r["label"] for r in out}
    assert all(agree.values())  # tight synthetic clusters assign home


def test_numpy_path_agrees_with_exact(emb):
    ex = cosine_topk(emb, "vec_id", "embedding", probe_ids=[0, 2], k=2)
    np_ = cosine_topk_np(emb, "vec_id", "embedding", probe_ids=[0, 2], k=2)
    ex_ids = {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in ex.collect()}
    np_ids = {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in np_.collect()}
    assert ex_ids == np_ids


def test_simhash_near_dup_pairs(docs):
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", bits=32, bands=4, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 4)] == 0  # identical text → hamming 0, found via any band
    assert all(h <= 3 for h in got.values())


def test_simhash_banding_guard(docs):
    with pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, "doc_id", "text", bands=4, max_hamming=4)


def test_edit_distance_pairs_blocked(spark):
    """Blocked Levenshtein near-dups (round 13): single-character
    OCR-style edits pair with their exact distance, blocking excludes
    cross-block candidates even at distance 0 (blocking is the
    contract, not an approximation), the id_a < id_b canonical order
    dedupes the symmetric pair, and the plan stays a block-key
    equi-join — no cartesian product."""
    from lfb_data_warehouse_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "the quick brown fox", "en"),
        (2, "the quick brovn fox", "en"),   # 1 substitution from doc 1
        (3, "the quick brown fox", "de"),   # identical text, other block
        (4, "completely different text!", "en"),
        (5, "the quick brown ox", "en"),    # 1 deletion from doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = edit_distance_pairs(
        df, "doc_id", "text", block_cols=["lang"], prefix_len=30, threshold=3
    )
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in out.collect()}
    assert got == {(1, 2): 1, (1, 5): 1, (2, 5): 2}
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan
    # an empty block key is refused, not silently cartesian
    with pytest.raises(ValueError, match="blocking column"):
        edit_distance_pairs(df, "doc_id", "text", [], 30, 3)


def test_edit_distance_ascii_fold_cross_engine(spark):
    """ASCII fold (ADVICE r13 medium): Spark's levenshtein is
    codepoint-based, DuckDB's byte-based — levenshtein('café','cafe')
    is 1 vs 2, so unfolded non-ASCII text flips pair membership near
    the threshold depending on who computes. With the fold (non-ASCII
    codepoint → '?', BEFORE the prefix cut) both engines score the
    same pure-ASCII strings and must emit identical pair sets."""
    import duckdb

    from lfb_data_warehouse_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "café au lait, s'il vous plaît", "fr"),
        (2, "cafe au lait, s'il vous plait", "fr"),  # accents dropped
        (3, "café au lait, s'il vous plaît!", "fr"),
        (4, "\U0001F600 smiley prefix café", "fr"),  # astral codepoint
        (5, "? smiley prefix cafe", "fr"),
        (6, "völlig anderer text hier über alles", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = edit_distance_pairs(
        df, "doc_id", "text", block_cols=["lang"], prefix_len=20, threshold=3
    )
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in out.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?)", rows)
    want = {
        (ia, ib): dist
        for ia, ib, dist in con.execute(
            r"""
            WITH p AS (SELECT doc_id, lang,
                substr(regexp_replace(text, '[^\x00-\x7F]', '?', 'g'),
                       1, 20) AS pfx FROM d)
            SELECT a.doc_id, b.doc_id, levenshtein(a.pfx, b.pfx)
            FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE abs(length(a.pfx) - length(b.pfx)) <= 3
              AND levenshtein(a.pfx, b.pfx) <= 3
            """
        ).fetchall()
    }
    assert got == want and (1, 2) in got  # the café/cafe pair survives
    assert (4, 5) in got  # astral emoji folds to one '?', distance 0
    # signal guard: two UNRELATED non-Latin documents fold to
    # near-uniform '?' prefixes — they must be EXCLUDED, not reported
    # as distance-0 near-duplicates (the mass-collapse failure mode)
    zh = [
        (10, "中文文档第一 " * 5, "zh"),
        (11, "完全不同的内容 " * 5, "zh"),
        (12, "ascii doc one two three", "zh"),
        (13, "ascii doc one two四three", "zh"),  # 1 CJK char folds, still >50% signal
    ]
    zdf = spark.createDataFrame(zh, "doc_id long, text string, lang string")
    zgot = {(r["id_a"], r["id_b"]) for r in edit_distance_pairs(
        zdf, "doc_id", "text", block_cols=["lang"], prefix_len=20, threshold=6
    ).collect()}
    assert (10, 11) not in zgot  # guarded out, not distance-0 "dups"
    assert (12, 13) in zgot      # mostly-ASCII docs still score


def test_ivf_topk_recall_within_probed_lists(emb):
    # nprobe covering all 3 centroids makes IVF equal to brute force
    full = ivf_topk(emb, "vec_id", "embedding", "label", probe_ids=[0], k=2, nprobe=3)
    brute = cosine_topk(emb, "vec_id", "embedding", probe_ids=[0], k=2)
    assert [
        (r["rank"], r["neighbor_id"]) for r in sorted(full.collect(), key=lambda r: r["rank"])
    ] == [(r["rank"], r["neighbor_id"]) for r in sorted(brute.collect(), key=lambda r: r["rank"])]
    # nprobe=1: only the home list (label 0 → vectors {0,1}) is searched
    near = ivf_topk(emb, "vec_id", "embedding", "label", probe_ids=[0], k=2, nprobe=1)
    assert {r["neighbor_id"] for r in near.collect()} == {1}


def test_ivf_assign_accepts_string_labels(emb):
    # label_col is any orderable type, not just numeric: the argmax
    # tiebreak must not arithmetically negate the label (ANSI UnaryMinus
    # rejects strings)
    from pyspark.sql import functions as F

    named = emb.withColumn("label", F.concat(F.lit("c"), F.col("label").cast("string")))
    out = ivf_assign(named, "vec_id", "embedding", "label").collect()
    assert all(r["assigned_label"] == r["label"] for r in out)


@pytest.mark.parametrize(
    "extra, survivors",
    [
        # NULL label: trains no centroid, but the row is assigned by its
        # vector; as 0's exact duplicate it is dropped
        ([(5, [1.0, 0.0, 0.0], None)], {0: 0, 2: 1, 3: 1, 4: 2}),
        # NULL vector: nothing proves it a duplicate, so it survives with
        # a NULL assigned_label
        ([(6, None, 1)], {0: 0, 2: 1, 3: 1, 4: 2, 6: None}),
    ],
    ids=["null_label", "null_vector"],
)
def test_semantic_dedup_null_inputs(emb, extra, survivors):
    """SemDeDup degrades deterministically on NULL inputs instead of
    raising. 1 is dropped in every case: cosine 0.995 to 0 in the same
    cluster."""
    from lfb_data_warehouse_spark.operators.similarity import semantic_dedup

    corpus = emb.unionByName(emb.sparkSession.createDataFrame(extra, emb.schema))
    out = semantic_dedup(corpus, "vec_id", "embedding", "label", threshold=0.99, dim=3)
    assert {r["vec_id"]: r["assigned_label"] for r in out.collect()} == survivors


def test_label_centroids_mean_over_non_null_vectors(spark):
    """A NULL vector counts toward no centroid: label 0's mean is its one
    vector, not half of it. Label 1 has only a NULL vector; under ANSI
    mode it yields NULL components, not a division by zero."""
    from lfb_data_warehouse_spark.operators.similarity import label_centroids

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0], 0), (1, None, 0), (2, None, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r["centroid_label"]: (r["cq"], r["cnorm"])
        for r in label_centroids(emb, "vec_id", "embedding", "label", dim=3).collect()
    }
    assert got == {0: ([10000, 0, 0], 10000**2), 1: ([None, None, None], None)}


def test_ivf_persisted_index_search_matches_inline(emb, tmp_path):
    # ivf_build + parquet round-trip + ivf_search == the inline ivf_topk:
    # the persisted-index path (the production shape whose crossover
    # table is in BASELINE.md round 2) must return identical results
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        quantize,
    )

    inline = ivf_topk(emb, "vec_id", "embedding", "label", probe_ids=[0, 2], k=2, nprobe=2)
    inv, cents = ivf_build(emb, "vec_id", "embedding", "label")
    inv.write.mode("overwrite").partitionBy("assigned_label").parquet(str(tmp_path / "inv"))
    cents.write.mode("overwrite").parquet(str(tmp_path / "cents"))
    spark = emb.sparkSession
    probes = quantize(
        emb.filter(F.col("vec_id").isin([0, 2])), "vec_id", "embedding"
    ).select(
        F.col("vec_id").alias("probe_id"), F.col("q").alias("pq"), F.col("norm").alias("pnorm")
    )
    persisted = ivf_search(
        spark.read.parquet(str(tmp_path / "inv")),
        spark.read.parquet(str(tmp_path / "cents")),
        probes,
        k=2,
        nprobe=2,
    )
    key = lambda rows: sorted((r["probe_id"], r["rank"], r["neighbor_id"]) for r in rows)  # noqa: E731
    assert key(inline.collect()) == key(persisted.collect())


def test_bpe_tokens_contractions_and_digits(spark):
    df = spark.createDataFrame([("It's 2024, don't panic!",)], "text string")
    out = df.select(bpe_tokens("text").alias("t"), tokens("text").alias("w")).collect()[0]
    assert list(out["t"]) == ["it", "'s", " 2024", ",", " don", "'t", " panic", "!"]
    assert len(out["w"]) == 4  # whitespace tokens for comparison


def test_multimodal_stub_features(docs):
    feats = extract_features(attach_payload(docs, "doc_id", "text"))
    r = {f["doc_id"]: f for f in feats.collect()}[1]
    raw = DOCS[0][1].encode()
    assert r["n_bytes"] == len(raw)
    assert r["payload_sha256"] == hashlib.sha256(raw).hexdigest()
    assert r["fake_width"] == len(raw) % 64 + 1
    assert r["media_type"] == "text/plain"


def test_box_downscale_exact_means():
    from lfb_data_warehouse_spark.operators.multimodal import box_downscale

    # 4x4 gray ramp, factor 2: each output pixel = floor mean of its block
    raster = bytes(range(16))
    out, w, h = box_downscale(raster, 4, 4, 1, 2)
    assert (w, h) == (2, 2)
    assert list(out) == [(0 + 1 + 4 + 5) // 4, (2 + 3 + 6 + 7) // 4,
                         (8 + 9 + 12 + 13) // 4, (10 + 11 + 14 + 15) // 4]
    # odd dims crop the trailing row/col (5x3 -> 2x1)
    raster = bytes(range(15))
    out, w, h = box_downscale(raster, 5, 3, 1, 2)
    assert (w, h) == (2, 1)
    # RGB: channels stay independent
    rgb = bytes((10 * p + c) % 256 for p in range(4) for c in range(3))
    out, w, h = box_downscale(rgb, 2, 2, 3, 2)
    assert (w, h) == (1, 1)
    assert list(out) == [(0 + 10 + 20 + 30) // 4, (1 + 11 + 21 + 31) // 4,
                         (2 + 12 + 22 + 32) // 4]


def test_resize_image_full_cycle(spark):
    """decode -> box downscale -> PNG re-encode -> decode: the emitted
    stats come from the re-encoded payload, and the payload itself is a
    decodable PNG holding exactly the box means."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        box_downscale,
        png_decode_pixels,
        png_pixel_bytes,
    )

    w, h = 10, 6
    raster = bytes((3 * x + 5 * y) % 256 for y in range(h) for x in range(w))
    media = spark.createDataFrame(
        [(1, bytearray(png_pixel_bytes(w, h, raster, 0)))],
        "doc_id long, payload binary",
    )
    r = resize_image(media, factor=2).collect()[0]
    want, ow, oh = box_downscale(raster, w, h, 1, 2)
    assert (r["in_width"], r["in_height"], r["out_width"], r["out_height"]) == (w, h, ow, oh)
    assert r["out_px_sum"] == sum(want)
    assert r["out_first_px"] == want[0] and r["out_last_px"] == want[-1]
    # the emitted payload is itself a valid PNG of the box means
    back = png_decode_pixels(bytes(r["payload"]))
    assert back["raster"] == want
    # poison safety: junk payload -> NULL-stats row under strict=False
    junk = spark.createDataFrame(
        [(9, bytearray(b"junk"))], "doc_id long, payload binary"
    )
    nul = resize_image(junk, factor=2, strict=False).collect()[0]
    assert nul["doc_id"] == 9 and nul["out_px_sum"] is None


def test_resize_image_jpeg_input(spark):
    """Media-agnostic resize: a grayscale JPEG payload goes through the
    entropy decoder, the box filter, and a PNG re-encode; a color JPEG
    (subsampled planes would silently drop chroma) is refused."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_pixel_bytes,
        jpeg_planes_bytes,
    )
    from lfb_data_warehouse_spark.operators.multimodal import (
        box_downscale,
        png_decode_pixels,
    )

    d = 5
    g = bytes(
        (11 * (x // 8) + 23 * (y // 8) + 7 * d) % 256
        for y in range(16)
        for x in range(24)
    )
    media = spark.createDataFrame(
        [(1, bytearray(jpeg_pixel_bytes(24, 16, g)))], "doc_id long, payload binary"
    )
    r = resize_image(media, 2).collect()[0]
    want, ow, oh = box_downscale(g, 24, 16, 1, 2)
    assert (r["out_width"], r["out_height"], r["channels"]) == (ow, oh, 1)
    assert r["out_px_sum"] == sum(want)
    assert png_decode_pixels(bytes(r["payload"]))["raster"] == want
    # color JPEG refused (strict) / NULL row (lenient)
    planes = [g, g, g]
    color = spark.createDataFrame(
        [(2, bytearray(jpeg_planes_bytes(24, 16, planes)))],
        "doc_id long, payload binary",
    )
    with _pytest.raises(Exception):
        resize_image(color, 2).collect()
    nul = resize_image(color, 2, strict=False).collect()[0]
    assert nul["out_px_sum"] is None


def test_sample_frames_parses_real_container(spark):
    """The sampler must walk chunk structure to frame boundaries and
    decode each kept frame's raster."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        png_pixel_bytes,
        split_png_stream,
    )

    w, h, n_frames = 6, 4, 5
    frames = [
        bytes((3 * x + 5 * y + 11 * f) % 256 for y in range(h) for x in range(w))
        for f in range(n_frames)
    ]
    stream = b"".join(png_pixel_bytes(w, h, fr, 0) for fr in frames)
    assert len(split_png_stream(stream)) == n_frames
    media = spark.createDataFrame(
        [(1, bytearray(stream))], "doc_id long, payload binary"
    )
    rows = sorted(sample_frames(media, every_n=2).collect(), key=lambda r: r["frame_index"])
    assert [r["frame_index"] for r in rows] == [0, 2, 4]
    for r in rows:
        fr = frames[r["frame_index"]]
        assert (r["n_frames"], r["width"], r["height"]) == (n_frames, w, h)
        assert r["px_sum"] == sum(fr)
        assert r["first_px"] == fr[0] and r["last_px"] == fr[-1]
    # a stream whose final frame lost its IEND raises (strict) /
    # NULLs (lenient) — cutting only into the trailing CRC would be
    # tolerated, since the codec never verifies CRCs
    bad = spark.createDataFrame(
        [(2, bytearray(stream[:-15]))], "doc_id long, payload binary"
    )
    nul = sample_frames(bad, every_n=2, strict=False).collect()
    assert len(nul) == 1 and nul[0]["frame_index"] is None


def test_center_crop_stats():
    """Hand-checked CenterCrop framing: floor offsets on odd remainders
    (torchvision convention), interleaved channel addressing, the
    square case (identity), portrait vs landscape, and the full-cycle
    gate path (resize_image emits crop stats from the ORIGINAL decoded
    pixels, not the downscaled ones)."""
    from lfb_data_warehouse_spark.operators.multimodal import center_crop_stats

    # landscape 5x3 mono: side 3, x0=(5-3)//2=1, y0=0
    r = [10 * y + x for y in range(3) for x in range(5)]
    assert center_crop_stats(r, 5, 3, 1) == (
        3, sum(10 * y + x for y in range(3) for x in (1, 2, 3)), 1, 23,
    )
    # odd remainder floors: 6x3 -> x0=(6-3)//2=1 (not 1.5)
    r6 = [10 * y + x for y in range(3) for x in range(6)]
    assert center_crop_stats(r6, 6, 3, 1)[2] == 1  # first px at x=1
    # portrait 3x5 RGB interleaved: side 3, y0=1; first = pixel (0,1)
    # channel 0, last = pixel (2,3) channel 2
    rgb = [
        100 * y + 10 * x + c for y in range(5) for x in range(3)
        for c in range(3)
    ]
    cs, tot, first, last = center_crop_stats(rgb, 3, 5, 3)
    assert (cs, first, last) == (3, 100, 322)
    assert tot == sum(
        100 * y + 10 * x + c for y in (1, 2, 3) for x in range(3)
        for c in range(3)
    )
    # square: crop is the whole image
    sq = list(range(16))
    assert center_crop_stats(sq, 4, 4, 1) == (4, sum(sq), 0, 15)


def test_vad_segment_counts():
    """Hand-checked VAD framing: window crop, the strict >= boundary,
    segment/run accounting across voiced islands, and channel folding
    (a stereo frame contributes both channels' |samples| to its
    window's energy)."""
    from lfb_data_warehouse_spark.operators.multimodal import vad_segment_counts

    loud, quiet = [600] * 4, [10] * 4  # windows of 4 mono frames
    sig = loud + quiet + loud + loud + quiet + loud
    assert vad_segment_counts(sig, 1, window=4, threshold=500) == (6, 2, 3, 2)
    # trailing partial window cropped: 3 extra frames change nothing
    assert vad_segment_counts(sig + [9999] * 3, 1, 4, 500) == (6, 2, 3, 2)
    # boundary: sum == threshold*window*channels is VOICED (>=)
    assert vad_segment_counts([500] * 4, 1, 4, 500) == (1, 0, 1, 1)
    assert vad_segment_counts([499] * 4, 1, 4, 500) == (1, 1, 0, 0)
    # stereo: 2 channels, window of 2 frames = 4 samples per window;
    # a loud left channel can carry a quiet right one past the gate
    st = [900, 200, 900, 200] + [100, 100, 100, 100]
    assert vad_segment_counts(st, 2, window=2, threshold=500) == (2, 1, 1, 1)
    # all silent / empty
    assert vad_segment_counts([0] * 8, 1, 4, 500) == (2, 2, 0, 0)
    assert vad_segment_counts([], 1, 4, 500) == (0, 0, 0, 0)


def test_avi_scene_cut_detection(spark):
    """Temporal leg of the AVI stats pass: diff_prev is the exact L1
    difference between consecutive DECODED frames (NULL on frame 0)
    and is_scene_cut fires iff the mean absolute difference strictly
    exceeds 64 — a static-ish frame pair stays below, a hard cut
    lands above, and the boundary case (mean exactly 64) stays False
    (strict inequality pinned on both engines)."""
    from lfb_data_warehouse_spark.operators.avicodec import avi_mjpeg_bytes
    from lfb_data_warehouse_spark.operators.jpegcodec import jpeg_pixel_bytes
    from lfb_data_warehouse_spark.operators.multimodal import decode_avi_stats

    w, h = 8, 8  # one constant tile per frame → exact decode
    vals = [100, 110, 240, 176]  # diffs: 10 (no cut), 130 (cut), 64 (edge)
    blob = avi_mjpeg_bytes(
        w, h, [jpeg_pixel_bytes(w, h, bytes([v] * 64)) for v in vals]
    )
    media = spark.createDataFrame(
        [(3, bytearray(blob))], "doc_id long, payload binary"
    )
    rows = sorted(
        decode_avi_stats(media).collect(), key=lambda r: r["frame_idx"]
    )
    assert [r["diff_prev"] for r in rows] == [None, 640, 8320, 4096]
    assert [r["is_scene_cut"] for r in rows] == [None, False, True, False]


def test_sample_frames_avi_decodes_only_kept(spark):
    """Round 14: the sampler dispatches REAL AVI containers through
    the RIFF walk and — the property that matters at 100 TB of video
    — entropy-decodes ONLY the kept frames: corrupting an odd
    (skipped) frame's JPEG payload leaves every_n=2 sampling intact,
    while the decode-everything path (avi_decode_frames) raises on
    the same bytes."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.avicodec import (
        avi_decode_frames,
        avi_mjpeg_bytes,
    )
    from lfb_data_warehouse_spark.operators.jpegcodec import jpeg_pixel_bytes

    w, h, n_frames = 16, 8, 4
    rasters = [
        bytes((11 * (x // 8) + 23 * (y // 8) + 41 * f) % 256
              for y in range(h) for x in range(w))
        for f in range(n_frames)
    ]
    blob = avi_mjpeg_bytes(w, h, [jpeg_pixel_bytes(w, h, r) for r in rasters])
    media = spark.createDataFrame(
        [(7, bytearray(blob))], "doc_id long, payload binary"
    )
    rows = sorted(
        sample_frames(media, every_n=2).collect(), key=lambda r: r["frame_index"]
    )
    assert [r["frame_index"] for r in rows] == [0, 2]
    for r in rows:
        fr = rasters[r["frame_index"]]
        assert (r["n_frames"], r["width"], r["height"]) == (n_frames, w, h)
        assert (r["px_sum"], r["first_px"], r["last_px"]) == (
            sum(fr), fr[0], fr[-1],
        )
    # poison frame 1 (skipped by every_n=2) by stomping its SOI: the
    # walk still sees a well-formed chunk, the JPEG no longer decodes
    # — the sampler must not notice; the full decode must
    b = bytearray(blob)
    p = b.find(b"00dc")          # frame 0's chunk header (movi precedes idx1)
    p = b.find(b"00dc", p + 4)   # frame 1
    b[p + 8 : p + 10] = b"\x00\x00"
    poisoned = bytes(b)
    with _pytest.raises(ValueError):
        avi_decode_frames(poisoned)
    media2 = spark.createDataFrame(
        [(8, bytearray(poisoned))], "doc_id long, payload binary"
    )
    rows2 = sorted(
        sample_frames(media2, every_n=2).collect(),
        key=lambda r: r["frame_index"],
    )
    assert [r["frame_index"] for r in rows2] == [0, 2]
    assert [r["px_sum"] for r in rows2] == [sum(rasters[0]), sum(rasters[2])]


def test_image_ahash_perceptual_properties(spark):
    """aHash (round 14): mean-relative — a global brightness shift
    (no wrap) leaves the 64-bit hash unchanged; moving content
    between cells flips bits; byte-identical images collide; the
    integer-exact threshold (64·cell > total) needs no float mean;
    non-multiple-of-8 dims refuse."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        ahash_bits,
        image_ahash,
        png_pixel_bytes,
    )

    w, h = 16, 8
    base = [(7 * x + 3 * y) % 100 for y in range(h) for x in range(w)]
    h0 = ahash_bits(base, w, h)
    assert len(h0) == 64 and set(h0) <= {"0", "1"}
    # brightness shift without wrap: same hash
    assert ahash_bits([p + 50 for p in base], w, h) == h0
    # content moved between cells: different hash
    moved = list(base)
    for y in range(h):
        for x in range(w // 2):
            moved[y * w + x] = 255
    assert ahash_bits(moved, w, h) != h0
    with _pytest.raises(ValueError, match="divisible by 8"):
        ahash_bits(base, 12, 8)
    # through the real decode path: identical PNGs collide, the
    # perturbed one does not; NULL-hash poison row in lenient mode
    blob = png_pixel_bytes(w, h, bytes(base), 0)
    blob2 = png_pixel_bytes(w, h, bytes(moved), 0)
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(blob)), (3, bytearray(blob2)),
         (4, bytearray(b"garbage"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r["ahash"]
            for r in image_ahash(media, strict=False).collect()}
    assert rows[1] == rows[2] == h0 and rows[3] != h0 and rows[4] is None


def test_image_dhash_gradient_properties(spark):
    """dHash (round 14b): the gradient family over the same cell-sum
    grid — 56 bits (7 adjacent-column comparisons × 8 rows),
    brightness-shift invariant like aHash, but sensitive to a WITHIN-
    ROW cell swap that aHash provably cannot see (both swapped cells
    stay on the same side of the global mean); byte-identical images
    collide through the real decode path."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        ahash_bits,
        dhash_bits,
        image_ahash,
        png_pixel_bytes,
    )

    w, h = 16, 8  # 2x1-pixel cells
    # cell (r, c) constant-valued: strictly increasing along each row,
    # so every gradient bit is 1 and every cell's side of the global
    # mean is unambiguous
    cellv = lambda r, c: 10 + 20 * c + r  # noqa: E731 — test-local
    base = [cellv(y, x // 2) for y in range(h) for x in range(w)]
    d0 = dhash_bits(base, w, h)
    assert d0 == "1" * 56
    a0 = ahash_bits(base, w, h)
    # brightness shift without wrap: both hashes unchanged
    assert dhash_bits([p + 60 for p in base], w, h) == d0
    # swap cell columns 5 and 6 in row 0 only: both cells are above
    # the global mean before AND after (values 110/130 vs mean ~80),
    # so aHash is blind to it — dHash flips the local gradient bits
    swapped = list(base)
    for x in range(16):
        c = x // 2
        if c == 5:
            swapped[x] = cellv(0, 6)
        elif c == 6:
            swapped[x] = cellv(0, 5)
    assert ahash_bits(swapped, w, h) == a0
    ds = dhash_bits(swapped, w, h)
    assert ds != d0 and ds[4] == "1" and ds[5] == "0" and ds[6] == "1"
    with _pytest.raises(ValueError, match="divisible by 8"):
        dhash_bits(base, 12, 8)
    # through the real decode path both hash columns ride one pass
    blob = png_pixel_bytes(w, h, bytes(base), 0)
    blob2 = png_pixel_bytes(w, h, bytes(swapped), 0)
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(blob)), (3, bytearray(blob2))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: (r["ahash"], r["dhash"])
            for r in image_ahash(media).collect()}
    assert rows[1] == rows[2] == (a0, d0)
    assert rows[3][0] == a0 and rows[3][1] == ds  # the aHash-blind dup


def test_hamming_near_dup_pairs_exact_vs_brute_force(spark):
    """The banded multi-index join must equal ground-truth all-pairs
    hamming for max_dist ≤ bands−1 (pigeonhole) — including the
    adversarial spread where the 3 differing bits land in 3 DIFFERENT
    bands (caught only through the 4th, untouched band), a distance-4
    pair that shares a band (candidate generated, then filtered), and
    64-bit hashes (past the signed-long whole-string conv cap)."""
    from lfb_data_warehouse_spark.operators.dedup import hamming_near_dup_pairs

    def flip(s, *idx):
        out = list(s)
        for i in idx:
            out[i] = "1" if out[i] == "0" else "0"
        return "".join(out)

    base = ("01" * 32)  # 64 bits, non-trivial in every band
    hashes = {
        1: base,
        2: flip(base, 3, 20, 50),    # 3 bits in bands 0/1/3 → via band 2
        3: flip(base, 0, 17, 34, 51),  # 4 bits, one per band: NO shared
        4: flip(base, 5, 6, 7, 8),   # 4 bits: shares bands 1/2/3 but
        5: base,                     # must be filtered on true distance
        6: flip(base, 63),           # last-bit edge
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in hashes.items()], "doc_id long, h string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_dup_pairs(df, "doc_id", "h", 64, 4, 3).collect()
    }
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    want = {
        (a, b): ham(hashes[a], hashes[b])
        for a in hashes
        for b in hashes
        if a < b and ham(hashes[a], hashes[b]) <= 3
    }
    assert got == want
    assert (1, 2) in got and got[(1, 5)] == 0 and got[(1, 6)] == 1
    assert (1, 3) not in got and (1, 4) not in got  # distance 4: out
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands - 1"):
        hamming_near_dup_pairs(df, "doc_id", "h", 64, 4, 4)
    with _pytest.raises(ValueError, match="divide evenly"):
        hamming_near_dup_pairs(df, "doc_id", "h", 64, 5, 3)


def test_hamming_near_dup_pairs_randomized_equivalence(spark):
    """Seeded randomized sweep: 70 hashes drawn as clusters around 12
    random centers (flip 0–6 bits each, so the population straddles
    the ≤3 radius from both sides) — the banded join must equal
    ground-truth all-pairs exactly, for two different band counts."""
    import random

    from lfb_data_warehouse_spark.operators.dedup import hamming_near_dup_pairs

    rng = random.Random(20260817)
    hashes = {}
    hid = 0
    centers = [
        "".join(rng.choice("01") for _ in range(64)) for _ in range(12)
    ]
    for c in centers:
        for _ in range(rng.randint(3, 8)):
            bits = list(c)
            for i in rng.sample(range(64), rng.randint(0, 6)):
                bits[i] = "1" if bits[i] == "0" else "0"
            hashes[hid] = "".join(bits)
            hid += 1
    df = spark.createDataFrame(
        [(k, v) for k, v in hashes.items()], "doc_id long, h string"
    )
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    for bands, k in ((4, 3), (8, 7)):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in hamming_near_dup_pairs(
                df, "doc_id", "h", 64, bands, k
            ).collect()
        }
        want = {
            (a, b): ham(hashes[a], hashes[b])
            for a in hashes
            for b in hashes
            if a < b and ham(hashes[a], hashes[b]) <= k
        }
        assert got == want, f"bands={bands}: {len(got)} vs {len(want)} pairs"
        assert len(want) > 20  # the sweep actually exercises the radius


def test_image_ahash_near_dup_gate_semantics(spark):
    """Gate-level property on the synthesized quadruples: byte-identical
    variants 0/1 pair at distance 0; the single-cell perturbation
    (variant 3) is found as a near-dup of its group's v0/v1 whenever its
    true distance ≤ 3 (the common case by construction); the
    checkerboard variant 2 (distance 19+) NEVER pairs."""
    from lfb_data_warehouse_spark.plans.datapipe_queries import image_ahash_dedup

    rows = {r["doc_id"]: r for r in
            image_ahash_dedup(spark, "/root/testdata/sf0.001").collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    found_near_v3 = 0
    for doc_id, r in rows.items():
        g, v = doc_id // 11, doc_id % 11 - 2
        ids = {u: 11 * g + 2 + u for u in range(4)}
        # in-test brute-force oracle over ALL collected hashes (aHash is
        # brightness-invariant and g→g+1 is a +7 shift, so qualifying
        # partners routinely cross groups — the banded join must agree
        # with ground truth over the whole corpus, not per group)
        partners = {
            o: ham(r["ahash"], rows[o]["ahash"])
            for o in rows
            if o != doc_id and ham(r["ahash"], rows[o]["ahash"]) <= 3
        }
        assert r["near_dup_count"] == len(partners)
        if partners:
            assert r["near_min_dist"] == min(partners.values())
            assert r["near_min_partner"] == min(partners)
        else:
            assert r["near_min_dist"] is None and r["near_min_partner"] is None
        if v == 0 and ids[1] in rows:
            # the byte-identical twin always qualifies at distance 0
            assert r["near_dup_count"] >= 1 and r["near_min_dist"] == 0
        if v == 2:
            # far variant: never pairs with its OWN group
            for u in (0, 1, 3):
                if ids[u] in rows:
                    assert ham(r["ahash"], rows[ids[u]]["ahash"]) > 3
        if v == 3 and ids[0] in rows and ham(r["ahash"], rows[ids[0]]["ahash"]) <= 3:
            found_near_v3 += 1
    assert found_near_v3 >= 3  # the within-radius case actually exercised


def test_bpe_train_learns_expected_merges(spark):
    """Hand-checked merge sequence on a tiny corpus, including the
    count-tie lexicographic break and greedy non-overlapping
    application inside repeated-pair runs."""
    from lfb_data_warehouse_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "newer newest new low")],
        "doc_id long, text string",
    )
    out = bpe_train(docs, "text", n_merges=4).collect()
    # (l,o) and (o,w) both count 6 -> tie breaks to the smaller left
    assert [(r["merged"], r["pair_count"]) for r in out] == [
        ("lo", 6), ("low", 6), ("ew", 3), ("new", 3),
    ]
    # greedy runs: 'aaaa' must merge as (aa)(aa), not (a)(aa)(a) —
    # 'aaaa' x2 and 'ab' x3: round1 merges (a,a) cnt 2*3=6 > (a,b) 3
    runs = spark.createDataFrame(
        [(1, "aaaa aaaa ab ab ab")], "doc_id long, text string"
    )
    r2 = bpe_train(runs, "text", n_merges=2).collect()
    assert (r2[0]["merged"], r2[0]["pair_count"]) == ("aa", 6)
    # after merging, each 'aaaa' is [aa, aa] -> pair (aa,aa) cnt 2,
    # while (a,b) cnt 3 wins round 2 — would be wrong if the greedy
    # application left [aa, a, a] (that yields (aa,a) cnt 2, (a,a) 2)
    assert (r2[1]["merged"], r2[1]["pair_count"]) == ("ab", 3)
    # frame-byte and overlong words are excluded up front
    weird = spark.createDataFrame(
        [(1, "ok ok \x1fbad " + "x" * 40)], "doc_id long, text string"
    )
    w = bpe_train(weird, "text", n_merges=1).collect()
    assert w[0]["merged"] == "ok" and w[0]["pair_count"] == 2


def test_bpe_encode_counts_applies_merges(spark):
    """train -> apply: per-doc subword counts reflect the learned
    merges (each merged pair removes one symbol per application)."""
    from lfb_data_warehouse_spark.operators.bpe import (
        bpe_encode_counts,
        bpe_segment_counts,
    )

    docs = spark.createDataFrame(
        [(1, "low lower low"), (2, "new newer")], "doc_id long, text string"
    )
    # after merges (l,o) and (lo,w): 'low' -> [low] (1), 'lower' ->
    # [low, e, r] (3), 'new' -> 3 chars, 'newer' -> 5 chars
    seg = {
        r["word"]: r["n_subwords"]
        for r in bpe_segment_counts(docs, "text", [("l", "o"), ("lo", "w")]).collect()
    }
    assert seg == {"low": 1, "lower": 3, "new": 3, "newer": 5}
    out = {r["doc_id"]: r for r in bpe_encode_counts(docs, "doc_id", "text", 2).collect()}
    # doc1: trained merges on THIS corpus: (l,o) cnt 4 then (lo,w) cnt 4
    assert out[1]["n_tokens"] == 3 and out[1]["n_subwords"] == 1 + 3 + 1
    assert out[2]["n_tokens"] == 2 and out[2]["n_subwords"] == 3 + 5


def test_span_dedup_stats(docs):
    from lfb_data_warehouse_spark.operators.dedup import span_dedup_stats

    out = {
        r["doc_id"]: r
        for r in span_dedup_stats(docs, "doc_id", "text", n=3, stride=3).collect()
    }
    assert len(out) == len(DOCS)
    # doc 1 is first: none of its spans can be dups of an earlier doc
    assert out[1]["n_dup_spans"] == 0 and out[1]["keep"]
    # doc 4 is an exact copy of doc 1: every span already seen -> dropped
    assert out[4]["n_dup_spans"] == out[4]["n_spans"]
    assert out[4]["dup_ratio"] == 1.0 and not out[4]["keep"]
    # doc 2 differs only in the last word: spans [1-3] and [4-6] are
    # dups, the final span [7-9] ("the lazy cat") is novel
    assert 0 < out[2]["n_dup_spans"] < out[2]["n_spans"]
    # doc 3 shares no 3-token span with anything
    assert out[3]["n_dup_spans"] == 0


def test_unigram_logprob_orders_by_commonness(spark, docs, tmp_path):
    # run the registered query against a tiny parquet dir built from DOCS
    import pyspark.sql.functions as SF

    from lfb_data_warehouse_spark.plans.datapipe_queries import text_unigram_logprob

    d = str(tmp_path / "sf")
    docs.select(
        "doc_id", "text", SF.lit("en").alias("lang"),
        SF.lit("src0").alias("source"), SF.length("text").alias("n_chars"),
    ).write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in text_unigram_logprob(spark, d).collect()}
    # docs 1 and 4 are identical: identical scores
    assert out[1]["mean_logp"] == out[4]["mean_logp"]
    # doc 3 is all corpus-rare words -> strictly less probable than doc 1
    assert out[3]["mean_logp"] < out[1]["mean_logp"]
    assert out[3]["ppl_proxy"] > out[1]["ppl_proxy"]


def test_bigram_lm_is_context_sensitive(spark, tmp_path):
    """Round 14: the interpolated bigram upgrade actually uses context
    — a held-out document with the SAME word bag as the dominant
    training sentence but a scrambled order keeps its unigram mass
    yet loses its bigram mass, so it must score strictly lower (the
    pure-unigram model this gate replaced scored both identically)."""
    import pyspark.sql.functions as SF

    from lfb_data_warehouse_spark.plans.datapipe_queries import text_unigram_logprob

    a = "the quick brown fox jumps over the lazy dog"
    b = "dog the over jumps lazy quick the brown fox"  # same bag, new order
    rows = [(i, a) for i in (1, 2, 3, 4, 6, 7)] + [(8, b), (9, a)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "sf")
    df.select(
        "doc_id", "text", SF.lit("en").alias("lang"),
        SF.lit("src0").alias("source"), SF.length("text").alias("n_chars"),
    ).write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in text_unigram_logprob(spark, d).collect()}
    # docs 8 and 9 are both held out (doc_id % 10 >= 8): 9 rides the
    # trained bigrams, 8's scrambled order falls back to unigram mass
    assert out[8]["mean_logp"] < out[9]["mean_logp"]
    assert out[9]["mean_logp"] == out[1]["mean_logp"]  # same text, same score


def test_media_codec_roundtrip():
    from lfb_data_warehouse_spark.operators.multimodal import (
        jpeg_bytes,
        parse_media,
        png_bytes,
        wav_bytes,
    )

    png = parse_media(png_bytes(300, 144, color_type=6))
    assert (png["media_type"], png["width"], png["height"], png["channels"]) == (
        "image/png", 300, 144, 4,
    )
    jpg = parse_media(jpeg_bytes(123, 77, n_components=1))
    assert (jpg["media_type"], jpg["width"], jpg["height"], jpg["channels"]) == (
        "image/jpeg", 123, 77, 1,
    )
    wav = parse_media(wav_bytes(2, 24000, 501))
    assert (wav["media_type"], wav["channels"], wav["sample_rate"], wav["n_samples"]) == (
        "audio/wav", 2, 24000, 501,
    )
    # corrupt payloads degrade to octet-stream, never raise (poison-row safety)
    for junk in (b"", b"garbage", b"\xff\xd8truncated", b"RIFFxxxxWAVE"):
        assert parse_media(junk)["media_type"] == "application/octet-stream"
    # real-world JPEG shapes: the marker scan must stop at SOS (0xDA)
    # instead of walking into entropy-coded data, treat 0xFF fill bytes
    # as padding, and skip 0xFF00-stuffed bytes — a stream whose SOS
    # precedes any SOFn degrades to octet-stream, never garbage dims
    import struct as _struct

    sos = b"\xff\xda" + _struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    entropy = b"\x12\xff\x00\x34\xff\xc0\x99\x99"  # fake SOF0 inside entropy data
    no_sof = b"\xff\xd8" + sos + entropy + b"\xff\xd9"
    assert parse_media(no_sof)["media_type"] == "application/octet-stream"
    # fill bytes (0xFFFF...) before a real SOF0 are stepped over
    sof0 = b"\xff\xc0" + _struct.pack(">H", 11) + b"\x08" + _struct.pack(">HH", 77, 123) + b"\x01" + b"\x01\x11\x00"
    padded = b"\xff\xd8" + b"\xff\xff\xff" + sof0 + sos + b"\xff\xd9"
    got = parse_media(padded)
    assert (got["media_type"], got["width"], got["height"]) == ("image/jpeg", 123, 77)


def test_media_decode_distributed(docs):
    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_media,
        synthesize_media,
    )

    out = {r["doc_id"]: r for r in decode_media(synthesize_media(docs, "doc_id")).collect()}
    assert len(out) == len(DOCS)
    # doc_id 3 -> kind 0 (PNG): width/height are functions of doc_id
    assert out[3]["media_type"] == "image/png"
    assert (out[3]["width"], out[3]["height"]) == (3 % 509 + 1, 3 % 251 + 1)
    assert out[3]["sample_rate"] is None
    # doc_id 1 -> kind 1 (JPEG), odd -> grayscale
    assert out[1]["media_type"] == "image/jpeg"
    assert out[1]["channels"] == 1
    # doc_id 2 -> kind 2 (WAV): 2 % 2 + 1 = 1 channel, rate 8000*(2%3+1)
    assert out[2]["media_type"] == "audio/wav"
    assert (out[2]["channels"], out[2]["sample_rate"]) == (1, 24000)
    assert out[2]["n_samples"] == 2 % 1000 + 1


def test_png_paeth_predictor_spec_cases():
    """PNG spec §9 filter-4 predictor: nearest of left/up/up-left to
    a + b - c, ties resolved left then up (hand-worked cases)."""
    from lfb_data_warehouse_spark.operators.multimodal import _paeth

    assert _paeth(0, 0, 0) == 0
    assert _paeth(10, 0, 0) == 10       # p=10: pa=0 wins
    assert _paeth(0, 10, 0) == 10       # p=10: pb=0 wins
    assert _paeth(10, 10, 10) == 10     # p=10: all zero -> left tie
    assert _paeth(5, 9, 7) == 7         # p=7: pa=2, pb=2, pc=0 -> up-left
    assert _paeth(3, 5, 10) == 3        # p=-2: pa=5, pb=7, pc=12 -> left
    assert _paeth(100, 50, 0) == 100    # p=150: pa=50 < pb=100 -> left


def test_png_pixel_codec_roundtrip_and_stream_shape():
    """Encode→decode round-trips the raster exactly; the encoded stream
    really cycles all five filter types and splits IDAT in two."""
    import struct as _struct
    import zlib as _zlib

    from lfb_data_warehouse_spark.operators.multimodal import (
        png_decode_pixels,
        png_pixel_bytes,
    )

    for w, h, ct in [(4, 6, 2), (7, 9, 0), (5, 8, 6), (6, 5, 4)]:
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
        raster = bytes((i * 31 + 7) % 256 for i in range(w * h * ch))
        payload = png_pixel_bytes(w, h, raster, ct)
        out = png_decode_pixels(payload)
        assert out["raster"] == raster
        assert (out["width"], out["height"], out["channels"]) == (w, h, ch)
        # chunk walk: exactly two IDATs (multi-chunk concat exercised)
        i, idats, comp = 8, 0, b""
        while i + 8 <= len(payload):
            ln = _struct.unpack(">I", payload[i : i + 4])[0]
            if payload[i + 4 : i + 8] == b"IDAT":
                idats += 1
                comp += payload[i + 8 : i + 8 + ln]
            i += 12 + ln
        assert idats == 2
        # filter bytes cycle y % 5 over the decompressed scanlines
        data = _zlib.decompress(comp)
        stride = w * ch
        fts = [data[y * (stride + 1)] for y in range(h)]
        assert fts == [y % 5 for y in range(h)]


def test_png_decode_rejects_unsupported_and_corrupt():
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        _PNG_SIG,
        _chunk,
        png_bytes,
        png_decode_pixels,
        png_pixel_bytes,
    )

    # header-only PNG (no IDAT) must raise, not mis-decode
    with _pytest.raises(ValueError):
        png_decode_pixels(png_bytes(8, 8))
    # palette (color type 3) and 16-bit depth are out of scope
    pal = _PNG_SIG + _chunk(b"IHDR", _struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0))
    with _pytest.raises(ValueError):
        png_decode_pixels(pal)
    deep = _PNG_SIG + _chunk(b"IHDR", _struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0))
    with _pytest.raises(ValueError):
        png_decode_pixels(deep)
    # truncated IDAT payload
    good = png_pixel_bytes(4, 4, bytes(range(48)), 2)
    with _pytest.raises(ValueError):
        png_decode_pixels(good[: len(good) - 20] )
    with _pytest.raises(ValueError):
        png_decode_pixels(b"not a png at all")


def test_png16_roundtrip():
    """16-bit PNG: unfilter at bpp = 2*channels, unpack big-endian u16
    samples — values over 255 prove no 8-bit truncation; Adam7
    composes; the resize tier box-filters at SAMPLE resolution (see
    test_resize_16bit_samples), never by averaging raster bytes."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        png_decode_pixels,
        png_pixel16_bytes,
    )

    for w, h, ct, il in [(5, 4, 0, False), (7, 3, 2, False), (6, 5, 0, True), (9, 7, 2, True)]:
        ch = {0: 1, 2: 3}[ct]
        samples = [
            (257 * (3 * x + 5 * y + 17 * c) + 999) % 65536
            for y in range(h)
            for x in range(w)
            for c in range(ch)
        ]
        d = png_decode_pixels(png_pixel16_bytes(w, h, samples, ct, interlace=il))
        assert d["bit_depth"] == 16 and d["samples16"] == samples, (w, h, ct, il)
        assert max(samples) > 255  # the fixture genuinely exercises 16 bits
    # palette at 16 bits is illegal per spec
    with _pytest.raises(ValueError):
        png_pixel16_bytes(2, 2, [0, 1, 2, 3], 3)


def test_resize_16bit_samples(spark):
    """16-bit resize (round 10 — formerly an explicit refusal): box
    means are floored over u16 SAMPLES and re-encoded as a 16-bit PNG;
    averaging the big-endian raster bytes instead would collapse the
    dynamic range, which the >255 expected means catch."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        box_downscale16,
        png_decode_pixels,
        png_pixel16_bytes,
    )

    # grayscale 4x4, values well past 255 so byte-averaging cannot pass
    samples = [(1000 * i + 300) % 65536 for i in range(16)]
    media = spark.createDataFrame(
        [(1, bytearray(png_pixel16_bytes(4, 4, samples, 0)))],
        "doc_id long, payload binary",
    )
    row = resize_image(media, 2).collect()[0]
    expect, ow, oh = box_downscale16(samples, 4, 4, 1, 2)
    assert (row["out_width"], row["out_height"]) == (ow, oh) == (2, 2)
    assert row["out_px_sum"] == sum(expect) and max(expect) > 255
    assert row["out_first_px"] == expect[0] and row["out_last_px"] == expect[-1]
    out = png_decode_pixels(bytes(row["payload"]))
    assert out["bit_depth"] == 16 and out["samples16"] == expect
    # RGB + interlaced input, odd dims (trailing row/col cropped)
    w, h, ch = 5, 3, 3
    rgb = [(257 * (3 * x + 5 * y + 17 * c) + 7) % 65536
           for y in range(h) for x in range(w) for c in range(ch)]
    media2 = spark.createDataFrame(
        [(2, bytearray(png_pixel16_bytes(w, h, rgb, 2, interlace=True)))],
        "doc_id long, payload binary",
    )
    row2 = resize_image(media2, 2).collect()[0]
    expect2, ow2, oh2 = box_downscale16(rgb, w, h, ch, 2)
    assert (row2["out_width"], row2["out_height"], row2["channels"]) == (2, 1, 3)
    assert row2["out_px_sum"] == sum(expect2)
    assert png_decode_pixels(bytes(row2["payload"]))["samples16"] == expect2


def test_adam7_interlaced_roundtrip():
    """Adam7: seven independently-filtered pass sub-images scatter back
    onto the pixel grid bit-exactly, across dims that make several
    passes partial or empty, all color types, and palette indexing."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        _adam7_pass_dims,
        png_decode_pixels,
        png_pixel_bytes,
    )

    for w, h, ct in [(1, 1, 0), (2, 3, 0), (7, 5, 0), (13, 11, 2), (6, 4, 6), (9, 7, 4)]:
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
        raster = bytes((3 * i + 7) % 256 for i in range(w * h * ch))
        d = png_decode_pixels(png_pixel_bytes(w, h, raster, ct, interlace=True))
        assert d["raster"] == raster, (w, h, ct)
    # pass-dimension arithmetic: a 1x1 image lives entirely in pass 1
    assert _adam7_pass_dims(1, 1) == [(1, 1), (0, 1), (1, 0), (0, 1),
                                      (1, 0), (0, 1), (1, 0)]
    # an 8x8 image has every pass non-empty
    assert all(pw > 0 and ph > 0 for pw, ph in _adam7_pass_dims(8, 8))
    # total pixels across passes always equals the image
    for w, h in [(1, 1), (5, 3), (8, 8), (13, 11), (21, 17)]:
        assert sum(pw * ph for pw, ph in _adam7_pass_dims(w, h)) == w * h


def test_palette_png_roundtrip():
    """Type-3 PNG: index scanlines unfilter at bpp 1, then map through
    the PLTE chunk — the decoded raster is the post-lookup RGB."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        png_decode_pixels,
        png_palette_bytes,
    )

    w, h, ps = 9, 7, 5
    pal = bytes(
        v for j in range(ps) for v in ((7 * j) % 256, (13 * j) % 256, (29 * j) % 256)
    )
    idx = bytes((x + 2 * y) % ps for y in range(h) for x in range(w))
    d = png_decode_pixels(png_palette_bytes(w, h, idx, pal))
    assert (d["width"], d["height"], d["channels"], d["palette_size"]) == (w, h, 3, ps)
    expected = bytes(
        v for i in idx for v in ((7 * i) % 256, (13 * i) % 256, (29 * i) % 256)
    )
    assert d["raster"] == expected
    # a palette PNG whose PLTE chunk is missing must raise, not mis-decode
    b = png_palette_bytes(w, h, idx, pal)
    p = b.find(b"PLTE") - 4
    plen = int.from_bytes(b[p : p + 4], "big")
    with _pytest.raises(ValueError, match="PLTE"):
        png_decode_pixels(b[:p] + b[p + 12 + plen :])
    # an index past the palette is an error, not garbage pixels
    short_pal = pal[:9]  # 3 entries, indices go to 4
    with _pytest.raises(ValueError):
        png_palette_bytes(w, h, idx, short_pal)


def test_decode_real_fuzz_valueerror_contract():
    """Property: decode_real on ARBITRARY bytes — random payloads and
    bit-flipped corruptions of every valid container type — either
    returns a dict or raises ValueError. Any other exception type is a
    stage-killer the strict=False poison path would not catch (the
    round-8 ADVICE failure mode, pinned here for all future decoders)."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_pixel_bytes,
        jpeg_progressive_bytes,
    )
    from lfb_data_warehouse_spark.operators.flaccodec import flac_bytes
    from lfb_data_warehouse_spark.operators.multimodal import (
        bmp_bytes,
        decode_real,
        wav_msadpcm_bytes,
        png_palette_bytes,
        png_pixel_bytes,
        png_subbyte_bytes,
        wav_adpcm_bytes,
        wav_float_bytes,
        wav_g711_bytes,
        wav_pcm_bytes,
    )

    def check(payload: bytes) -> None:
        try:
            out = decode_real(payload)
            assert isinstance(out, dict)
        except ValueError:
            pass  # the one allowed failure mode

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=400))
    def fuzz_random(payload):
        check(payload)

    fuzz_random()

    # corruption fuzz: single-byte mutations of every valid container
    rng = random.Random(7)
    g = bytes((3 * i) % 256 for i in range(64))
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_lossless_bytes,
        jpeg_planes_bytes,
    )

    import struct

    from lfb_data_warehouse_spark.operators.avicodec import (
        avi_av_bytes,
        avi_mjpeg_bytes,
    )

    from lfb_data_warehouse_spark.operators.gifcodec import gif_bytes
    from lfb_data_warehouse_spark.operators.tiffcodec import tiff_bytes

    valid = [
        jpeg_lossless_bytes(5, 4, [[(911 * i) % 65536 for i in range(20)]],
                            predictor=4, precision=16),
        gif_bytes(6, 5, bytes((3 * i) % 4 for i in range(30)),
                  bytes(range(12)), interlace=True),
        png_pixel_bytes(8, 8, g, 0),
        png_pixel_bytes(4, 4, g[:48], 2, interlace=True),
        png_palette_bytes(8, 8, bytes(i % 4 for i in range(64)), bytes(range(12))),
        jpeg_pixel_bytes(8, 8, g),
        jpeg_progressive_bytes(8, 8, [g]),
        jpeg_progressive_bytes(16, 8, [g * 2], restart_interval=1),  # r10: DRI in SOF2
        jpeg_planes_bytes(8, 8, [[(37 * i) % 4096 for i in range(64)]], precision=12),
        wav_pcm_bytes(1, 8000, [100, -100, 50]),
        wav_float_bytes(2, 48000, [0.5, -1.25, 3.75, -0.0]),  # r13: fmt 3
        wav_g711_bytes(1, 8000, bytes(range(0, 256, 7)), "ulaw"),
        bmp_bytes(5, 4, bytes((3 * i) % 256 for i in range(60))),
        tiff_bytes(6, 5, bytes((5 * i) % 256 for i in range(30)),
                   rows_per_strip=2, packbits=True, big_endian=True),
        # round-11 codecs join the pinned contract
        png_subbyte_bytes(9, 7, [i % 2 for i in range(63)], 1, 0),
        png_subbyte_bytes(6, 5, [i % 16 for i in range(30)], 4, 3,
                          palette=bytes(range(48)), interlace=True),
        wav_adpcm_bytes(8000, [(-500, 20, [i % 16 for i in range(29)]),
                               (800, 60, [(7 * i) % 16 for i in range(29)])], 30),
        # round-13 shapes join the pinned contract
        wav_adpcm_bytes(8000, [[(900 * c - 1000, (13 * c) % 89,
                                 [(j * (c + 2)) % 16 for j in range(16)])
                                for c in range(3)]], 17, channels=3),
        # round-14: MS ADPCM (fmt 2) joins the pinned contract
        wav_msadpcm_bytes(8000, [(1, 40, 900, -800, [i % 16 for i in range(12)]),
                                 (5, 16, -1200, 700,
                                  [(7 * i) % 16 for i in range(12)])], 14),
        wav_msadpcm_bytes(8000, [[(0, 30, 500, -400, [(3 * j) % 16 for j in range(8)]),
                                  (6, 25, -600, 300, [(5 * j + 1) % 16 for j in range(8)])]],
                          10, channels=2),
        avi_mjpeg_bytes(8, 8, [jpeg_pixel_bytes(8, 8, bytes((3 * i) % 256
                                                             for i in range(64))),
                               jpeg_pixel_bytes(8, 8, bytes((5 * i) % 256
                                                            for i in range(64)))]),
        # round-14b: the interleaved A/V DIB+PCM shape joins the contract
        avi_av_bytes(5, 3, [bytes((3 * i + 11 * f) % 256 for i in range(45))
                            for f in range(2)],
                     codec="DIB", bottom_up=False,
                     audio=struct.pack("<21h", *((37 * i) % 4001 - 2000
                                                 for i in range(21))),
                     audio_splits=[7, 35]),
        jpeg_lossless_bytes(8, 4, [[(19 * i) % 256 for i in range(32)],
                                   [(23 * i) % 256 for i in range(8)],
                                   [(29 * i) % 256 for i in range(8)]],
                            predictor=6, restart_interval=3,
                            sampling=[(2, 2), (1, 1), (1, 1)]),
        jpeg_lossless_bytes(7, 5, [[(41 * i) % 256 for i in range(35)],
                                   [(43 * i) % 256 for i in range(12)],
                                   [(47 * i) % 256 for i in range(12)]],
                            predictor=4,
                            sampling=[(2, 2), (1, 1), (1, 1)]),  # partial MCUs
        flac_bytes(44100, 16, [([250] * 24, ("constant",)),
                               ([(53 * i) % 3001 - 1500 for i in range(32)],
                                ("fixed", 2, 1)),
                               ([(31 * i) % 2001 - 1000 for i in range(24)],
                                ("lpc", [3, -1], 1, 4, 0))]),
        jpeg_planes_bytes(24, 8, [bytes((3 * i) % 256 for i in range(192)),
                                  bytes((5 * i) % 256 for i in range(64)),
                                  bytes((7 * i) % 256 for i in range(64))],
                          sampling=[(3, 1), (1, 1), (1, 1)]),
        jpeg_progressive_bytes(8, 8, [[(37 * i) % 4096 for i in range(64)]],
                               precision=12),
    ]
    for base in valid:
        check(base)  # sanity: the uncorrupted payload decodes
        for _ in range(120):
            b = bytearray(base)
            op = rng.randrange(3)
            if op == 0:  # flip a byte
                p = rng.randrange(len(b))
                b[p] ^= 1 << rng.randrange(8)
            elif op == 1:  # truncate
                b = b[: rng.randrange(len(b))]
            else:  # splice random garbage
                p = rng.randrange(len(b))
                b[p : p + 3] = bytes(rng.randrange(256) for _ in range(3))
            check(bytes(b))


def test_zero_field_poison_probe():
    """Systematic zero-field probe (round 13): zero every 2-byte
    window of one valid payload per container family and decode — the
    ValueError-only contract must hold on all of them. This
    deterministic sweep complements the random fuzz: zeroing aligned
    header fields reaches count/divisor semantics random bit flips
    rarely hit (it found the WAV zero-channel ZeroDivisionError the
    120-mutation random battery never drew)."""
    from lfb_data_warehouse_spark.operators.flaccodec import flac_bytes
    from lfb_data_warehouse_spark.operators.gifcodec import gif_bytes
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_lossless_bytes,
        jpeg_pixel_bytes,
    )

    import struct

    from lfb_data_warehouse_spark.operators.avicodec import (
        avi_av_bytes,
        avi_mjpeg_bytes,
    )
    from lfb_data_warehouse_spark.operators.multimodal import (
        bmp_bytes,
        decode_real,
        png_pixel_bytes,
        wav_adpcm_bytes,
        wav_msadpcm_bytes,
        wav_float_bytes,
        wav_pcm_bytes,
    )
    from lfb_data_warehouse_spark.operators.tiffcodec import tiff_bytes

    g = bytes((3 * i) % 256 for i in range(64))
    payloads = [
        wav_pcm_bytes(2, 8000, [100, -100, 50, 7]),
        wav_float_bytes(2, 48000, [0.5, -1.25, 3.75, -0.0]),
        wav_adpcm_bytes(8000, [(-500, 20, [i % 16 for i in range(16)])], 17),
        wav_msadpcm_bytes(8000, [(3, 50, 700, -600, [i % 16 for i in range(10)])], 12),
        avi_mjpeg_bytes(8, 8, [jpeg_pixel_bytes(8, 8, g)]),
        # round-14b: the A/V interleave — zeroing header fields reaches
        # stream counts, block aligns, dwLength, biBitCount, biHeight
        avi_av_bytes(4, 3, [bytes((5 * i) % 256 for i in range(36))],
                     codec="DIB",
                     audio=struct.pack("<9h", *((41 * i) % 2001 - 1000
                                                for i in range(9)))),
        png_pixel_bytes(8, 8, g, 0),
        jpeg_pixel_bytes(8, 8, g),
        jpeg_lossless_bytes(5, 4, [[(911 * i) % 65536 for i in range(20)]],
                            predictor=4, precision=16),
        gif_bytes(6, 5, bytes((3 * i) % 4 for i in range(30)), bytes(range(12))),
        bmp_bytes(5, 4, bytes((3 * i) % 256 for i in range(60))),
        tiff_bytes(6, 5, bytes((5 * i) % 256 for i in range(30)),
                   rows_per_strip=2, packbits=True),
        flac_bytes(44100, 16, [([250] * 24, ("constant",))]),
    ]
    for base in payloads:
        for off in range(len(base) - 1):
            b = bytearray(base)
            if b[off : off + 2] == b"\x00\x00":
                continue
            b[off : off + 2] = b"\x00\x00"
            try:
                out = decode_real(bytes(b))
                assert isinstance(out, dict)
            except ValueError:
                pass  # the one allowed failure mode


def test_decode_error_contract_normalized():
    """Malformed payloads surface as ValueError ONLY — truncated
    headers (struct.error), scans referencing undefined tables
    (KeyError), and zero-area/empty streams (would IndexError in the
    stats layer) are all normalized by decode_valueerror_contract, so
    strict=False poison-safety can rely on one exception type
    (round-8 ADVICE medium)."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_pixel_bytes,
    )
    from lfb_data_warehouse_spark.operators.multimodal import (
        _PNG_SIG,
        png_decode_pixels,
        png_pixel_bytes,
        wav_decode_samples,
        wav_pcm_bytes,
    )

    # truncated PNG IHDR: struct.error inside the chunk walk
    with _pytest.raises(ValueError):
        png_decode_pixels(_PNG_SIG + b"\x00\x00\x00\x0dIHDR\x00\x01")
    # zero-area PNG: decodes to an empty raster -> explicit ValueError
    with _pytest.raises(ValueError, match="zero-area"):
        png_decode_pixels(png_pixel_bytes(0, 0, b"", 0))
    # truncated WAV fmt chunk: struct.error inside the RIFF walk
    with _pytest.raises(ValueError):
        wav_decode_samples(
            b"RIFF\x10\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00"
        )
    # empty data chunk: no first/last sample -> explicit ValueError
    with _pytest.raises(ValueError, match="empty data"):
        wav_decode_samples(wav_pcm_bytes(1, 8000, []))
    real = jpeg_pixel_bytes(8, 8, bytes(range(64)))
    # truncated SOF0: struct.error inside the marker walk
    with _pytest.raises(ValueError):
        jpeg_decode_pixels(real[: real.find(b"\xff\xc0") + 6])
    # every DHT stripped: the scan references never-defined tables
    no_tables = bytearray(real)
    while True:
        p = no_tables.find(b"\xff\xc4")
        if p < 0:
            break
        seglen = int.from_bytes(no_tables[p + 2 : p + 4], "big")
        del no_tables[p : p + 2 + seglen]
    with _pytest.raises(ValueError, match="undefined table"):
        jpeg_decode_pixels(bytes(no_tables))


def test_jpeg_420_subsampled_roundtrip():
    """4:2:0: each MCU interleaves four Y blocks (2×2 raster order) +
    Cb + Cr; constant tiles per plane survive exactly at quant 1, and
    each plane comes back at its stored (subsampled) resolution."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
    )

    w, h, d = 48, 32, 13

    def tiles(cw, ch, off):
        return bytes(
            (11 * (x // 8) + 23 * (y // 8) + 7 * d + off) % 256
            for y in range(ch)
            for x in range(cw)
        )

    y, cb, cr = tiles(w, h, 0), tiles(w // 2, h // 2, 31), tiles(w // 2, h // 2, 62)
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(w, h, [y, cb, cr], sampling=[(2, 2), (1, 1), (1, 1)])
    )
    assert out["sampling"] == [(2, 2), (1, 1), (1, 1)]
    assert out["plane_dims"] == [(w, h), (w // 2, h // 2), (w // 2, h // 2)]
    assert out["planes"] == [y, cb, cr]  # bit-exact per plane
    # 4:2:2 (2x1 luma) also round-trips
    cb2, cr2 = tiles(w // 2, h, 31), tiles(w // 2, h, 62)
    out2 = jpeg_decode_pixels(
        jpeg_planes_bytes(w, h, [y, cb2, cr2], sampling=[(2, 1), (1, 1), (1, 1)])
    )
    assert out2["planes"] == [y, cb2, cr2]
    # wrong plane size for the declared sampling is an encode error
    with _pytest.raises(ValueError, match="plane must be"):
        jpeg_planes_bytes(w, h, [y, cb, cb + cb], sampling=[(2, 2), (1, 1), (1, 1)])
    # dimensions must cover whole MCUs (16 for 2x2 luma)
    with _pytest.raises(ValueError):
        jpeg_planes_bytes(
            24, 16,
            [tiles(24, 16, 0), tiles(12, 8, 31), tiles(12, 8, 62)],
            sampling=[(2, 2), (1, 1), (1, 1)],
        )
    # factors beyond T.81's 1..4 range stay an explicit error (round 11
    # admitted 3), and a 4x4 luma MCU blows the T.81 B.2.3 ten-unit bound
    with _pytest.raises(ValueError, match="sampling factors"):
        jpeg_planes_bytes(w, h, [y, cb, cr], sampling=[(5, 1), (1, 1), (1, 1)])
    with _pytest.raises(ValueError, match="10 data units"):
        jpeg_planes_bytes(w, h, [y, cb, cr], sampling=[(4, 4), (1, 1), (1, 1)])


def test_jpeg_progressive_cross_decoder():
    """Progressive (SOF2) decode must produce EXACTLY the pixels the
    baseline decoder produces for the same raster: both encoders
    quantize identically, and progressive refinement must restore every
    coefficient bit-for-bit (DC point-transform + refinement bit, AC
    first scans with EOBRUN, newly-nonzero insertions and correction
    bits). Random rasters drive every refinement path — unlike the
    constant-tile oracle fixture, whose ACs are all zero."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
        jpeg_progressive_bytes,
    )

    rng = random.Random(1234)
    for trial in range(6):
        w, h = 8 * rng.randint(1, 3), 8 * rng.randint(1, 3)
        raster = bytes(rng.randrange(256) for _ in range(w * h))
        prog = jpeg_decode_pixels(jpeg_progressive_bytes(w, h, [raster]))
        base = jpeg_decode_pixels(jpeg_planes_bytes(w, h, [raster]))
        assert prog.get("progressive") is True
        assert prog["raster"] == base["raster"], f"trial {trial}"
    # constant tiles are exact (DC-only blocks, quant 1)
    g = bytes((11 * (x // 8) + 23 * (y // 8)) % 256 for y in range(24) for x in range(40))
    assert jpeg_decode_pixels(jpeg_progressive_bytes(40, 24, [g]))["raster"] == g
    # color 1x1 and 4:2:0 progressive match their baseline twins
    ry = bytes(rng.randrange(256) for _ in range(32 * 16))
    rc = bytes(rng.randrange(256) for _ in range(16 * 8))
    samp = [(2, 2), (1, 1), (1, 1)]
    pp = jpeg_decode_pixels(
        jpeg_progressive_bytes(32, 16, [ry, rc, rc], sampling=samp)
    )
    bb = jpeg_decode_pixels(jpeg_planes_bytes(32, 16, [ry, rc, rc], sampling=samp))
    assert pp["planes"] == bb["planes"]
    # band partitions must cover 1..63 contiguously
    with _pytest.raises(ValueError, match="partition"):
        jpeg_progressive_bytes(16, 16, [bytes(256)], bands=((1, 5), (7, 63)))


def test_jpeg_progressive_restart_cross_decoder():
    """Restart intervals INSIDE progressive scans (round 10 — formerly
    an explicit ValueError): pixels must equal BOTH the restart-free
    progressive decode and the baseline decode on random rasters, so a
    marker mis-consumed in any of the six scans (byte alignment), a
    missed DC-predictor reset, or an EOB run carried across a boundary
    all fail the assert. Random rasters drive the nonzero-AC + restart
    interplay the constant-tile oracle can't."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
        jpeg_progressive_bytes,
    )

    rng = random.Random(777)
    for trial in range(6):
        w, h = 8 * rng.randint(1, 4), 8 * rng.randint(1, 3)
        ri = rng.randint(1, 4)
        raster = bytes(rng.randrange(256) for _ in range(w * h))
        prog = jpeg_decode_pixels(
            jpeg_progressive_bytes(w, h, [raster], restart_interval=ri)
        )
        base = jpeg_decode_pixels(jpeg_planes_bytes(w, h, [raster]))
        assert prog.get("progressive") is True
        assert prog["restart_interval"] == ri
        assert prog["raster"] == base["raster"], f"trial {trial} ri={ri}"
    # constant tiles stay exact with restarts in every scan
    g = bytes((11 * (x // 8) + 23 * (y // 8)) % 256 for y in range(24) for x in range(40))
    assert jpeg_decode_pixels(
        jpeg_progressive_bytes(40, 24, [g], restart_interval=1)
    )["raster"] == g
    # restarts compose with 4:2:0 subsampled progressive streams
    ry = bytes(rng.randrange(256) for _ in range(32 * 16))
    rc = bytes(rng.randrange(256) for _ in range(16 * 8))
    samp = [(2, 2), (1, 1), (1, 1)]
    pp = jpeg_decode_pixels(
        jpeg_progressive_bytes(32, 16, [ry, rc, rc], sampling=samp, restart_interval=1)
    )
    bb = jpeg_decode_pixels(jpeg_planes_bytes(32, 16, [ry, rc, rc], sampling=samp))
    assert pp["planes"] == bb["planes"]
    # a corrupted RSTm index inside a progressive scan raises, never mis-decodes
    b = bytearray(jpeg_progressive_bytes(40, 24, [g], restart_interval=2))
    p = b.find(b"\xff\xd0", b.find(b"\xff\xda"))
    assert p > 0
    b[p + 1] = 0xD6  # wrong RSTm index
    with _pytest.raises(ValueError):
        jpeg_decode_pixels(bytes(b))


def test_jpeg_411_sampling():
    """Sampling factor 4 (round 10 — formerly an explicit ValueError):
    4:1:1 interleaves four horizontally-adjacent Y blocks per MCU.
    Constant tiles exact, restarts compose, progressive matches
    baseline on random rasters, and the T.81 B.2.3 ten-data-unit MCU
    bound plus out-of-range factors stay rejected."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
        jpeg_progressive_bytes,
    )

    def tiles(cw, ch, c, d=7):
        return bytes(
            (11 * (x // 8) + 23 * (y // 8) + 7 * d + 31 * c) % 256
            for y in range(ch)
            for x in range(cw)
        )

    samp = [(4, 1), (1, 1), (1, 1)]
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(32, 8, [tiles(32, 8, 0), tiles(8, 8, 1), tiles(8, 8, 2)],
                          sampling=samp)
    )
    assert out["sampling"] == samp
    assert out["planes"][0] == tiles(32, 8, 0) and out["planes"][1] == tiles(8, 8, 1)
    # DRI composes
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(64, 8, [tiles(64, 8, 0), tiles(16, 8, 1), tiles(16, 8, 2)],
                          sampling=samp, restart_interval=1)
    )
    assert out["planes"][0] == tiles(64, 8, 0)
    # vertical 1:4 variant
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(8, 32, [tiles(8, 32, 0), tiles(8, 8, 1), tiles(8, 8, 2)],
                          sampling=[(1, 4), (1, 1), (1, 1)])
    )
    assert out["planes"][0] == tiles(8, 32, 0)
    # progressive 4:1:1 == baseline on random rasters
    rng = random.Random(3)
    ry = bytes(rng.randrange(256) for _ in range(32 * 8))
    rc = bytes(rng.randrange(256) for _ in range(8 * 8))
    pp = jpeg_decode_pixels(jpeg_progressive_bytes(32, 8, [ry, rc, rc], sampling=samp))
    bb = jpeg_decode_pixels(jpeg_planes_bytes(32, 8, [ry, rc, rc], sampling=samp))
    assert pp["planes"] == bb["planes"]
    # multi-MCU traversal (3x3 MCU grid) across baseline / DRI /
    # progressive / progressive+DRI — single-MCU fixtures can hide a
    # wrong block order, so this is the grid case
    w, h = 96, 24
    ry = bytes(rng.randrange(256) for _ in range(w * h))
    rc = bytes(rng.randrange(256) for _ in range((w // 4) * h))
    bb = jpeg_decode_pixels(jpeg_planes_bytes(w, h, [ry, rc, rc], sampling=samp))
    for variant in (
        jpeg_progressive_bytes(w, h, [ry, rc, rc], sampling=samp),
        jpeg_planes_bytes(w, h, [ry, rc, rc], sampling=samp, restart_interval=2),
        jpeg_progressive_bytes(w, h, [ry, rc, rc], sampling=samp, restart_interval=3),
    ):
        assert jpeg_decode_pixels(variant)["planes"] == bb["planes"]
    # mixed (2,4) factors, multi-MCU, progressive == baseline
    w, h = 32, 64
    ry = bytes(rng.randrange(256) for _ in range(w * h))
    rc = bytes(rng.randrange(256) for _ in range((w // 2) * (h // 4)))
    samp24 = [(2, 4), (1, 1), (1, 1)]
    assert (
        jpeg_decode_pixels(jpeg_progressive_bytes(w, h, [ry, rc, rc], sampling=samp24))["planes"]
        == jpeg_decode_pixels(jpeg_planes_bytes(w, h, [ry, rc, rc], sampling=samp24))["planes"]
    )
    # spec bound: an MCU past 10 data units is rejected
    with _pytest.raises(ValueError, match="10 data units"):
        jpeg_planes_bytes(32, 32, [bytes(1024)] * 3, sampling=[(4, 4), (1, 1), (1, 1)])
    with _pytest.raises(ValueError):
        jpeg_planes_bytes(40, 8, [bytes(320), bytes(64), bytes(64)],
                          sampling=[(5, 1), (1, 1), (1, 1)])


def test_jpeg_311_sampling():
    """Sampling factor 3 (round 11 — the last factor in T.81's 1..4
    range, formerly an explicit ValueError): the 5-block MCU geometry
    is not a power of two, so any shift-based walk breaks. Constant
    tiles exact in both orientations, mixed (3,2) factors work,
    progressive matches baseline on random rasters, restarts compose,
    and out-of-range factors stay rejected."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
        jpeg_progressive_bytes,
    )

    def tiles(cw, ch, c, d=5):
        return bytes(
            (11 * (x // 8) + 23 * (y // 8) + 7 * d + 31 * c) % 256
            for y in range(ch)
            for x in range(cw)
        )

    samp = [(3, 1), (1, 1), (1, 1)]
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(24, 16, [tiles(24, 16, 0), tiles(8, 16, 1), tiles(8, 16, 2)],
                          sampling=samp)
    )
    assert out["sampling"] == samp
    assert out["planes"][0] == tiles(24, 16, 0) and out["planes"][1] == tiles(8, 16, 1)
    # vertical 1:3 variant
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(16, 24, [tiles(16, 24, 0), tiles(16, 8, 1), tiles(16, 8, 2)],
                          sampling=[(1, 3), (1, 1), (1, 1)])
    )
    assert out["planes"][0] == tiles(16, 24, 0) and out["planes"][2] == tiles(16, 8, 2)
    # mixed (3,2) factors
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(24, 16, [tiles(24, 16, 0), tiles(8, 8, 1), tiles(8, 8, 2)],
                          sampling=[(3, 2), (1, 1), (1, 1)])
    )
    assert out["planes"][0] == tiles(24, 16, 0) and out["planes"][1] == tiles(8, 8, 1)
    # multi-MCU grid: progressive == baseline == DRI variants on random rasters
    rng = random.Random(11)
    w, h = 72, 24
    ry = bytes(rng.randrange(256) for _ in range(w * h))
    rc = bytes(rng.randrange(256) for _ in range((w // 3) * h))
    bb = jpeg_decode_pixels(jpeg_planes_bytes(w, h, [ry, rc, rc], sampling=samp))
    for variant in (
        jpeg_progressive_bytes(w, h, [ry, rc, rc], sampling=samp),
        jpeg_planes_bytes(w, h, [ry, rc, rc], sampling=samp, restart_interval=2),
        jpeg_progressive_bytes(w, h, [ry, rc, rc], sampling=samp, restart_interval=3),
    ):
        assert jpeg_decode_pixels(variant)["planes"] == bb["planes"]
    # gray factor-3: a single (3,3) component is its own 9-block MCU
    # (constant tiles survive the DCT exactly; random rasters are only
    # near-lossless, so exactness pins use the tile fixture)
    g = tiles(24, 24, 4)
    assert jpeg_decode_pixels(
        jpeg_planes_bytes(24, 24, [g], sampling=[(3, 3)])
    )["planes"][0] == g
    # factors outside T.81's 1..4 range stay rejected
    with _pytest.raises(ValueError):
        jpeg_planes_bytes(40, 8, [bytes(320), bytes(64), bytes(64)],
                          sampling=[(5, 1), (1, 1), (1, 1)])
    with _pytest.raises(ValueError):
        jpeg_planes_bytes(8, 8, [bytes(64)], sampling=[(0, 1)])


def test_tiff_roundtrip():
    """TIFF codec (round 10): both byte orders, multi-row strips,
    PackBits RLE (property-tested on random and runny data), gray/RGB
    — all lossless-exact; unsupported compressions and truncations
    raise."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.tiffcodec import (
        packbits_decode,
        packbits_encode,
        tiff_bytes,
        tiff_decode_pixels,
    )

    rng = random.Random(17)
    for _ in range(30):
        n = rng.randint(0, 300)
        if rng.random() < 0.5:
            data = bytes(rng.randrange(256) for _ in range(n))
        else:
            data = b"".join(
                bytes([rng.randrange(4)]) * rng.randint(1, 150)
                for _ in range(max(1, n // 40))
            )
        assert packbits_decode(packbits_encode(data), len(data)) == data
    for ch in (1, 3):
        for pb in (False, True):
            for be in (False, True):
                w, h = rng.randint(1, 17), rng.randint(1, 11)
                raster = bytes(rng.randrange(256) for _ in range(w * h * ch))
                d = tiff_decode_pixels(
                    tiff_bytes(w, h, raster, channels=ch, rows_per_strip=3,
                               packbits=pb, big_endian=be)
                )
                assert d["raster"] == raster and d["big_endian"] == be
    # single-strip layout inlines the offset/count values in the tag
    d = tiff_decode_pixels(tiff_bytes(5, 4, bytes(20), rows_per_strip=100))
    assert d["n_strips"] == 1 and d["raster"] == bytes(20)
    # LZW + Deflate (round 11): TIFF-variant early-change LZW (MSB
    # packing) and per-strip zlib, with and without horizontal-
    # differencing Predictor 2, both byte orders
    for comp in ("lzw", "deflate"):
        for ch in (1, 3):
            for pred in (1, 2):
                for be in (False, True):
                    w, h = rng.randint(1, 17), rng.randint(1, 11)
                    raster = bytes(rng.randrange(256) for _ in range(w * h * ch))
                    d = tiff_decode_pixels(
                        tiff_bytes(w, h, raster, channels=ch, rows_per_strip=3,
                                   lzw=comp == "lzw", deflate=comp == "deflate",
                                   predictor=pred, big_endian=be)
                    )
                    assert d["raster"] == raster and d["compression"] == comp
                    assert d["predictor"] == pred
    # palette (Photometric=3, round 11): full-256-entry 16-bit ColorMap
    # through the offset path, high-byte lookup, both byte orders + LZW
    for nc, be, lz in ((4, False, False), (7, True, False), (3, True, True)):
        w, h = rng.randint(2, 12), rng.randint(2, 8)
        pal = bytes(rng.randrange(256) for _ in range(3 * nc))
        idx = bytes(rng.randrange(nc) for _ in range(w * h))
        d = tiff_decode_pixels(
            tiff_bytes(w, h, idx, channels=1, rows_per_strip=3,
                       big_endian=be, lzw=lz, palette=pal)
        )
        assert d["palette"] and d["channels"] == 3
        assert d["raster"] == bytes(pal[3 * i + c] for i in idx for c in range(3))
    # tiled layout (round 11): 16-multiple grids, padded edge tiles
    # cropped on decode, per-tile compression + predictor, both orders
    import math as _math

    for w, h, ch, tile, comp in (
        (14, 10, 1, (16, 16), "none"),   # single padded tile
        (21, 18, 3, (16, 16), "lzw"),    # 2x2 grid, edge padding
        (40, 35, 1, (16, 32), "deflate"),
    ):
        raster = bytes(rng.randrange(256) for _ in range(w * h * ch))
        d = tiff_decode_pixels(
            tiff_bytes(w, h, raster, channels=ch, tile=tile,
                       lzw=comp == "lzw", deflate=comp == "deflate",
                       predictor=2 if comp != "none" else 1,
                       big_endian=comp == "lzw")
        )
        assert d["raster"] == raster and d["tiled"]
        assert d["n_strips"] == _math.ceil(w / tile[0]) * _math.ceil(h / tile[1])
    with _pytest.raises(ValueError, match="multiples of 16"):
        tiff_bytes(8, 8, bytes(64), tile=(8, 8))
    # legacy 32946 deflate code decodes identically to 8
    import struct as _s

    b8 = bytearray(tiff_bytes(6, 4, bytes(range(24)), deflate=True))
    comp_off = 8 + 2 + 12 * 3 + 8
    assert b8[comp_off] == 8
    b8[comp_off : comp_off + 2] = _s.pack("<H", 32946 & 0xFFFF)
    assert tiff_decode_pixels(bytes(b8))["compression"] == "deflate"
    # BitsPerSample with count == SamplesPerPixel (what standard RGB
    # writers emit — round-11 ADVICE interop fix): patch tag 258 of an
    # RGB file to a 3-entry offset array appended at EOF
    import struct as _struct

    raster = bytes(rng.randrange(256) for _ in range(6 * 2 * 3))
    b3 = bytearray(tiff_bytes(6, 2, raster, channels=3, rows_per_strip=2))
    bps_tag = 8 + 2 + 12 * 2  # tag 258 is the 3rd IFD entry
    b3[bps_tag + 4 : bps_tag + 12] = _struct.pack("<II", 3, len(b3))
    b3 += _struct.pack("<3H", 8, 8, 8)
    assert tiff_decode_pixels(bytes(b3))["raster"] == raster
    # ...but per-sample entries that DISAGREE are refused
    b3[-6:] = _struct.pack("<3H", 8, 8, 4)
    with _pytest.raises(ValueError, match="BitsPerSample"):
        tiff_decode_pixels(bytes(b3))
    # contract: bad magic, deflate compression, predictor outside LZW,
    # truncated strip
    with _pytest.raises(ValueError):
        tiff_decode_pixels(b"XX" + tiff_bytes(4, 4, bytes(16))[2:])
    b = bytearray(tiff_bytes(4, 4, bytes(16)))
    # Compression tag (259) is the 4th tag; value field at +8
    comp_off = 8 + 2 + 12 * 3 + 8
    b[comp_off] = 8  # deflate: still an explicit refusal
    with _pytest.raises(ValueError, match="compression"):
        tiff_decode_pixels(bytes(b))
    with _pytest.raises(ValueError, match="predictor"):
        tiff_bytes(4, 4, bytes(16), predictor=2)  # predictor 2 needs LZW
    with _pytest.raises(ValueError):
        tiff_decode_pixels(tiff_bytes(4, 4, bytes(16))[:-4])


def test_tiff_lzw_codec_boundaries():
    """TIFF LZW width boundaries (round 11): the early-change pairing —
    encoder grows at next_code == (1<<w)-1 (incl. libtiff's phantom
    increment for the final data code), decoder one entry earlier —
    round-trips exactly across every 9→10→11→12-bit switch and the
    4094-entry Clear reset, plus the KwKwK run case."""
    import random

    from lfb_data_warehouse_spark.operators.tiffcodec import (
        _hdiff_decode,
        _hdiff_encode,
        tiff_lzw_decode,
        tiff_lzw_encode,
    )

    rng = random.Random(23)
    for n in (0, 1, 253, 254, 255, 511, 512, 1022, 1023, 1024,
              2046, 2047, 2048, 4093, 4094, 4095, 12000):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert tiff_lzw_decode(tiff_lzw_encode(data), n) == data
    for n in (254, 511, 6000):  # runs: the KwKwK (code == next) path
        run = bytes([9]) * n
        assert tiff_lzw_decode(tiff_lzw_encode(run), n) == run
    # predictor 2 is its own exact inverse pass, per row per channel
    for w, ch, h in ((5, 1, 4), (7, 3, 3), (1, 3, 2)):
        raw = bytes(rng.randrange(256) for _ in range(w * ch * h))
        assert _hdiff_decode(_hdiff_encode(raw, w, ch), w, ch) == raw
    # a decoder fed a code beyond the dictionary refuses loudly
    with pytest.raises(ValueError):
        tiff_lzw_decode(bytes([0xFF, 0xFF, 0xFF, 0xFF]), 100)


def test_html_text_extract(spark):
    """HTML strip (round 10; numeric refs + case/newline blocks round
    11): block contents vanish (script/style — including MULTI-LINE
    UPPERCASE blocks, the real-crawl norm), entities decode in the
    safe order ('&'-producers LAST — '&amp;lt;' and '&#38;lt;' must
    both yield the literal text '&lt;', never a live '<'), numeric
    character references decode for code points 9/10/13/32..255 and
    stay literal outside that range, whitespace collapses, and the
    whole path is JVM expressions (no Python)."""
    from lfb_data_warehouse_spark.functions.text import html_tag_count, html_text

    df = spark.createDataFrame(
        [
            (1, "<p>a  b</p><script>drop me &amp; this</script><p>c</p>"),
            (2, "x &amp;lt; y &quot;q&quot; &#39;s&#39; &gt;"),
            (3, "<style>p{x:1}</style><DIV>keep</DIV>"),
            (4, "<SCRIPT type='t'>\nvar a = 1;\nalert('x');\n</SCRIPT>ok"
                "<STYLE>\np { x: 1 }\n</STYLE>done"),
            (5, "&#72;&#105; &#x21; e&#233; pad&#065; nb&#160;z"),
            (6, "&#38;lt; &#x26;amp; &#038; big&#12472; zero&#0; "
                "eight&#12345678;"),
        ],
        "id long, h string",
    )
    out = {r["id"]: (r["t"], r["n"]) for r in df.select(
        "id", html_text("h").alias("t"), html_tag_count("h").alias("n")
    ).collect()}
    assert out[1] == ("a b c", 6)  # script CONTENT gone; all 6 tags counted
    assert out[2][0] == "x &lt; y \"q\" 's' >"  # no double-decode
    assert out[3] == ("keep", 4)  # style block gone; DIV tags stripped
    # round-10 ADVICE: multi-line + uppercase blocks strip entirely
    assert out[4][0] == "ok done"
    # numeric refs: decimal, hex, Latin-1, zero-padded, NBSP (collapses
    # as whitespace? no — U+00A0 is not \s in RE2/Java, it survives)
    assert out[5][0] == "Hi ! e\xe9 padA nb\xa0z"
    # amp-valued refs never double-decode; out-of-range stays literal
    assert out[6][0] == "&lt; &amp; & big&#12472; zero&#0; eight&#12345678;"


def test_warc_parse(spark):
    """WARC parsing (round 10): concatenated gzip members,
    Content-Length framing, HTTP header/body split, and the framing
    error contract (a corrupted length or separator raises rather
    than mis-attributing bytes to the wrong record)."""
    import gzip

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        parse_warc_stats,
        synthesize_warc,
    )

    docs = spark.createDataFrame([(7,), (12,), (25,)], "doc_id long")
    rows = parse_warc_stats(synthesize_warc(docs, "doc_id")).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, recs in by_doc.items():
        assert len(recs) == d % 4 + 1
        for r in sorted(recs, key=lambda x: x["rec_index"]):
            if r["rec_index"] % 2 == 0:
                k = (3 * d + 7 * r["rec_index"]) % 50 + 10
                assert r["warc_type"] == "response"
                assert r["body_chars"] == k + 2
                assert r["body_sum"] == 140 + 97 * k
            else:
                assert r["warc_type"] == "request" and r["body_chars"] == 0
    # framing corruption: patch a Content-Length digit -> ValueError
    payload = bytes(
        synthesize_warc(docs, "doc_id").collect()[0]["payload"]
    )
    raw = bytearray(gzip.decompress(payload))
    p = raw.find(b"Content-Length: ") + len(b"Content-Length: ")
    raw[p] = ord("9")
    strict = parse_warc_stats(
        spark.createDataFrame([(1, bytes(gzip.compress(bytes(raw))))],
                              "doc_id long, payload binary"),
        strict=False,
    ).collect()
    assert strict[0]["body_sum"] is None  # poison-safe NULL row
    with _pytest.raises(Exception):
        parse_warc_stats(
            spark.createDataFrame([(1, bytes(gzip.compress(bytes(raw))))],
                                  "doc_id long, payload binary")
        ).collect()


def test_warc_poison_mixed(spark):
    """WARC robustness (round 11): identity vs gzip sniff, the full
    record-type spread (warcinfo content is the body — no HTTP split;
    metadata may be zero-length), and poison rows (truncated gzip
    member, non-WARC bytes, a NULL payload) landing as parsed=false
    instead of a stage kill."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        WARC_INFO_PAYLOAD,
        parse_warc_poison_stats,
        synthesize_warc_mixed,
    )

    # doc ids covering all four kinds: 8%4=0, 13%4=1, 6%4=2, 19%4=3
    docs = spark.createDataFrame([(8,), (13,), (6,), (19,)], "doc_id long")
    null = spark.createDataFrame([(99, None)], "doc_id long, payload binary")
    media = synthesize_warc_mixed(docs, "doc_id").unionByName(null)
    rows = parse_warc_poison_stats(media).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    full = sorted(by_doc[8], key=lambda x: x["rec_index"])
    assert [r["warc_type"] for r in full] == [
        "warcinfo", "response", "metadata", "request"
    ]
    assert full[0]["body_chars"] == len(WARC_INFO_PAYLOAD)
    assert full[0]["body_sum"] == sum(WARC_INFO_PAYLOAD.encode())
    assert full[2]["content_length"] == 0 and full[2]["body_chars"] == 0
    assert all(r["gzipped"] and r["parsed"] for r in full)
    ident = sorted(by_doc[13], key=lambda x: x["rec_index"])
    assert [r["warc_type"] for r in ident] == ["response", "request"]
    assert not ident[0]["gzipped"]
    k = 3 * 13 % 50 + 10
    assert ident[0]["body_chars"] == k + 2
    for poison_doc in (6, 19, 99):  # 99: NULL payload
        (p,) = by_doc[poison_doc]
        assert p["parsed"] is False and p["warc_type"] is None
        assert p["body_sum"] is None and p["gzipped"] is None


def test_bmp_roundtrip():
    """BMP codec (round 10): bottom-up rows, every 4-byte padding
    amount, BGR↔RGB swizzle, 8-bit color-table lookup, top-down
    (negative-height) streams, and error contracts."""
    import random
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        bmp_bytes,
        bmp_decode_pixels,
    )

    rng = random.Random(8)
    for w in (1, 2, 3, 4, 5, 7):
        h = rng.randint(1, 9)
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        d = bmp_decode_pixels(bmp_bytes(w, h, rgb))
        assert d["raster"] == rgb and d["bpp"] == 24, (w, h)
    pal = bytes((7 * j) % 256 for j in range(15))
    idx = bytes((x + 2 * y) % 5 for y in range(7) for x in range(9))
    d = bmp_decode_pixels(bmp_bytes(9, 7, idx, palette=pal))
    assert d["raster"] == b"".join(pal[3 * v : 3 * v + 3] for v in idx)
    assert d["palette_size"] == 5
    # top-down: negative height reads rows in file order
    b = bytearray(bmp_bytes(4, 3, bytes(range(36))))
    b[18:26] = _struct.pack("<ii", 4, -3)
    orig = bytes(range(36))
    d2 = bmp_decode_pixels(bytes(b))
    assert d2["top_down"] is True
    assert d2["raster"] == b"".join(
        orig[12 * (2 - y) : 12 * (3 - y)] for y in range(3)
    )
    # contract: truncation, compression flag, index past table
    with _pytest.raises(ValueError):
        bmp_decode_pixels(bmp_bytes(4, 2, bytes(24))[:-3])
    comp = bytearray(bmp_bytes(4, 2, bytes(24)))
    comp[30] = 1  # BI_RLE8
    with _pytest.raises(ValueError):
        bmp_decode_pixels(bytes(comp))
    with _pytest.raises(ValueError):
        bmp_bytes(2, 2, bytes([5, 0, 0, 0]), palette=bytes(9))


def test_g711_expand():
    """G.711 (round 10): segment+mantissa expansion hits the canonical
    extremes (±32124 µ-law, ±32256 A-law), zero codes map to 0/±8, the
    container round-trips all 256 codes under both laws, and non-8-bit
    G.711 raises."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        alaw_expand,
        ulaw_expand,
        wav_decode_samples,
        wav_g711_bytes,
    )

    assert ulaw_expand(0x80) == 32124 and ulaw_expand(0x00) == -32124
    assert ulaw_expand(0xFF) == 0 and ulaw_expand(0x7F) == 0
    assert alaw_expand(0xAA) == 32256 and alaw_expand(0x2A) == -32256
    assert alaw_expand(0xD5) == 8 and alaw_expand(0x55) == -8
    codes = bytes(range(256))
    for law, expand in (("ulaw", ulaw_expand), ("alaw", alaw_expand)):
        d = wav_decode_samples(wav_g711_bytes(1, 8000, codes, law))
        assert d["encoding"] == law and d["samples"] == [expand(c) for c in codes]
        # µ-law expansion is symmetric in the complemented code space
    with _pytest.raises(ValueError):
        wav_g711_bytes(1, 8000, codes, "mp3")
    # a G.711 fmt chunk declaring 16 bits is malformed
    b = bytearray(wav_g711_bytes(1, 8000, codes, "ulaw"))
    p = b.find(b"fmt ") + 8 + 14
    b[p] = 16
    with _pytest.raises(ValueError):
        wav_decode_samples(bytes(b))


def test_adpcm_decode():
    """IMA ADPCM (round 11): the decoder's predictor/step-index state
    machine matches an independent in-test reference over every nibble
    value and step-table region, multi-block streams re-seed from each
    block header, the int16 clamp engages at both rails, and the
    container rejects malformed fmt metadata."""
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEP,
        parse_media,
        wav_adpcm_bytes,
        wav_decode_samples,
    )

    def ref(blocks, spb):
        out = []
        for pred, idx, nibs in blocks:
            out.append(pred)
            for nib in nibs[: spb - 1]:
                st = _IMA_STEP[idx]
                diff = (st >> 3) + (st if nib & 4 else 0) \
                    + (st >> 1 if nib & 2 else 0) + (st >> 2 if nib & 1 else 0)
                pred = max(-32768, min(32767, pred - diff if nib & 8 else pred + diff))
                idx = max(0, min(88, idx + _IMA_INDEX[nib & 7]))
                out.append(pred)
        return out

    # every nibble value, odd nibble count (pad nibble ignored)
    blocks = [(-2000, 0, [i % 16 for i in range(33)]),
              (1500, 88, [(7 * i) % 16 for i in range(33)])]
    d = wav_decode_samples(wav_adpcm_bytes(8000, blocks, 34))
    assert d["encoding"] == "ima_adpcm" and d["channels"] == 1
    assert d["samples"] == ref(blocks, 34)
    assert len(d["samples"]) == 68
    # clamp rails: max-step all-positive then all-negative nibbles
    rail = [(32000, 88, [7] * 30), (-32000, 88, [15] * 30)]
    s = wav_decode_samples(wav_adpcm_bytes(8000, rail, 31))["samples"]
    assert max(s) == 32767 and min(s) == -32768
    # parse_media prices block-framed sample counts without decoding
    meta = parse_media(wav_adpcm_bytes(8000, blocks, 34))
    assert meta["media_type"] == "audio/wav" and meta["n_samples"] == 68
    # malformed: step index out of range
    with _pytest.raises(ValueError):
        wav_decode_samples(wav_adpcm_bytes(8000, [(0, 89, [0] * 30)], 31))
    # malformed: data chunk not whole blocks
    b = bytearray(wav_adpcm_bytes(8000, blocks, 34))
    with _pytest.raises(ValueError):
        wav_decode_samples(bytes(b[:-2]))
    # malformed: fmt chunk without the wSamplesPerBlock extension
    p = b.find(b"fmt ")
    sz = _struct.unpack("<I", b[p + 4 : p + 8])[0]
    trunc = b[: p + 8 + 16] + b[p + 8 + sz :]
    trunc[p + 4 : p + 8] = _struct.pack("<I", 16)
    with _pytest.raises(ValueError):
        wav_decode_samples(bytes(trunc))
    # stereo (round 11): independent per-channel state machines over
    # interleaved 4-byte nibble words — matches the reference model
    # channel-by-channel, output interleaved
    sblocks = [
        [(-2000, 0, [i % 16 for i in range(32)]),
         (1500, 88, [(7 * i) % 16 for i in range(32)])],
        [(100, 44, [(3 * i) % 16 for i in range(32)]),
         (-100, 22, [(5 * i) % 16 for i in range(32)])],
    ]
    ds = wav_decode_samples(wav_adpcm_bytes(8000, sblocks, 33, channels=2))
    assert ds["channels"] == 2 and ds["n_samples"] == 66
    exp = []
    for chans in sblocks:
        l, r = (ref([c], 33) for c in chans)
        exp += [v for i in range(33) for v in (l[i], r[i])]
    assert ds["samples"] == exp
    # stereo needs wSamplesPerBlock - 1 divisible by 8 (word layout)
    with _pytest.raises(ValueError):
        wav_adpcm_bytes(8000, sblocks, 30, channels=2)
    # N-channel (round 13 — the 3+-channel refusal retired): one
    # 4-byte seed per channel, words rotating channel 0..N-1, output
    # interleaved; each channel matches the reference model
    qblocks = [[
        (-2000 + 900 * c, (17 * c + 3) % 89, [(j * (c + 3)) % 16 for j in range(16)])
        for c in range(4)
    ]]
    dq = wav_decode_samples(wav_adpcm_bytes(8000, qblocks, 17, channels=4))
    assert dq["channels"] == 4 and dq["n_samples"] == 17
    per_chan = [ref([t], 17) for t in qblocks[0]]
    assert dq["samples"] == [per_chan[c][i] for i in range(17) for c in range(4)]
    # a channel count inconsistent with the block layout still raises:
    # flipping a mono stream's fmt channels to 3 leaves block_align
    # smaller than the three 4-byte seed headers
    b2 = bytearray(wav_adpcm_bytes(8000, blocks, 34))
    b2[p + 10] = 3
    with _pytest.raises(ValueError):
        wav_decode_samples(bytes(b2))


def test_msadpcm_decode():
    """MS ADPCM (format tag 0x02, round 14 — the last WAV refusal
    retired): the two-tap coefficient predictor + adaptive delta
    matches an independent in-test reference model over every nibble
    value, all 7 standard coefficient pairs and a non-standard 8th
    pair read from the STREAM's fmt table; division is the spec's
    C-style truncation toward zero (the ffmpeg behavior — a floor
    here drifts 1 LSB on negative predictor sums); the header seeds
    ARE samples 0 and 1 (samp2 first); nibbles walk HIGH-first
    rotating channels; and malformed geometry / predictor indexes /
    ragged blocks raise."""
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        _MS_ADAPT,
        _MS_COEF,
        parse_media,
        wav_decode_samples,
        wav_msadpcm_bytes,
    )

    def tdiv(v):  # independent truncating /256
        return int(v / 256)

    def ref(chan_blocks, spb):
        # independent model, one channel at a time (the decoder must
        # interleave; we compare de-interleaved)
        out = []
        for ci, delta, s1, s2, nibs in chan_blocks:
            c1, c2 = _MS_COEF[ci]
            vals = [s2, s1]
            for nib in nibs[: spb - 2]:
                sgn = nib - 16 if nib >= 8 else nib
                p = tdiv(s1 * c1 + s2 * c2) + sgn * delta
                p = max(-32768, min(32767, p))
                s2, s1 = s1, p
                vals.append(p)
                delta = max(16, tdiv(_MS_ADAPT[nib] * delta))
            out.append(vals)
        return out

    # mono: every nibble value, every standard coefficient pair across
    # blocks, negative predictor sums (exercising trunc-vs-floor)
    blocks = [
        (ci, 16 + 37 * ci, (1000 * ci - 3000) % 4001 - 2000,
         (777 * ci + 11) % 4001 - 2000, [(i + ci) % 16 for i in range(34)])
        for ci in range(7)
    ]
    d = wav_decode_samples(wav_msadpcm_bytes(8000, blocks, 36))
    assert d["encoding"] == "ms_adpcm" and d["channels"] == 1
    want = [v for blk in ref(blocks, 36) for v in blk]
    assert d["samples"] == want
    assert d["n_samples"] == 36 * 7
    # trunc-vs-floor distinguisher: coef pair 1 (512,-256) with s1=0,
    # s2=1 gives predictor sum -256·1 = -256 → trunc(-256/256) = -1
    # either way; use s2=1,c2=-255? table is fixed — craft sum not
    # divisible by 256: s1=1,s2=2 with (512,-256): 512-512=0; use
    # (460,-208): 460-416=44 → 0 both. negative: s1=-1,s2=0 → -460
    # → trunc=-1, floor=-2. delta=16, nib=0 → sample=trunc only.
    tb = [(5, 16, -1, 0, [0] * 2)]
    dt = wav_decode_samples(wav_msadpcm_bytes(8000, tb, 4))
    assert dt["samples"][2] == -1  # floor would give -2
    # stereo: channels advance independent state, nibbles rotate per
    # channel, output interleaves ch0,ch1 starting from the samp2 seeds
    sblocks = [[
        (1, 100, 900, -800, [(3 * i) % 16 for i in range(10)]),
        (6, 48, -1200, 700, [(5 * i + 1) % 16 for i in range(10)]),
    ]]
    ds = wav_decode_samples(wav_msadpcm_bytes(8000, sblocks, 12, channels=2))
    assert ds["channels"] == 2 and ds["n_samples"] == 12
    r0, r1 = ref(sblocks[0], 12)
    assert ds["samples"] == [v for i in range(12) for v in (r0[i], r1[i])]
    # a NON-STANDARD 8th coefficient pair carried by the stream is
    # honored (the table comes from the fmt chunk, not a constant)
    xco = _MS_COEF + ((300, -100),)
    xb = [(7, 20, 500, -400, [(9 * i) % 16 for i in range(8)])]
    dx = wav_decode_samples(
        wav_msadpcm_bytes(8000, xb, 10, coefs=xco)
    )
    c1, c2 = 300, -100
    s2v, s1v, delta = -400, 500, 20
    vals = [s2v, s1v]
    for nib in xb[0][4]:
        sgn = nib - 16 if nib >= 8 else nib
        p = max(-32768, min(32767, tdiv(s1v * c1 + s2v * c2) + sgn * delta))
        s2v, s1v = s1v, p
        vals.append(p)
        delta = max(16, tdiv(_MS_ADAPT[nib] * delta))
    assert dx["samples"] == vals
    # parse_media prices block-framed sample counts without decoding
    meta = parse_media(wav_msadpcm_bytes(8000, blocks, 36))
    assert meta["media_type"] == "audio/wav" and meta["n_samples"] == 36 * 7
    # malformed: predictor index past the stream's table
    bad = bytearray(wav_msadpcm_bytes(8000, [(0, 16, 0, 0, [0] * 8)], 10))
    p = bad.find(b"data") + 8
    bad[p] = 7  # 7 standard pairs → max index 6
    with _pytest.raises(ValueError, match="predictor index"):
        wav_decode_samples(bytes(bad))
    # malformed: data chunk not whole blocks
    whole = wav_msadpcm_bytes(8000, [(0, 16, 0, 0, [0] * 8)], 10)
    with _pytest.raises(ValueError, match="whole blocks"):
        wav_decode_samples(whole[:-2])
    # malformed: block align inconsistent with wSamplesPerBlock
    ba = bytearray(whole)
    q = ba.find(b"fmt ") + 8 + 12
    ba[q:q + 2] = _struct.pack("<H", 13)
    with _pytest.raises(ValueError, match="geometry"):
        wav_decode_samples(bytes(ba))
    # encoder-side guards
    with _pytest.raises(ValueError, match="whole bytes"):
        wav_msadpcm_bytes(8000, [(0, 16, 0, 0, [0] * 7)], 9)
    with _pytest.raises(ValueError, match="out of range"):
        wav_msadpcm_bytes(8000, [(9, 16, 0, 0, [0] * 8)], 10)


def test_avi_mjpeg_decode():
    """AVI/MJPEG (round 14 — video's first real container walk):
    decode(encode(frames)) recovers every frame's raster exactly
    (constant-tile baseline JPEG per '00dc' chunk), the header tree
    round-trips (dims, frame count, frame period), parse_media prices
    the container without decoding, and the structural contract
    raises on: frame-count lies, audio streams, non-MJPEG codecs,
    uncompressed frames, dimension mismatches and chunk overruns."""
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.avicodec import (
        avi_decode_frames,
        avi_mjpeg_bytes,
    )
    from lfb_data_warehouse_spark.operators.jpegcodec import jpeg_pixel_bytes
    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_real,
        parse_media,
    )

    w, h = 16, 8
    rasters = [
        bytes((11 * (x // 8) + 23 * (y // 8) + 41 * f) % 256
              for y in range(h) for x in range(w))
        for f in range(3)
    ]
    frames = [jpeg_pixel_bytes(w, h, r) for r in rasters]
    blob = avi_mjpeg_bytes(w, h, frames, fps=8)
    d = avi_decode_frames(blob)
    assert (d["media_type"], d["width"], d["height"], d["n_frames"]) == (
        "video/avi", w, h, 3,
    )
    assert d["usec_per_frame"] == 1_000_000 // 8
    assert [bytes(fr["raster"]) for fr in d["frames"]] == rasters
    # decode_real dispatches on the sniffed container
    assert decode_real(blob)["media_type"] == "video/avi"
    # container-only pricing: dims + frame count, no frame decode
    meta = parse_media(blob)
    assert (meta["media_type"], meta["width"], meta["height"],
            meta["n_samples"]) == ("video/avi", w, h, 3)
    # odd-sized frames get word-aligned: JPEG blobs are arbitrary-length
    one = avi_mjpeg_bytes(8, 8, [jpeg_pixel_bytes(8, 8, bytes(64))])
    assert avi_decode_frames(one)["n_frames"] == 1
    # frame-count lie in avih: declared != carried
    m = bytearray(blob)
    p = m.find(b"avih") + 8
    m[p + 16:p + 20] = _struct.pack("<I", 4)
    with _pytest.raises(ValueError, match="declares 4 frames"):
        avi_decode_frames(bytes(m))
    # an audio stream is a named refusal
    m = bytearray(blob)
    p = m.find(b"strh") + 8
    m[p:p + 4] = b"auds"
    with _pytest.raises(ValueError, match="vids"):
        avi_decode_frames(bytes(m))
    # a non-MJPEG codec (both strh handler and strf compression) raises
    m = bytearray(blob)
    p = m.find(b"strh") + 8
    m[p + 4:p + 8] = b"dvsd"
    q = m.find(b"strf") + 8
    m[q + 16:q + 20] = b"dvsd"
    with _pytest.raises(ValueError, match="MJPEG"):
        avi_decode_frames(bytes(m))
    # uncompressed '00db' frames are refused by name
    m = bytearray(blob)
    p = m.find(b"00dc")
    m[p:p + 4] = b"00db"
    with _pytest.raises(ValueError, match="db"):
        avi_decode_frames(bytes(m))
    # header/frame dimension mismatch
    m = bytearray(blob)
    p = m.find(b"avih") + 8
    m[p + 32:p + 36] = _struct.pack("<I", w + 8)
    with _pytest.raises(ValueError, match="stream header says"):
        avi_decode_frames(bytes(m))
    # a chunk overrunning its parent (truncation) raises
    with _pytest.raises(ValueError, match="overruns"):
        avi_decode_frames(blob[:-7])
    # encoder guards
    with _pytest.raises(ValueError, match="at least one frame"):
        avi_mjpeg_bytes(8, 8, [])
    with _pytest.raises(ValueError, match="positive"):
        avi_mjpeg_bytes(0, 8, frames)
    # a '01dc' chunk under a single declared stream is a structural
    # lie — decoding it as a stream-0 frame would silently mis-order
    m = bytearray(blob)
    p = m.find(b"00dc")
    m[p:p + 2] = b"01"
    with _pytest.raises(ValueError, match="undeclared stream"):
        avi_decode_frames(bytes(m))
    # a frameless AVI raises (symmetric with the encoder refusal):
    # hand-build a container declaring 0 frames with an empty movi list
    hdr_end = blob.find(b"LIST", blob.find(b"movi") - 8)
    hdrl = blob[12:hdr_end]
    movi = b"LIST" + _struct.pack("<I", 4) + b"movi"
    body = hdrl + movi
    empty = bytearray(b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"AVI " + body)
    p = empty.find(b"avih") + 8
    empty[p + 16:p + 20] = _struct.pack("<I", 0)
    with _pytest.raises(ValueError, match="no frames"):
        avi_decode_frames(bytes(empty))
    # with_index=False: no idx1 chunk AND the AVIF_HASINDEX flag off
    noidx = avi_mjpeg_bytes(w, h, frames, with_index=False)
    assert b"idx1" not in noidx
    p = noidx.find(b"avih") + 8
    assert _struct.unpack("<I", noidx[p + 12:p + 16])[0] == 0  # dwFlags
    assert avi_decode_frames(noidx)["n_frames"] == 3


def test_avi_av_interleaved_decode():
    """AVI two-stream interleave (round 14b — retires the round-14
    audio-stream and uncompressed-frame refusals): uncompressed 24-bit
    DIB frames round-trip exactly through padded-stride storage in
    BOTH orientations (bottom-up positive biHeight, top-down
    negative), PCM16 audio round-trips through '01wb' chunks split
    MID-SAMPLE (decoders must concatenate before sample-decoding), and
    the structural contract raises on: non-24-bit DIB, non-PCM audio
    tags, zero-channel/8-bit audio, block-align lies, sample-count
    lies, chunks targeting undeclared or wrong-type streams, stream
    lists contradicting the avih count, and audio chunks without an
    'auds' strl."""
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.avicodec import (
        avi_av_bytes,
        avi_decode_frames,
        avi_frame_blobs,
        decode_avi_audio,
    )

    w, h, nf = 5, 3, 2  # stride 16 > 15: the row padding is real
    frames = [
        bytes((3 * x + 5 * y + 11 * c + 41 * f) % 256
              for y in range(h) for x in range(w) for c in range(3))
        for f in range(nf)
    ]
    samples = [(37 * i + 13) % 4001 - 2000 for i in range(45)]
    audio = _struct.pack(f"<{len(samples)}h", *samples)
    for bottom_up in (True, False):
        blob = avi_av_bytes(w, h, frames, codec="DIB", audio=audio,
                            audio_rate=8100, bottom_up=bottom_up,
                            audio_splits=[7, len(audio) - 7])
        d = avi_decode_frames(blob)
        assert d["codec"] == "dib"
        assert [bytes(fr["raster"]) for fr in d["frames"]] == frames
        assert d["audio"]["samples"] == samples
        assert (d["audio"]["rate"], d["audio"]["channels"],
                d["audio"]["n_samples"]) == (8100, 1, 45)
        # the cheap walk keeps audio bytes undecoded; decode_avi_audio
        # concatenates across the mid-sample chunk split
        meta = avi_frame_blobs(blob)
        assert decode_avi_audio(meta) == samples
    # stereo: n_samples counts frames (blocks), not int16 values
    st = [(29 * i) % 4001 - 2000 for i in range(20)]
    d2 = avi_decode_frames(
        avi_av_bytes(4, 2, [bytes(24)], codec="DIB",
                     audio=_struct.pack("<20h", *st), audio_channels=2)
    )
    assert d2["audio"]["n_samples"] == 10 and d2["audio"]["samples"] == st
    # an 'auds' stream with zero samples is consistent, not a poison
    d3 = avi_decode_frames(
        avi_av_bytes(4, 2, [bytes(24)], codec="DIB", audio=b"")
    )
    assert d3["audio"]["n_samples"] == 0 and d3["audio"]["samples"] == []
    # silent A/V-capable container: MJPEG wrapper path carries audio=None
    blob = avi_av_bytes(w, h, frames, codec="DIB", audio=audio,
                        audio_splits=[7, len(audio) - 7])

    def poison(mutate, match):
        m = bytearray(blob)
        mutate(m)
        with _pytest.raises(ValueError, match=match):
            avi_decode_frames(bytes(m))

    def at(m, marker, last=False):
        return (m.rfind(marker) if last else m.find(marker)) + 8

    # non-24-bit DIB (biBitCount=8)
    poison(lambda m: m.__setitem__(slice(at(m, b"strf") + 14, at(m, b"strf") + 16),
                                   _struct.pack("<H", 8)), "24-bit")
    # non-PCM audio (wFormatTag=2, MS ADPCM inside AVI is out of scope)
    poison(lambda m: m.__setitem__(slice(at(m, b"strf", True), at(m, b"strf", True) + 2),
                                   _struct.pack("<H", 2)), "PCM only")
    # zero-channel audio
    poison(lambda m: m.__setitem__(slice(at(m, b"strf", True) + 2, at(m, b"strf", True) + 4),
                                   _struct.pack("<H", 0)), "zero channels")
    # block-align lie (4 for mono 16-bit)
    poison(lambda m: m.__setitem__(slice(at(m, b"strf", True) + 12, at(m, b"strf", True) + 14),
                                   _struct.pack("<H", 4)), "block align")
    # sample-count lie in strh dwLength
    poison(lambda m: m.__setitem__(slice(at(m, b"strh", True) + 32, at(m, b"strh", True) + 36),
                                   _struct.pack("<I", 99)), "declares 99 audio samples")
    # '02wb': a stream the header tree never declared
    poison(lambda m: m.__setitem__(slice(m.find(b"01wb"), m.find(b"01wb") + 2),
                                   b"02"), "undeclared")
    # audio chunk targeting the video stream
    poison(lambda m: m.__setitem__(slice(m.find(b"01wb"), m.find(b"01wb") + 2),
                                   b"00"), "non-'auds'")
    # compressed chunk in the DIB-declared stream
    poison(lambda m: m.__setitem__(slice(m.find(b"00db"), m.find(b"00db") + 4),
                                   b"00dc"), "DIB-declared")
    # second strl retyped: text tracks are a named refusal
    poison(lambda m: m.__setitem__(slice(at(m, b"strh", True), at(m, b"strh", True) + 4),
                                   b"txts"), "targets")
    # avih stream count contradicting the strl list
    poison(lambda m: m.__setitem__(slice(at(m, b"avih") + 24, at(m, b"avih") + 28),
                                   _struct.pack("<I", 1)), "strl lists")
    # DIB geometry lie in strf biWidth
    poison(lambda m: m.__setitem__(slice(at(m, b"strf") + 4, at(m, b"strf") + 8),
                                   _struct.pack("<i", 6)), "contradicts")
    # encoder guards
    with _pytest.raises(ValueError, match="frame-aligned"):
        avi_av_bytes(4, 2, [bytes(24)], codec="DIB", audio=audio[:-1])
    with _pytest.raises(ValueError, match="partition"):
        avi_av_bytes(4, 2, [bytes(24)], codec="DIB", audio=audio,
                     audio_splits=[4])
    with _pytest.raises(ValueError, match="geometry"):
        avi_av_bytes(4, 2, [bytes(23)], codec="DIB")


def test_flac_roundtrip():
    """FLAC codec (round 11): every subframe family (constant,
    verbatim, fixed orders 0-4, LPC), Rice partition orders 0-2,
    wasted-bits detect+restore, 8/16-bit, multi-byte UTF-8 frame
    numbers — all round-trip EXACTLY (FLAC is lossless); CRC-16
    catches payload corruption and reserved shapes raise."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.flaccodec import (
        _BitReader,
        _read_utf8_code,
        _utf8_code,
        flac_bytes,
        flac_decode_samples,
    )

    for n in (0, 127, 128, 2047, 2048, 65535, 65536, 1 << 20, (1 << 31) - 1):
        assert _read_utf8_code(_BitReader(_utf8_code(n))) == n

    rng = random.Random(7)

    def rt(frames, bps=16):
        d = flac_decode_samples(flac_bytes(44100, bps, frames))
        assert d["samples"] == [s for fr, _ in frames for s in fr]
        return d

    rt([([123] * 40, ("constant",))])
    rt([([rng.randint(-30000, 30000) for _ in range(33)], ("verbatim",))])
    for o in range(5):
        for p in range(3):
            s = [rng.randint(-15000, 15000) for _ in range(48)]
            assert rt([(s, ("fixed", o, p))])["subframes"] == f"fixed{o}"
    for coefs, shift, prec in [([3, -1], 1, 4), ([5], 2, 5), ([2, -3, 1], 2, 4)]:
        s = [rng.randint(-12000, 12000) for _ in range(50)]
        assert rt([(s, ("lpc", coefs, shift, prec, 1))])["subframes"] == f"lpc{len(coefs)}"
    # wasted bits: common trailing zeros are shifted out and restored
    rt([([4 * rng.randint(-4000, 4000) for _ in range(36)], ("fixed", 2, 0))])
    # 8-bit samples use the 0b001 size code
    rt([([rng.randint(-100, 100) for _ in range(40)], ("fixed", 1, 1))], bps=8)
    # multi-frame with mixed kinds; frame numbers stay in order
    d = rt([([77] * 30, ("constant",)),
            ([rng.randint(-9000, 9000) for _ in range(44)], ("fixed", 3, 2)),
            ([rng.randint(-9000, 9000) for _ in range(28)], ("lpc", [3, -1], 1, 4, 0))])
    assert d["n_frames"] == 3 and d["subframes"] == "constant,fixed3,lpc2"
    # >127 frames exercises multi-byte UTF-8 frame numbers in-stream
    assert rt([([i % 100] * 8, ("constant",)) for i in range(140)])["n_frames"] == 140
    # independent-channel stereo: per-channel subframes, interleaved
    # output, MD5 over the interleaved stream (decorrelated left/side
    # etc. stays an explicit refusal)
    left = [rng.randint(-9000, 9000) for _ in range(40)]
    right = [rng.randint(-9000, 9000) for _ in range(40)]
    ds = flac_decode_samples(flac_bytes(
        44100, 16,
        [([left, right], [("fixed", 2, 1), ("verbatim",)])], channels=2,
    ))
    assert ds["channels"] == 2 and ds["n_samples"] == 40
    assert ds["samples"] == [v for i in range(40) for v in (left[i], right[i])]
    assert ds["subframes"] == "fixed2+verbatim"
    # corruption lands on CRC-16 (or MD5), never a silent mis-decode
    blob = bytearray(flac_bytes(
        44100, 16, [([rng.randint(-9000, 9000) for _ in range(40)], ("fixed", 2, 1))]
    ))
    blob[-7] ^= 0x40
    with _pytest.raises(ValueError):
        flac_decode_samples(bytes(blob))
    # tampered STREAMINFO MD5 fails the stream-level integrity check
    blob2 = bytearray(flac_bytes(44100, 16, [([500] * 30, ("constant",))]))
    blob2[42 - 3] ^= 0xFF  # last MD5 byte (streaminfo spans bytes 8..42)
    with _pytest.raises(ValueError):
        flac_decode_samples(bytes(blob2))
    # allocation cap is denominated in int-list bytes (~8/sample), not
    # raw bps/8 bytes: a crafted huge-total STREAMINFO must refuse
    # BEFORE decoding (a ~50 KB stream of constant frames would
    # otherwise expand to GBs of Python ints — a stage-killer)
    import struct as _struct2

    blob4 = bytearray(flac_bytes(44100, 16, [([0] * 16, ("constant",))]))
    si = bytearray(blob4[8:42])
    total = 2 ** 27  # 2^28 raw bytes — passes a bps/8 cap, fails the x8 cap
    si[13] = (si[13] & 0xF0) | ((total >> 32) & 0x0F)
    si[14:18] = _struct2.pack(">I", total & 0xFFFFFFFF)
    blob4[8:42] = si
    with _pytest.raises(ValueError, match="allocation cap"):
        flac_decode_samples(bytes(blob4))
    # decorrelated stereo round-trips exactly — all three assignments,
    # including the mid/side parity recovery and the 17-bit side
    # channel at the int16 rails
    left = [rng.randint(-20000, 20000) for _ in range(40)]
    right = [rng.randint(-20000, 20000) for _ in range(40)]
    exp2 = [v for i in range(40) for v in (left[i], right[i])]
    for asg in ("left_side", "right_side", "mid_side"):
        dd = flac_decode_samples(flac_bytes(
            44100, 16, [([left, right], [("fixed", 2, 1), ("verbatim",)])],
            channels=2, assignment=asg,
        ))
        assert dd["samples"] == exp2, asg
    rails = flac_decode_samples(flac_bytes(
        44100, 16, [([[32767] * 16, [-32768] * 16],
                     [("constant",), ("constant",)])],
        channels=2, assignment="left_side",
    ))
    assert rails["samples"][:2] == [32767, -32768]  # side needed bit 17
    # variable blocking strategy: the coded number is the frame's
    # first-sample index, verified against the running decode count
    vb = [([rng.randint(-9000, 9000) for _ in range(30)], ("fixed", 2, 0)),
          ([777] * 20, ("constant",)),
          ([rng.randint(-9000, 9000) for _ in range(26)], ("verbatim",))]
    dv = flac_decode_samples(flac_bytes(44100, 16, vb, variable_blocking=True))
    assert dv["samples"] == [s for fr, _ in vb for s in fr]
    # a RESERVED channel assignment (0b1011) is an explicit refusal:
    # rewrite a valid frame's assignment nibble and re-sign the header
    # CRC-8 so the refusal — not a CRC mismatch — is what fires
    from lfb_data_warehouse_spark.operators.flaccodec import _crc8

    blob3 = bytearray(flac_bytes(
        44100, 16, [([[500] * 30, [250] * 30], [("constant",), ("constant",)])],
        channels=2,
    ))
    fr = 42  # fLaC(4) + metadata header(4) + STREAMINFO(34)
    assert blob3[fr] == 0xFF and blob3[fr + 3] >> 4 == 0b0001
    blob3[fr + 3] = (0b1011 << 4) | (blob3[fr + 3] & 0x0F)
    hdr_len = 4 + 1 + 2  # fixed fields + 1-byte frame number + 16-bit blocksize
    blob3[fr + hdr_len] = _crc8(bytes(blob3[fr : fr + hdr_len]))
    with _pytest.raises(ValueError, match="reserved channel assignment"):
        flac_decode_samples(bytes(blob3))


def test_gif_roundtrip():
    """GIF codec (round 10): real LZW — dictionary growth, code-width
    increase, full-dictionary clear/reset, the cScSc corner case,
    sub-block framing, 4-pass interlacing, multi-frame streams — all
    round-trip EXACTLY (LZW is lossless)."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.gifcodec import (
        gif_bytes,
        gif_decode_pixels,
    )

    rng = random.Random(42)
    for n_colors in (2, 4, 16, 256):
        pal = bytes((7 * j) % 256 for j in range(3 * n_colors))
        for il in (False, True):
            w, h = rng.randint(1, 23), rng.randint(1, 17)
            idx = bytes(rng.randrange(n_colors) for _ in range(w * h))
            d = gif_decode_pixels(gif_bytes(w, h, idx, pal, interlace=il))
            assert d["raster"] == b"".join(pal[3 * v : 3 * v + 3] for v in idx)
            assert d["palette_size"] == n_colors and d["n_frames"] == 1
    # high-entropy 200x100 frame forces the dictionary to 4096 + reset
    w, h = 200, 100
    pal = bytes((13 * j) % 256 for j in range(768))
    idx = bytes(rng.randrange(256) for _ in range(w * h))
    d = gif_decode_pixels(gif_bytes(w, h, idx, pal))
    assert d["raster"] == b"".join(pal[3 * v : 3 * v + 3] for v in idx)
    # multi-frame order and count
    pal = bytes(range(24))
    w, h, nf = 9, 6, 4
    idx = bytes((x + 2 * y + 3 * f) % 8 for f in range(nf)
                for y in range(h) for x in range(w))
    d = gif_decode_pixels(gif_bytes(w, h, idx, pal, n_frames=nf))
    assert d["n_frames"] == nf
    for f in range(nf):
        fr = idx[f * w * h : (f + 1) * w * h]
        assert d["frames"][f] == b"".join(pal[3 * v : 3 * v + 3] for v in fr)
    # contract: truncation, bad palette sizes, index past palette
    with _pytest.raises(ValueError):
        gif_decode_pixels(gif_bytes(4, 4, bytes(16), bytes(6))[:-5])
    with _pytest.raises(ValueError):
        gif_bytes(4, 4, bytes(16), bytes(9))  # 3 entries: not a power of 2
    with _pytest.raises(ValueError):
        gif_bytes(2, 2, bytes([3, 0, 0, 0]), bytes(6))  # index 3 past 2 colors


def test_jpeg_lossless_roundtrip():
    """Lossless JPEG (SOF3, round 10): EXACT reconstruction for every
    predictor at every precision on random rasters — no block grid, no
    tolerance. Boundary rules, the SSSS=16 category, point transform,
    3-component interleave, and contract errors all pinned."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_lossless_bytes,
    )

    rng = random.Random(99)
    for pred in range(1, 8):
        for prec in (8, 12, 16):
            w, h = rng.randint(1, 13), rng.randint(1, 9)
            samples = [rng.randint(0, (1 << prec) - 1) for _ in range(w * h)]
            out = jpeg_decode_pixels(
                jpeg_lossless_bytes(w, h, [samples], predictor=pred, precision=prec)
            )
            got = out["samples16"] if prec > 8 else list(out["raster"])
            assert got == samples, (pred, prec, w, h)
            assert out["lossless"] is True and out["predictor"] == pred
    # 3-component interleaved 16-bit
    w, h = 7, 5
    ps = [[rng.randint(0, 65535) for _ in range(w * h)] for _ in range(3)]
    out = jpeg_decode_pixels(jpeg_lossless_bytes(w, h, ps, predictor=4, precision=16))
    assert out["samples16"] == ps[0] + ps[1] + ps[2]
    # SSSS=16: a +32768 first difference (max-value plane at default
    # prediction 32768... exercised by constant 65535)
    out = jpeg_decode_pixels(jpeg_lossless_bytes(4, 4, [[65535] * 16], precision=16))
    assert out["samples16"] == [65535] * 16
    # point transform drops/restores low bits
    samples = [rng.randint(0, 255) for _ in range(24)]
    out = jpeg_decode_pixels(
        jpeg_lossless_bytes(6, 4, [samples], predictor=7, point_transform=2)
    )
    assert list(out["raster"]) == [(v >> 2) << 2 for v in samples]
    # contract errors
    with _pytest.raises(ValueError):
        jpeg_lossless_bytes(4, 4, [[0] * 16], predictor=8)
    with _pytest.raises(ValueError):
        jpeg_lossless_bytes(4, 4, [[300] * 16], precision=8)
    with _pytest.raises(ValueError):
        jpeg_lossless_bytes(4, 4, [[0] * 16], precision=17)


def test_jpeg12_progressive():
    """12-bit progressive JPEG (round 11 — 'SOF2 stays 8-bit' was the
    refusal): progressive must equal extended-sequential bit-for-bit on
    random u12 rasters (both quantize identically, refinement restores
    every coefficient), constant tiles exact, DRI composes, subsampled
    12-bit progressive works, and out-of-range samples raise."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
        jpeg_progressive_bytes,
    )

    rng = random.Random(13)
    # cross-decoder parity on random rasters, gray + subsampled color
    for (w, h), samp in [((16, 16), None), ((24, 16), [(3, 1), (1, 1), (1, 1)]),
                         ((32, 16), [(2, 1), (1, 1), (1, 1)]),
                         ((16, 32), [(1, 2), (1, 1), (1, 1)])]:
        if samp is None:
            dims = [(w, h)]
        else:
            hmax = max(s[0] for s in samp)
            vmax = max(s[1] for s in samp)
            dims = [(w * hs // hmax, h * vs // vmax) for hs, vs in samp]
        planes = [[rng.randrange(4096) for _ in range(cw * ch)] for cw, ch in dims]
        dp = jpeg_decode_pixels(
            jpeg_progressive_bytes(w, h, planes, sampling=samp, precision=12))
        ds = jpeg_decode_pixels(
            jpeg_planes_bytes(w, h, planes, sampling=samp, precision=12))
        assert dp["bit_depth"] == 12 and dp["progressive"]
        assert dp["samples16"] == ds["samples16"]
    # constant tiles exact; restart markers compose inside 12-bit scans
    tile = [(499 * (x // 8) + 257 * (y // 8) + 61) % 4096
            for y in range(16) for x in range(24)]
    for ri in (0, 1, 2):
        d = jpeg_decode_pixels(
            jpeg_progressive_bytes(24, 16, [tile], precision=12, restart_interval=ri))
        assert d["samples16"] == tile and d["n_scans"] == 6
    # contract: out-of-range 12-bit samples raise at encode
    with _pytest.raises(ValueError):
        jpeg_progressive_bytes(8, 8, [[5000] * 64], precision=12)
    with _pytest.raises(ValueError):
        jpeg_progressive_bytes(8, 8, [[0] * 64], precision=10)


def test_jpeg12_extended_sequential():
    """12-bit JPEG (SOF1, round 10 — formerly an explicit ValueError):
    constant tiles are exact at quant 1 (DC = 8·(v−2048) is float-exact),
    random u12 rasters round-trip within ±1 (float DCT rounding only),
    restarts compose, and contract violations raise."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
    )

    for d in (5, 9, 14):
        w, h = 8 * (d % 4 + 1), 8 * (d % 3 + 1)
        samples = [
            (997 * (x // 8) + 1499 * (y // 8) + 131 * d) % 4096
            for y in range(h)
            for x in range(w)
        ]
        out = jpeg_decode_pixels(jpeg_planes_bytes(w, h, [samples], precision=12))
        assert out["bit_depth"] == 12 and out["samples16"] == samples, d
        assert max(samples) > 255, d  # genuinely exercises the 12th bits
    rng = random.Random(5)
    for _ in range(4):
        w, h = 8 * rng.randint(1, 3), 8 * rng.randint(1, 3)
        samples = [rng.randrange(4096) for _ in range(w * h)]
        out = jpeg_decode_pixels(jpeg_planes_bytes(w, h, [samples], precision=12))
        assert max(abs(a - b) for a, b in zip(out["samples16"], samples)) <= 1
    # DRI/RSTn composes with 12-bit streams
    samples = [(997 * (x // 8) + 1499 * (y // 8) + 393) % 4096
               for y in range(16) for x in range(24)]
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(24, 16, [samples], precision=12, restart_interval=2)
    )
    assert out["samples16"] == samples and out["restart_interval"] == 2
    # contract: out-of-range samples and unknown precisions raise
    with _pytest.raises(ValueError):
        jpeg_planes_bytes(8, 8, [[5000] * 64], precision=12)
    with _pytest.raises(ValueError):
        jpeg_planes_bytes(8, 8, [bytes(64)], precision=10)


def test_resize_12bit_jpeg(spark):
    """Grayscale 12-bit JPEG input composes with the 16-bit resize path
    for free: decode yields u12 samples16, box means floor at sample
    resolution, and the output re-encodes as a 16-bit PNG."""
    from lfb_data_warehouse_spark.operators.jpegcodec import jpeg_planes_bytes
    from lfb_data_warehouse_spark.operators.multimodal import (
        box_downscale16,
        png_decode_pixels,
    )

    samples = [(997 * (x // 8) + 1499 * (y // 8) + 777) % 4096
               for y in range(16) for x in range(16)]
    media = spark.createDataFrame(
        [(1, bytearray(jpeg_planes_bytes(16, 16, [samples], precision=12)))],
        "doc_id long, payload binary",
    )
    row = resize_image(media, 2).collect()[0]
    expect, ow, oh = box_downscale16(samples, 16, 16, 1, 2)
    assert (row["out_width"], row["out_height"]) == (ow, oh) == (8, 8)
    assert row["out_px_sum"] == sum(expect) and max(expect) > 255
    assert png_decode_pixels(bytes(row["payload"]))["samples16"] == expect


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn: the entropy stream byte-aligns and emits a cycling
    RSTm marker with DC-predictor resets every N MCUs; decode must
    consume each marker and reset predictors or later blocks
    mis-decode."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
    )

    d = 7
    g = bytes(
        (11 * (x // 8) + 23 * (y // 8) + 7 * d) % 256
        for y in range(24)
        for x in range(40)
    )
    for ri in (1, 2, 3, 7):
        out = jpeg_decode_pixels(jpeg_planes_bytes(40, 24, [g], restart_interval=ri))
        assert out["raster"] == g and out["restart_interval"] == ri
    # RSTm index cycles 0..7 and wraps (48x48 at ri=1 -> 35 restarts)
    g2 = bytes((5 * (x // 8) + 3 * (y // 8)) % 256 for y in range(48) for x in range(48))
    assert jpeg_decode_pixels(
        jpeg_planes_bytes(48, 48, [g2], restart_interval=1)
    )["raster"] == g2
    # restarts compose with 4:2:0 subsampling
    y_p = bytes((11 * (x // 8) + 23 * (yy // 8)) % 256 for yy in range(32) for x in range(32))
    c_p = bytes((11 * (x // 8) + 23 * (yy // 8) + 31) % 256 for yy in range(16) for x in range(16))
    out = jpeg_decode_pixels(
        jpeg_planes_bytes(
            32, 32, [y_p, c_p, c_p],
            sampling=[(2, 2), (1, 1), (1, 1)], restart_interval=2,
        )
    )
    assert out["planes"][0] == y_p and out["planes"][1] == c_p
    # a stream whose RST marker was corrupted must raise, not mis-decode
    b = bytearray(jpeg_planes_bytes(40, 24, [g], restart_interval=2))
    p = b.find(b"\xff\xd0", b.find(b"\xff\xda"))
    assert p > 0
    b[p + 1] = 0xD5  # wrong RSTm index
    with _pytest.raises(ValueError):
        jpeg_decode_pixels(bytes(b))


def test_jpeg_fill_bytes_tolerated():
    """Runs of 0xFF between segments are legal fill (B.1.1.2); the
    decoder must skip them, not misread one as a marker with a garbage
    length (round-8 ADVICE low)."""
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_pixel_bytes,
    )

    raster = bytes((7 * i + 3) % 256 for i in range(16 * 8))
    real = jpeg_pixel_bytes(16, 8, raster)
    clean = jpeg_decode_pixels(real)
    # pad with fill bytes after SOI and again before SOF0
    sof = real.find(b"\xff\xc0")
    padded = real[:2] + b"\xff\xff" + real[2:sof] + b"\xff" + real[sof:]
    got = jpeg_decode_pixels(padded)
    assert got["raster"] == clean["raster"]
    assert (got["width"], got["height"]) == (16, 8)


def test_downsample_audio_block_means(spark):
    """Decimation by exact block means: floor(block sum / factor),
    trailing remainder cropped, rate divided; stats come from decoding
    the re-encoded WAV, and stereo frames average per channel."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        downsample_audio,
        wav_decode_samples,
        wav_pcm_bytes,
    )

    samples = [((7 * 3 + 13 * k) % 2001) - 1000 for k in range(22)]  # 22 -> 5 blocks
    media = spark.createDataFrame(
        [(1, bytearray(wav_pcm_bytes(1, 8000, samples)))],
        "doc_id long, payload binary",
    )
    r = downsample_audio(media, factor=4).collect()[0]
    want = [sum(samples[4 * j : 4 * j + 4]) // 4 for j in range(5)]
    assert (r["in_samples"], r["out_samples"], r["out_rate"]) == (22, 5, 2000)
    assert r["energy"] == sum(x * x for x in want)
    assert (r["first_sample"], r["last_sample"]) == (want[0], want[-1])
    back = wav_decode_samples(bytes(r["payload"]))
    assert back["samples"] == want and back["sample_rate"] == 2000
    # stereo: channels decimate independently
    inter = [100, -100, 200, -200, 300, -300, 400, -400, 500, -500]  # 5 frames
    st = spark.createDataFrame(
        [(2, bytearray(wav_pcm_bytes(2, 16000, inter)))],
        "doc_id long, payload binary",
    )
    r2 = downsample_audio(st, factor=2).collect()[0]
    got = wav_decode_samples(bytes(r2["payload"]))["samples"]
    assert got == [(100 + 200) // 2, (-100 + -200) // 2,
                   (300 + 400) // 2, (-300 + -400) // 2]
    # negative block sums floor like Python, not truncate
    neg = spark.createDataFrame(
        [(3, bytearray(wav_pcm_bytes(1, 8000, [-1, -2, -2, -2])))],
        "doc_id long, payload binary",
    )
    r3 = downsample_audio(neg, factor=4).collect()[0]
    assert r3["first_sample"] == -2  # floor(-7/4) = -2, trunc would give -1
    # a clip shorter than one block is undecodable for this op
    import pytest as _pytest

    short = spark.createDataFrame(
        [(4, bytearray(wav_pcm_bytes(1, 8000, [5])))],
        "doc_id long, payload binary",
    )
    with _pytest.raises(Exception):
        downsample_audio(short, factor=4).collect()
    nul = downsample_audio(short, factor=4, strict=False).collect()[0]
    assert nul["out_samples"] is None


def test_wav_pcm_bytes_8bit():
    """bits=8 packs unsigned bytes and the header agrees with the data
    chunk (round-8 ADVICE low: the old code always packed int16 under
    whatever header was asked for)."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        wav_decode_samples,
        wav_pcm_bytes,
    )

    samples = [0, 127, 255, 64, 200]
    got = wav_decode_samples(wav_pcm_bytes(1, 8000, samples, bits=8))
    assert got["bits"] == 8 and got["samples"] == samples
    with _pytest.raises(ValueError, match="8/16/24/32-bit"):
        wav_pcm_bytes(1, 8000, [0], bits=12)


def test_wav_pcm_sample_decode():
    import struct as _struct

    from lfb_data_warehouse_spark.operators.multimodal import (
        wav_bytes,
        wav_decode_samples,
    )

    # silence generator round-trip
    out = wav_decode_samples(wav_bytes(2, 16000, 10))
    assert (out["channels"], out["sample_rate"], out["n_samples"]) == (2, 16000, 10)
    assert set(out["samples"]) == {0}
    # non-silent 16-bit PCM: hand-built RIFF with a known ramp
    samples = [(-3000 + 123 * i) for i in range(20)]
    data = _struct.pack("<20h", *samples)
    fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt \
        + b"data" + _struct.pack("<I", len(data)) + data
    wav = b"RIFF" + _struct.pack("<I", len(body)) + body
    got = wav_decode_samples(wav)
    assert got["samples"] == samples
    assert got["n_samples"] == 20 and got["bits"] == 16


def test_jpeg_codec_constant_tiles_exact():
    """Constant 8×8 tiles survive the full DCT→quantize→Huffman→decode
    pipeline EXACTLY (DC-only blocks at quant 1) — the property the
    oracle gate's arithmetic replay stands on."""
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_pixel_bytes,
    )

    for d in (0, 5, 12, 33, 255):
        w, h = 8 * (d % 5 + 1), 8 * (d % 4 + 1)
        raster = bytes(
            (11 * (x // 8) + 23 * (y // 8) + 7 * d) % 256
            for y in range(h)
            for x in range(w)
        )
        out = jpeg_decode_pixels(jpeg_pixel_bytes(w, h, raster))
        assert out["raster"] == raster
        assert (out["width"], out["height"], out["channels"]) == (w, h, 1)


def test_jpeg_codec_arbitrary_raster_near_lossless():
    """Arbitrary rasters round-trip within quantization tolerance at
    quant 1 — exercises the AC run-length/ZRL/EOB paths, EXTEND sign
    decoding, multi-block DC prediction, and byte un-stuffing on
    content the constant fixture never produces."""
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_pixel_bytes,
    )

    w = h = 24
    raster = bytes((i * 131 + (i * i) % 97) % 256 for i in range(w * h))
    out = jpeg_decode_pixels(jpeg_pixel_bytes(w, h, raster))
    err = max(abs(a - b) for a, b in zip(raster, out["raster"]))
    assert err <= 2, f"max abs error {err}"


def test_jpeg_color_codec_roundtrip():
    """3-component interleaved MCUs: constant tiles round-trip exactly
    PER PLANE (a component-interleave or shared-DC-predictor bug would
    smear plane values into each other), and arbitrary color rasters
    stay within quantization tolerance."""
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_planes_bytes,
    )

    d = 9
    w, h = 8 * (d % 5 + 1), 8 * (d % 4 + 1)
    planes = [
        bytes(
            (11 * (x // 8) + 23 * (y // 8) + 7 * d + 31 * c) % 256
            for y in range(h)
            for x in range(w)
        )
        for c in range(3)
    ]
    out = jpeg_decode_pixels(jpeg_planes_bytes(w, h, planes))
    assert out["channels"] == 3
    for c in range(3):
        assert out["planes"][c] == planes[c], f"plane {c} mismatch"
    # distinct plane constants: interleave correctness is observable
    assert len({p[0] for p in out["planes"]}) == 3
    # arbitrary color content, near-lossless at quant 1
    arb = [bytes((i * (37 + 11 * c) + c) % 256 for i in range(16 * 16)) for c in range(3)]
    got = jpeg_decode_pixels(jpeg_planes_bytes(16, 16, arb))
    err = max(abs(a - b) for c in range(3) for a, b in zip(got["planes"][c], arb[c]))
    assert err <= 2


def test_jpeg_codec_rejects_unsupported():
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_pixel_bytes,
    )
    from lfb_data_warehouse_spark.operators.multimodal import jpeg_bytes

    # header-only stream (no DHT/SOS)
    with _pytest.raises(ValueError):
        jpeg_decode_pixels(jpeg_bytes(16, 16))
    # progressive (SOF2) must refuse, not mis-decode
    good = jpeg_pixel_bytes(8, 8, bytes(64))
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError):
        jpeg_decode_pixels(prog)
    # multi-component frames out of scope
    with _pytest.raises(ValueError):
        jpeg_decode_pixels(jpeg_bytes(16, 16, n_components=3))
    with _pytest.raises(ValueError):
        jpeg_decode_pixels(b"not a jpeg")
    # dimension/raster mismatch on the encode side
    with _pytest.raises(ValueError):
        jpeg_pixel_bytes(9, 8, bytes(72))
    _ = _struct  # keep import symmetry with sibling tests


def test_jpeg_huffman_tables_canonical():
    """Canonical code assignment: codes within a length are
    consecutive, lengths respect the bits[] counts, and the decode
    table inverts the encode table."""
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        AC_LUM_BITS,
        AC_LUM_VALS,
        DC_LUM_BITS,
        DC_LUM_VALS,
        _huff_decode_table,
        _huff_encode_table,
    )

    for bits, vals in ((DC_LUM_BITS, DC_LUM_VALS), (AC_LUM_BITS, AC_LUM_VALS)):
        assert sum(bits) == len(vals)
        enc = _huff_encode_table(bits, vals)
        dec = _huff_decode_table(bits, vals)
        assert len(enc) == len(vals) and len(dec) == len(vals)
        for v, (code, ln) in enc.items():
            assert dec[(ln, code)] == v
            assert code < (1 << ln)  # code fits its length (prefix-free set)
    # the 4-bit EOB/ZRL anchors of the Annex-K AC table
    ac = _huff_encode_table(AC_LUM_BITS, AC_LUM_VALS)
    assert ac[0x00][1] == 4  # EOB is a 4-bit code
    assert ac[0x01][1] == 2  # (run 0, size 1) is the shortest AC code


def test_wav_pcm_feature_extraction():
    """Features computed from DECODED samples match independent
    arithmetic on the generating formula — sign handling (zero
    crossings), abs/square sums, and the int16 pack/unpack round-trip."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        wav_decode_samples,
        wav_pcm_bytes,
    )

    d = 15  # doc formula from the audio_feature_stats gate
    n = d % 400 + 100
    samples = [((7 * d + 13 * k) % 2001) - 1000 for k in range(n)]
    got = wav_decode_samples(wav_pcm_bytes(1, 8000, samples))
    assert got["samples"] == samples
    assert sum(x * x for x in got["samples"]) == sum(x * x for x in samples)
    zc = sum(1 for a, b in zip(samples, samples[1:]) if a * b < 0)
    assert zc > 0  # the fixture must actually exercise sign changes
    # stereo interleave survives the round-trip too
    inter = [100, -100, 200, -200, 300, -300]
    st = wav_decode_samples(wav_pcm_bytes(2, 16000, inter))
    assert st["samples"] == inter and st["n_samples"] == 3


def _strict_decoders() -> list[str]:
    """Every public multimodal operator with a ``strict`` parameter,
    found by signature so a new decoder is covered automatically."""
    import inspect

    from lfb_data_warehouse_spark.operators import multimodal

    return sorted(
        name
        for name, fn in vars(multimodal).items()
        if inspect.isfunction(fn)
        and not name.startswith("_")
        and fn.__module__ == multimodal.__name__
        and "strict" in inspect.signature(fn).parameters
    )


# a valid payload of a FOREIGN format must be poison too: a PNG for the
# audio decoders, a WAV for every other (image, video, crawl) decoder
_AUDIO_DECODER_MARKS = ("audio", "g711", "adpcm", "flac")


@pytest.fixture(scope="module")
def poison_media(spark):
    """Corruption classes that fail AFTER container sniffing (they
    used to escape as struct.error / KeyError / IndexError and kill
    the stage): never-a-media-container junk, an empty payload, a
    truncated PNG IHDR, a truncated WAV fmt, a JPEG whose scan
    references tables no DHT defined, a zero-area PNG, an empty-data
    WAV, a JPEG truncated inside SOF0 — plus a NULL payload and a
    valid payload of a foreign format (doc 10)."""
    from lfb_data_warehouse_spark.operators.jpegcodec import jpeg_pixel_bytes
    from lfb_data_warehouse_spark.operators.multimodal import (
        _PNG_SIG,
        png_pixel_bytes,
        wav_pcm_bytes,
    )

    real_jpeg = jpeg_pixel_bytes(8, 8, bytes(range(64)))
    no_tables = bytearray(real_jpeg)  # strip every DHT: tables undefined
    while True:
        p = no_tables.find(b"\xff\xc4")
        if p < 0:
            break
        seglen = int.from_bytes(no_tables[p + 2 : p + 4], "big")
        del no_tables[p : p + 2 + seglen]
    rows = [
        (1, bytearray(b"not a media payload")),
        (2, bytearray(b"")),
        (3, bytearray(_PNG_SIG + b"\x00\x00\x00\x0dIHDR\x00\x01")),
        (4, bytearray(b"RIFF\x10\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00")),
        (5, bytearray(no_tables)),
        (6, bytearray(png_pixel_bytes(0, 0, b"", 0))),
        (7, bytearray(wav_pcm_bytes(1, 8000, [1]))[:-2] + b""),
        (8, bytearray(real_jpeg[: real_jpeg.find(b"\xff\xc0") + 6])),
        (9, None),
    ]
    foreign = {
        "audio": png_pixel_bytes(2, 2, bytes([7, 9, 11, 13]), 0),
        "other": wav_pcm_bytes(1, 8000, [5, -7, 9]),
    }
    return {
        kind: spark.createDataFrame(
            rows + [(10, bytearray(p))], "doc_id long, payload binary"
        )
        for kind, p in foreign.items()
    }


@pytest.mark.parametrize("name", _strict_decoders())
def test_decode_stats_poison_safety(poison_media, name):
    """strict=False is the external-corpus posture: a corrupt, NULL or
    foreign-format payload becomes ONE NULL-stats row (doc_id kept for
    quarantine), never a stage-killing exception; strict=True (the
    gates' posture over synthesized payloads) surfaces the error."""
    import pyspark

    from lfb_data_warehouse_spark.operators import multimodal

    op = getattr(multimodal, name)
    kind = "audio" if any(m in name for m in _AUDIO_DECODER_MARKS) else "other"
    poison = poison_media[kind]
    rows = op(poison, strict=False).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(1, 11))
    assert all(
        v is None for r in rows for k, v in r.asDict().items() if k != "doc_id"
    )
    with pytest.raises(pyspark.errors.PythonException):
        op(poison, strict=True).collect()


def test_decode_poison_row_keeps_int64_stats_exact(spark):
    """A poison row sharing an Arrow batch with good rows must not
    route their 64-bit stats through float64: the energy (Σs²) of a
    32-bit PCM clip sits just under 2^63, where float64 steps by 1024."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_audio_stats,
        wav_pcm_bytes,
    )

    wav = wav_pcm_bytes(1, 8000, [2**31 - 1, -(2**31 - 1), 3], bits=32)
    media = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"junk"))],
        "doc_id long, payload binary",
    ).coalesce(1)
    rows = {r["doc_id"]: r for r in decode_audio_stats(media, strict=False).collect()}
    assert rows[1]["energy"] == 9223372028264841227
    assert rows[2]["energy"] is None


def test_decode_real_dispatch():
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import jpeg_pixel_bytes
    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_real,
        jpeg_bytes,
        png_pixel_bytes,
        wav_bytes,
    )

    raster = bytes((5 * i + 1) % 256 for i in range(6 * 4 * 3))
    png = decode_real(png_pixel_bytes(6, 4, raster, 2))
    assert png["raster"] == raster
    wav = decode_real(wav_bytes(1, 8000, 5))
    assert wav["n_samples"] == 5
    # real baseline-JPEG pixel decode (full entropy path)
    gray = bytes((3 * i + 9) % 256 for i in range(16 * 8))
    jp = decode_real(jpeg_pixel_bytes(16, 8, gray))
    assert (jp["width"], jp["height"], jp["channels"]) == (16, 8, 1)
    assert max(abs(a - b) for a, b in zip(jp["raster"], gray)) <= 2
    # header-only JPEG fixture (no SOS/DHT) must raise, not mis-decode
    with _pytest.raises(ValueError):
        decode_real(jpeg_bytes(10, 10))
    # unknown container: poison-safe metadata dict, no raise
    assert decode_real(b"garbage")["media_type"] == "application/octet-stream"


def test_kmeans_centroids_deterministic_and_separating(emb):
    from lfb_data_warehouse_spark.operators.similarity import (
        ivf_index_from_cents,
        kmeans_centroids,
        quantize,
    )

    c1 = kmeans_centroids(emb, "vec_id", "embedding", k=2, iters=2).collect()
    c2 = kmeans_centroids(emb, "vec_id", "embedding", k=2, iters=2).collect()
    key = lambda rows: sorted((r["centroid_label"], list(r["cq"])) for r in rows)  # noqa: E731
    assert key(c1) == key(c2)  # bit-deterministic across runs
    assert 1 <= len(c1) <= 2
    # every vector lands in exactly one inverted list
    q = quantize(emb, "vec_id", "embedding")
    cents = kmeans_centroids(emb, "vec_id", "embedding", k=2, iters=2)
    inv = ivf_index_from_cents(q, cents, "vec_id")
    assert inv.count() == emb.count()
    assert inv.select("neighbor_id").distinct().count() == emb.count()


def test_pq_encode_and_adc_topk(spark):
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    # 32 vectors in 4 well-separated direction clusters (dim 8)
    rows = []
    for i in range(32):
        base = [0.0] * 8
        base[(i % 4) * 2] = 1.0
        base[(i % 4) * 2 + 1] = 0.1 + 0.01 * (i // 4)  # slight in-cluster spread
        rows.append((i, base))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cw = pq_codebook(emb, "vec_id", "embedding", m=4, cb_k=8)
    assert len(cw) == 4 and len(cw[0]) == 8 and len(cw[0][0]) == 2
    enc = pq_encode(emb, "vec_id", "embedding", cw)
    codes = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in codes.values())
    # codebook vectors encode to themselves (their own subvectors win
    # with distance 0, first-occurrence tiebreak keeps the smallest id)
    assert codes[0] == [0, 0, 0, 0]
    # ADC top-k finds the same cluster the exact kernel does
    exact = {
        (r["probe_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(emb, "vec_id", "embedding", [0, 1, 2], k=3).collect()
    }
    approx = {
        (r["probe_id"], r["rank"]): r["neighbor_id"]
        for r in pq_adc_topk(emb, "vec_id", "embedding", [0, 1, 2], k=3, m=4, cb_k=8).collect()
    }
    same_cluster = lambda a, b: a % 4 == b % 4  # noqa: E731
    for key, nb in approx.items():
        assert same_cluster(key[0], nb), (key, nb, exact.get(key))
    # sparse/offset ids: codebook seeds from the actual smallest ids
    shifted = emb.withColumn("vec_id", F.col("vec_id") + 500)
    cw2 = pq_codebook(shifted, "vec_id", "embedding", m=4, cb_k=8)
    assert cw2 == cw
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cb_k=99"):
        pq_codebook(emb, "vec_id", "embedding", m=4, cb_k=99)


def test_pq_codebook_kmeans_learned(spark):
    from pyspark.sql import Window

    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        pq_adc_score,
        pq_codebook_kmeans,
        pq_encode,
        pq_probe_luts,
        quantize,
    )

    rows = []
    for i in range(32):
        base = [0.0] * 8
        base[(i % 4) * 2] = 1.0
        base[(i % 4) * 2 + 1] = 0.1 + 0.01 * (i // 4)
        rows.append((i, base))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cw1 = pq_codebook_kmeans(emb, "vec_id", "embedding", m=4, cb_k=4, iters=2)
    cw2 = pq_codebook_kmeans(emb, "vec_id", "embedding", m=4, cb_k=4, iters=2)
    assert cw1 == cw2  # bit-deterministic across runs
    assert len(cw1) == 4 and all(1 <= len(cb) <= 4 for cb in cw1)
    assert all(len(w) == 2 for cb in cw1 for w in cb)  # sub = 8 // 4
    # the learned codebook plugs into the same encode/LUT/score chain
    enc = pq_encode(emb, "vec_id", "embedding", cw1)
    codes = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    assert all(
        0 <= c < len(cw1[s]) for cd in codes.values() for s, c in enumerate(cd)
    )
    luts = pq_probe_luts(
        quantize(emb.filter(F.col("vec_id").isin([0, 1, 2])), "vec_id", "embedding"),
        cw1,
        id_col="vec_id",
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    top = (
        pq_adc_score(enc.select(F.col("vec_id").alias("neighbor_id"), "codes"), luts, cw1)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    for r in top.collect():  # learned codebook keeps same-cluster recall
        assert r["probe_id"] % 4 == r["neighbor_id"] % 4, (r["probe_id"], r["neighbor_id"])


def test_misra_gries_exact_topk_and_bounds(spark):
    """mg_exact_topk must equal the brute-force top-k when the k-th
    item clears the MG threshold, and the summaries must respect both
    MG invariants: per-(partition,key) size ≤ capacity, and global
    undercount ≤ N/(capacity+1) (Agarwal et al. merge bound)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.sketches import mg_exact_topk, mg_summaries

    # zipf-ish stream: item "t{i}" appears 200//(i+1) times per key,
    # i < 60 — vocabulary 60 ≫ capacity 8, heavy head well separated
    rows = []
    for key in ("a", "b"):
        for i in range(60):
            rows.extend((key, f"t{i:02d}") for _ in range(200 // (i + 1)))
    df = spark.createDataFrame(rows, "k string, item string").repartition(4)
    got = {
        (r["k"], r["rank"]): (r["item"], r["n"])
        for r in mg_exact_topk(df, "k", "item", k=3, capacity=8).collect()
    }
    exact = (
        df.groupBy("k", "item").agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.col("n").desc(), F.col("item").asc())
            ),
        )
        .filter(F.col("rank") <= 3)
    )
    want = {(r["k"], r["rank"]): (r["item"], r["n"]) for r in exact.collect()}
    assert got == want
    # invariants on the raw summaries
    summ = mg_summaries(df, "k", "item", capacity=8).collect()
    true_counts = {(r["k"], r["item"]): r["n"] for r in
                   df.groupBy("k", "item").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_per_key: dict = {}
    for (k, _it), c in true_counts.items():
        n_per_key[k] = n_per_key.get(k, 0) + c
    merged: dict = {}
    for r in summ:
        assert r["lb"] > 0
        merged[(r["k"], r["item"])] = merged.get((r["k"], r["item"]), 0) + r["lb"]
    for key_item, true_n in true_counts.items():
        lb = merged.get(key_item, 0)
        assert lb <= true_n
        assert true_n - lb <= n_per_key[key_item[0]] / 9  # N/(capacity+1)


def test_pca_fit_matches_numpy_reference(spark):
    """pca_fit's one-pass integer-moment covariance + eigh must agree
    with numpy's direct covariance of the same quantized matrix: same
    eigenvalues, same subspace (|cos| of matched eigenvectors == 1),
    and the projection variance equals each eigenvalue (the claim the
    registered gate grades)."""
    import numpy as np

    from lfb_data_warehouse_spark.operators.pca import pca_claims, pca_fit, pca_project
    from lfb_data_warehouse_spark.operators.similarity import QUANT_SCALE

    rng_rows = []
    # deterministic anisotropic cloud: dominant direction (1, 2, 0, 1)
    for i in range(40):
        t = (i - 20) / 10.0
        noise = [((i * 37 + d * 11) % 7 - 3) / 40.0 for d in range(4)]
        rng_rows.append(
            (i, [t * 1.0 + noise[0], t * 2.0 + noise[1], noise[2], t * 1.0 + noise[3]])
        )
    emb = spark.createDataFrame(rng_rows, "vec_id long, embedding array<float>")
    model = pca_fit(emb, "vec_id", "embedding", dim=4, k=4)
    x = np.array(
        [[round(np.float64(np.float32(v)) * QUANT_SCALE) for v in r] for _, r in rng_rows]
    )
    cov = np.cov(x, rowvar=False, bias=True)
    w_ref = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert np.allclose(model.eigenvalues, w_ref, rtol=1e-9)
    # integer trace numerator: n²·trace(C) exactly
    n = len(x)
    assert model.trace_num == n * int((x * x).sum()) - int(
        sum(int(c) ** 2 for c in x.sum(axis=0))
    )
    # same principal directions (sign-agnostic)
    _, v_ref = np.linalg.eigh(cov)
    for j, comp in enumerate(model.components):
        ref = v_ref[:, np.argsort(np.linalg.eigvalsh(cov))[::-1][j]]
        assert abs(abs(np.dot(comp, ref)) - 1.0) < 1e-9
    # projection variance == eigenvalue, and the gate frame is all-true
    proj = {r["vec_id"]: list(r["y"]) for r in pca_project(emb, "vec_id", "embedding", model).collect()}
    y0 = np.array([proj[i][0] for i in range(40)])
    assert np.isclose(y0.var(), model.eigenvalues[0], rtol=1e-9)
    claims = pca_claims(emb, "vec_id", "embedding", dim=4, k=3).collect()
    assert len(claims) == 3
    for r in claims:
        assert r["orthonormal_ok"] and r["monotone_ok"] and r["var_matches_eigenvalue"]


def test_pca_fit_partition_invariant(spark):
    """r14: the moment pass is a per-task Arrow partial (count, Σx,
    XᵀX) summed on the driver — integer moments are associative, so the
    fit must be BIT-identical regardless of how rows split across
    tasks. Pins the vectorized-partial rewrite against a 1-partition
    run (which exercises the single-partial degenerate case too)."""
    from lfb_data_warehouse_spark.operators.pca import pca_fit

    rows = [
        (i, [((i * 13 + d * 7) % 29 - 14) / 10.0 for d in range(5)]) for i in range(37)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    one = pca_fit(emb.coalesce(1), "vec_id", "embedding", dim=5, k=5)
    many = pca_fit(emb.repartition(7), "vec_id", "embedding", dim=5, k=5)
    assert one.trace_num == many.trace_num
    assert one.n == many.n
    assert one.mean == many.mean
    assert one.eigenvalues == many.eigenvalues
    assert one.components == many.components


def test_ivf_index_append_equals_frozen_rebuild(spark):
    """ivf_index_append's invariant: appending a batch against frozen
    centroids produces the EXACT index a from-scratch
    ivf_index_from_cents over old∪new (same centroids) would — the
    property that makes incremental maintenance safe."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        ivf_build,
        ivf_index_append,
        ivf_index_from_cents,
        quantize,
    )

    rows = []
    for i in range(24):
        base = [0.0] * 8
        base[(i % 4) * 2] = 1.0
        base[(i % 4) * 2 + 1] = 0.1 + 0.01 * (i // 4)
        rows.append((i, i % 2, base))
    emb = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)
    inv, cents = ivf_build(old, "vec_id", "embedding", "label", dim=8)
    appended = ivf_index_append(inv, cents, new, "vec_id", "embedding")
    rebuilt = ivf_index_from_cents(quantize(emb, "vec_id", "embedding"), cents, "vec_id")

    def canon(df):
        return sorted(
            (r["neighbor_id"], r["assigned_label"], tuple(r["nq"]), r["nn"])
            for r in df.collect()
        )

    assert canon(appended) == canon(rebuilt)
    assert appended.count() == 24


def test_ivf_pq_residual_seed_exactness(spark):
    """Residual IVFPQ's ADC decomposition is EXACT for codebook seeds:
    a seed vector's residual encodes with distance 0, so centroid +
    codeword reconstructs its quantized vector exactly and the
    decomposed score dot(p,c) + Σ LUT / sqrt(|c|² + 2Σxr + Σ|cw|²)
    must equal the exact integer-kernel cosine bit-for-bit — pinning
    every term of the decomposition at once."""
    import math

    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        ivf_pq_residual_build,
        ivf_pq_residual_search,
        quantize,
    )

    rows = []
    for i in range(32):
        base = [0.0] * 8
        base[(i % 4) * 2] = 1.0
        base[(i % 4) * 2 + 1] = 0.1 + 0.01 * (i // 4)
        rows.append((i, i % 2, base))
    emb = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    inv, cents, cw = ivf_pq_residual_build(
        emb, "vec_id", "embedding", "label", m=4, cb_k=8, dim=8
    )
    # codes-only index: no raw/quantized vector column survives
    assert set(inv.columns) == {"neighbor_id", "assigned_label", "codes"}
    assert inv.count() == 32
    # deterministic across rebuilds
    _, _, cw2 = ivf_pq_residual_build(
        emb, "vec_id", "embedding", "label", m=4, cb_k=8, dim=8
    )
    assert cw == cw2
    probes = quantize(
        emb.filter(F.col("vec_id").isin([0, 9])), "vec_id", "embedding"
    ).select(
        F.col("vec_id").alias("probe_id"),
        F.col("q").alias("pq"),
        F.col("norm").alias("pnorm"),
    )
    got = {
        (r["probe_id"], r["neighbor_id"]): r["score"]
        for r in ivf_pq_residual_search(inv, cents, probes, cw, k=31, nprobe=2).collect()
    }
    qv = {
        r["vec_id"]: (list(r["q"]), r["norm"])
        for r in quantize(emb, "vec_id", "embedding").collect()
    }

    def exact(a, b):
        qa, na = qv[a]
        qb, nb = qv[b]
        d = sum(x * y for x, y in zip(qa, qb))
        return d / (math.sqrt(na) * math.sqrt(nb)) if na > 0 and nb > 0 else 0.0

    seed_pairs = [(p, n) for (p, n) in got if n < 8]
    assert seed_pairs  # nprobe=2 of 2 lists → every seed is a candidate
    for p, n in seed_pairs:
        assert got[(p, n)] == exact(p, n), (p, n, got[(p, n)], exact(p, n))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cb_k=99"):
        ivf_pq_residual_build(emb, "vec_id", "embedding", "label", m=4, cb_k=99, dim=8)


def test_kmeans_centroids_sparse_offset_ids(spark, emb):
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import kmeans_centroids

    # ids offset by 1000: `vec_id < k` would find ZERO seeds; the k
    # smallest actual ids must seed instead, and the result must be the
    # same clustering as the dense-id corpus (ids only relabel seeds)
    shifted = emb.withColumn("vec_id", F.col("vec_id") + 1000)
    cents = kmeans_centroids(shifted, "vec_id", "embedding", k=2, iters=2).collect()
    base = kmeans_centroids(emb, "vec_id", "embedding", k=2, iters=2).collect()
    assert sorted(list(r["cq"]) for r in cents) == sorted(list(r["cq"]) for r in base)
    # fewer vectors than k: loud error, not silently-empty centroids
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k=99"):
        kmeans_centroids(emb, "vec_id", "embedding", k=99, iters=1)


def test_lsh_pairs_subset_of_exact(emb):
    from lfb_data_warehouse_spark.operators.similarity import cosine_lsh_pairs

    exact = {
        (r["id_a"], r["id_b"]) for r in cosine_pairs(emb, "vec_id", "embedding", 0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in cosine_lsh_pairs(
            emb, "vec_id", "embedding", dim=3, threshold=0.9, bands=4, planes_per_band=2
        ).collect()
    }
    # LSH never invents pairs (exact verify) and with 4 bands over these
    # near-parallel vectors it recovers them
    assert lsh <= exact
    assert lsh, "banded LSH found no pairs for near-parallel vectors"


def test_grouped_zscore_degenerate_groups(spark, tmp_path):
    """Single-doc and zero-variance sources must yield NULL z-scores
    (matching SQL division-by-zero semantics), not crash/NaN."""
    from lfb_data_warehouse_spark.plans import REGISTRY

    docs = spark.createDataFrame(
        [(1, "only one doc", "en", "solo", 12),
         (2, "same length..", "en", "flat", 13),
         (3, "same length!!", "en", "flat", 13),
         (4, "normal one", "en", "vary", 10),
         (5, "normal longer two", "en", "vary", 17)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        (r["source"], r["doc_id"]): r["chars_z"]
        for r in REGISTRY["grouped_zscore_chars"].fn(spark, str(tmp_path)).collect()
    }
    assert out[("solo", 1)] is None
    assert out[("flat", 2)] is None and out[("flat", 3)] is None
    assert out[("vary", 4)] is not None and out[("vary", 5)] is not None
    assert abs(out[("vary", 4)] + out[("vary", 5)]) < 1e-9  # symmetric z-scores


def test_incremental_jaccard_pairs_equals_restricted_full(spark):
    """incremental_jaccard_pairs(old, new) must equal the full-corpus
    exact Jaccard kernel restricted to pairs touching >=1 new doc —
    same pairs, same jaccard values, and zero old×old leakage."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.dedup import (
        all_pairs_jaccard,
        incremental_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(40):
        words = base.split()
        words[i % len(words)] = f"w{i % 7}"
        rows.append((i, " ".join(words), "s1" if i % 2 else "s2"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    is_new = F.col("doc_id") % 4 == 0
    old, new = docs.filter(~is_new), docs.filter(is_new)
    full = all_pairs_jaccard(docs, "doc_id", "text", 2, 0.3, group_col="source")
    new_ids = {r[0] for r in new.select("doc_id").collect()}
    want = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in incremental_jaccard_pairs(
            old, new, "doc_id", "text", 2, 0.3, group_col="source"
        ).collect()
    }
    assert want, "fixture produced no cross-batch pairs — weaken the threshold"
    assert got == want
    assert all(a in new_ids or b in new_ids for a, b in got)


def test_mg_exact_topk_check_exact_guard(spark):
    """check_exact=True must pass when the k-th item clears the MG
    threshold (including the fewer-than-k-distinct-items case, which
    is trivially exact) and raise ValueError when it does not."""
    import pytest
    from lfb_data_warehouse_spark.operators.sketches import mg_exact_topk

    # heavy head, well separated: guard passes at capacity 16 (the
    # 3rd item's count 66 clears N/(16+1) = 53.6; the threshold is the
    # SUFFICIENT condition, so the guard is deliberately conservative —
    # capacity 8 yields correct output here yet trips the guard)
    rows = [("a", f"t{i:02d}") for i in range(60) for _ in range(200 // (i + 1))]
    # second key with only 2 distinct items (< k): trivially exact
    rows += [("b", "x")] * 5 + [("b", "y")] * 3
    df = spark.createDataFrame(rows, "k string, item string").repartition(4)
    out = mg_exact_topk(df, "k", "item", k=3, capacity=16, check_exact=True).collect()
    assert {r["k"] for r in out} == {"a", "b"}
    assert sum(1 for r in out if r["k"] == "b") == 2  # only 2 items exist

    # near-uniform stream: k-th count (2) never clears N/(capacity+1)
    flat = spark.createDataFrame(
        [("a", f"u{i:03d}") for i in range(300) for _ in range(2)],
        "k string, item string",
    ).repartition(4)
    with pytest.raises(ValueError, match="exactness not provable"):
        mg_exact_topk(flat, "k", "item", k=3, capacity=8, check_exact=True)


def test_mg_check_exact_short_key_eviction_raises(spark):
    """Regression (round-7 ADVICE): with k > capacity, a key can end up
    with fewer than k candidates NOT because it has fewer than k
    distinct items but because MG evicted some (distinct > capacity).
    The old guard keyed the short case on n_distinct >= k and silently
    returned a truncated top-k here; the fixed guard must raise because
    the candidate set (2 rows) fails to cover the 4 distinct items.
    Single partition on purpose: splitting the stream could leave every
    partition under capacity, in which case nothing is evicted and the
    guard correctly stays quiet."""
    import pytest
    from lfb_data_warehouse_spark.operators.sketches import mg_exact_topk

    rows = (
        [("g", "A")] * 10 + [("g", "B")] * 10 + [("g", "C")] + [("g", "D")]
    )
    df = spark.createDataFrame(rows, "k string, item string").coalesce(1)
    with pytest.raises(ValueError, match="exactness not provable"):
        mg_exact_topk(df, "k", "item", k=5, capacity=2, check_exact=True)

    # same stream, capacity >= distinct: nothing evicted, candidates
    # cover all 4 items, the guard passes and the output IS brute force
    out = mg_exact_topk(df, "k", "item", k=5, capacity=4, check_exact=True)
    got = {(r["item"], r["n"], r["rank"]) for r in out.collect()}
    assert got == {("A", 10, 1), ("B", 10, 2), ("C", 1, 3), ("D", 1, 4)}


def test_mg_summaries_typed_schema(spark):
    """mg_summaries must mirror the input key/item types in its output
    schema (bigint items survive) and reject un-groupable types
    eagerly instead of failing deep inside Arrow conversion."""
    import pytest
    from lfb_data_warehouse_spark.operators.sketches import mg_exact_topk, mg_summaries

    df = spark.createDataFrame(
        [("a", i % 5) for i in range(100)], "k string, item bigint"
    ).repartition(3)
    summ = mg_summaries(df, "k", "item", capacity=8)
    assert summ.schema["item"].dataType.simpleString() == "bigint"
    top = mg_exact_topk(df, "k", "item", k=2, capacity=8, check_exact=True).collect()
    assert all(isinstance(r["item"], int) for r in top)

    bad = spark.createDataFrame([("a", 1.5)], "k string, item double")
    with pytest.raises(TypeError, match="item.*double"):
        mg_summaries(bad, "k", "item", capacity=8)


def test_incremental_jaccard_pairs_reingested_id(spark):
    """An id present in BOTH old and new (re-ingested doc) must be
    treated as new: same pairs and jaccard values as if the old copy
    never existed — no duplicated size rows corrupting the scores."""
    from lfb_data_warehouse_spark.operators.dedup import incremental_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(30):
        words = base.split()
        words[i % len(words)] = f"w{i % 5}"
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter("doc_id < 20")            # ids 0..19
    new = docs.filter("doc_id >= 16")           # ids 16..29 — 16..19 re-ingested
    clean_old = docs.filter("doc_id < 16")      # the disjoint formulation

    def pairs(o):
        return {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in incremental_jaccard_pairs(
                o, new, "doc_id", "text", 2, 0.3
            ).collect()
        }

    want, got = pairs(clean_old), pairs(old)
    assert want, "fixture produced no pairs — weaken the threshold"
    assert got == want


def test_line_dedup_boilerplate(spark):
    """CCNet line-level boilerplate removal (round 11): lines present
    in >= 5% of documents vanish, rare lines survive in original
    order, fully-boilerplate documents come back empty (not missing),
    and counts reconcile."""
    from lfb_data_warehouse_spark.operators.dedup import line_dedup_boilerplate

    nav, foot = "NAV: menu", "FOOTER: (c)"
    rows = [
        (i, f"{nav}\nbody line {i} alpha\nbody line {i} beta\n{foot}")
        for i in range(40)
    ]
    rows.append((40, f"{nav}\n{foot}"))  # nothing survives here
    df = spark.createDataFrame(rows, "doc_id long, page string")
    out = {
        r["doc_id"]: r
        for r in line_dedup_boilerplate(df, "doc_id", "page").collect()
    }
    assert len(out) == 41
    r7 = out[7]
    assert r7["cleaned_text"] == "body line 7 alpha\nbody line 7 beta"
    assert r7["n_lines"] == 4 and r7["n_dropped"] == 2
    assert r7["cleaned_chars"] == len(r7["cleaned_text"])
    empty = out[40]
    assert empty["cleaned_text"] == "" and empty["n_dropped"] == 2
    # a line shared by 2/41 docs (< 5%) survives
    df2 = spark.createDataFrame(
        [(i, f"{nav}\nshared rare line\nuniq {i}") if i < 2
         else (i, f"{nav}\nuniq {i}") for i in range(41)],
        "doc_id long, page string",
    )
    out2 = {
        r["doc_id"]: r["cleaned_text"]
        for r in line_dedup_boilerplate(df2, "doc_id", "page").collect()
    }
    assert out2[0] == "shared rare line\nuniq 0"
    assert out2[5] == "uniq 5"


def test_png_subbyte_roundtrip():
    """1/2/4-bit PNG (round 11 — binarized scans, icons): rows pack
    MSB-first with byte padding per scanline INCLUDING per Adam7 pass,
    filters run on the packed bytes at bpp=1, gray scales by the exact
    replication factor and palette indices map unscaled — every
    (depth, type, interlace, odd-width) combination round-trips."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        png_decode_pixels,
        png_subbyte_bytes,
    )

    rng = random.Random(17)
    for depth in (1, 2, 4):
        scale = 255 // ((1 << depth) - 1)
        for il in (False, True):
            # odd widths exercise the padded final byte of every row
            for w, h in [(1, 1), (7, 3), (8, 5), (13, 9), (3, 11)]:
                vals = [rng.randrange(1 << depth) for _ in range(w * h)]
                d = png_decode_pixels(
                    png_subbyte_bytes(w, h, vals, depth, 0, interlace=il))
                assert d["raster"] == bytes(v * scale for v in vals)
                assert d["bit_depth"] == depth and d["channels"] == 1
                nc = 1 << depth
                pal = bytes((7 * j) % 256 for j in range(3 * nc))
                d = png_decode_pixels(png_subbyte_bytes(
                    w, h, vals, depth, 3, palette=pal, interlace=il))
                assert d["raster"] == b"".join(pal[3 * v : 3 * v + 3] for v in vals)
                assert d["palette_size"] == nc
    # contracts: over-depth sample, sub-byte truecolor, depth 3
    with _pytest.raises(ValueError):
        png_subbyte_bytes(4, 4, [4] * 16, 2)
    with _pytest.raises(ValueError):
        png_subbyte_bytes(4, 4, [0] * 16, 2, color_type=2)
    with _pytest.raises(ValueError):
        png_subbyte_bytes(4, 4, [0] * 16, 3)


def test_jpeg_lossless_restart_intervals():
    """Restart markers inside lossless (SOF3) scans (round 11 — the
    DICOM shape, formerly an explicit refusal): cycling RSTn every Ri
    one-sample-per-component MCUs, prediction reset to the H.2.2
    scan-start default after each marker — exact reconstruction across
    precisions, predictors and interval lengths, with the consumed
    marker count reported."""
    import random
    import struct as _struct

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_lossless_bytes,
    )

    rng = random.Random(21)
    for precision, pt in [(8, 0), (12, 0), (16, 2), (4, 1)]:
        smax = (1 << precision) - 1
        for pred in (1, 4, 7):
            for ri in (1, 3, 7):
                w, h = 9, 5
                planes = [[rng.randint(0, smax) for _ in range(w * h)]
                          for _ in range(3)]
                d = jpeg_decode_pixels(jpeg_lossless_bytes(
                    w, h, planes, predictor=pred, precision=precision,
                    point_transform=pt, restart_interval=ri))
                lost = ~((1 << pt) - 1) & 0xFFFF
                exp = [[v & lost for v in p] for p in planes]
                if precision <= 8:
                    got = [list(p) for p in d["planes"]]
                else:
                    got = [list(_struct.unpack(f">{w * h}H", p))
                           for p in d["planes"]]
                assert got == exp, (precision, pred, ri)
                assert d["restart_interval"] == ri
                assert d["n_restart_markers"] == (w * h - 1) // ri
    # the no-DRI path is byte-identical to before
    planes = [[rng.randint(0, 255) for _ in range(20)]]
    d = jpeg_decode_pixels(jpeg_lossless_bytes(5, 4, planes, predictor=5))
    assert list(d["planes"][0]) == planes[0] and d["n_restart_markers"] == 0


def test_jpeg_lossless_restart_first_line_uses_ra():
    """T.81 H.1.1 conformance (round 12): after a restart marker the
    interval's first line must use the 1-D Ra predictor regardless of
    the selected predictor, so prediction NEVER references a sample
    coded before the marker. Observable: with restart_interval == w and
    h == 2, the entropy bytes after the RSTn marker depend only on row
    2 — two images differing only in row 1 must encode identical
    post-marker bytes (they did NOT pre-fix for predictors 2..7)."""
    import random

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_lossless_bytes,
    )

    rng = random.Random(99)
    w = 7
    row2 = [rng.randint(0, 255) for _ in range(w)]
    for pred in range(2, 8):
        row1a = [rng.randint(0, 255) for _ in range(w)]
        row1b = [(v + 101) % 256 for v in row1a]
        enc_a = jpeg_lossless_bytes(w, 2, [row1a + row2],
                                    predictor=pred, restart_interval=w)
        enc_b = jpeg_lossless_bytes(w, 2, [row1b + row2],
                                    predictor=pred, restart_interval=w)
        # both streams contain exactly one RST0; compare the suffixes
        ia, ib = enc_a.rfind(b"\xff\xd0"), enc_b.rfind(b"\xff\xd0")
        assert ia > 0 and ib > 0
        assert enc_a[ia:] == enc_b[ib:], pred
        # and both still round-trip exactly
        for enc, row1 in ((enc_a, row1a), (enc_b, row1b)):
            d = jpeg_decode_pixels(enc)
            assert list(d["planes"][0]) == row1 + row2, pred
    # a later line INSIDE an interval resumes the selected predictor
    # (H.1.1 scopes the Ra rule to the interval's first line only):
    # interval spans the whole image -> one marker mid-row 1 max; use
    # ri large enough that rows 2+ are plain 2-D prediction again
    plane = [rng.randint(0, 255) for _ in range(6 * 4)]
    d = jpeg_decode_pixels(
        jpeg_lossless_bytes(6, 4, [plane], predictor=4, restart_interval=9))
    assert list(d["planes"][0]) == plane


def test_round12_advice_guards():
    """Round-12 hardening: (1) flac_bytes rejects blocksize > 65536
    with ValueError (not struct.error — the header codes blocksize-1
    in 16 bits); (2) parse_media's FLAC sniff verifies the first
    metadata block IS a 34-byte STREAMINFO before decoding it, else
    generic-unknown; (3) jpeg_progressive_bytes range-checks 8-bit
    int-list planes like it already did 12-bit ones."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.flaccodec import (
        flac_bytes,
        flac_decode_samples,
    )
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_progressive_bytes,
    )
    from lfb_data_warehouse_spark.operators.multimodal import parse_media

    with _pytest.raises(ValueError, match="1..65536"):
        flac_bytes(44100, 16, [([0] * 65537, ("constant",))])
    # 65536 itself is the legal maximum and still round-trips
    d = flac_decode_samples(flac_bytes(8000, 8, [([5] * 65536, ("constant",))]))
    assert d["n_samples"] == 65536

    good = flac_bytes(44100, 16, [([9] * 32, ("constant",))])
    meta = parse_media(good)
    assert meta["media_type"] == "audio/flac" and meta["n_samples"] == 32
    # first block claims type 4 (VORBIS_COMMENT): must NOT be read as
    # STREAMINFO rates — generic fallback instead of garbage fields
    evil = bytearray(good)
    evil[4] = (evil[4] & 0x80) | 0x04
    assert parse_media(bytes(evil))["media_type"] == "application/octet-stream"
    # wrong declared STREAMINFO length is equally rejected
    evil2 = bytearray(good)
    evil2[7] = 35
    assert parse_media(bytes(evil2))["media_type"] == "application/octet-stream"

    with _pytest.raises(ValueError, match="0..255"):
        jpeg_progressive_bytes(8, 8, [[300] * 64], bands=((1, 63),))
    with _pytest.raises(ValueError, match="0..255"):
        jpeg_progressive_bytes(8, 8, [[-1] * 64], bands=((1, 63),))
    # bytes planes and in-range lists stay accepted
    assert jpeg_progressive_bytes(
        8, 8, [[255] * 64], bands=((1, 63),))[:2] == b"\xff\xd8"


def test_jpeg_lossless_subsampled_roundtrip():
    """Round 12 retires the subsampled-lossless refusal: interleaved
    SOF3 scans with per-component (H, V) factors round-trip EXACTLY
    across sampling shapes, precisions, predictors and point
    transforms — each component predicts over its OWN sampling grid
    and the A.2.3 MCU walk (V then H within the MCU) matches between
    encoder and decoder. The narrowed refusals stay explicit."""
    import random
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_lossless_bytes,
    )

    rng = random.Random(31)
    for sampling in ([(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)],
                     [(1, 2), (2, 2), (1, 1)], [(4, 1), (1, 1), (2, 1)]):
        hmax = max(h for h, _ in sampling)
        vmax = max(v for _, v in sampling)
        w, h = hmax * 3, vmax * 2
        dims = [(w * hs // hmax, h * vs // vmax) for hs, vs in sampling]
        for prec, pt in ((8, 0), (16, 2), (12, 1)):
            smax = (1 << prec) - 1
            planes = [[rng.randint(0, smax) for _ in range(cw * ch)]
                      for cw, ch in dims]
            for pred in (1, 4, 7):
                d = jpeg_decode_pixels(jpeg_lossless_bytes(
                    w, h, planes, predictor=pred, precision=prec,
                    point_transform=pt, sampling=sampling))
                lost = ~((1 << pt) - 1) & 0xFFFF
                exp = [[v & lost for v in p] for p in planes]
                if prec <= 8:
                    got = [list(p) for p in d["planes"]]
                else:
                    got = [list(_struct.unpack(f">{len(pl)}H", p))
                           for pl, p in zip(planes, d["planes"])]
                assert got == exp, (sampling, prec, pred)
                assert d["sampling"] == sampling
                assert d["plane_dims"] == dims
                assert d["lossless"] and d["channels"] == 3
    # narrowed refusals stay explicit
    s420 = [(2, 2), (1, 1), (1, 1)]
    with _pytest.raises(ValueError, match="3-component"):
        jpeg_lossless_bytes(4, 4, [[0] * 16], sampling=[(2, 2)])
    # partial MCUs (round 13 — formerly a refusal): odd dims take the
    # A.1.1 ceil component dims; plane sizes are validated against them
    with _pytest.raises(ValueError, match="plane must be 6 samples"):
        jpeg_lossless_bytes(5, 4, [[0] * 20, [0] * 8, [0] * 8], sampling=s420)
    d = jpeg_decode_pixels(jpeg_lossless_bytes(
        5, 4, [[7] * 20, [9] * 6, [11] * 6], sampling=s420))
    assert d["plane_dims"] == [(5, 4), (3, 2), (3, 2)]
    assert list(d["planes"][0]) == [7] * 20
    assert list(d["planes"][1]) == [9] * 6
    with _pytest.raises(ValueError, match="10 data units"):
        jpeg_lossless_bytes(
            4, 4, [[0] * 16, [0] * 16, [0] * 16],
            sampling=[(2, 2), (2, 2), (2, 2)])


def test_jpeg_lossless_subsampled_restart_intervals():
    """Round 13 retires the restart-in-subsampled-lossless refusal by
    composing the two existing mechanisms: cycling RSTn every Ri
    interleaved MCUs, with the H.1.1 prediction reset applied per
    COMPONENT GRID — each component's first sample after the marker
    takes the scan-start default, the remainder of that component's
    first line (its v=0 row through the end of the MCU row) takes Ra,
    and later lines resume the selected predictor. Pins: exact
    reconstruction across sampling shapes / precisions / predictors /
    interval lengths (including intervals that restart mid-MCU-row
    and spans crossing MCU-row boundaries), the consumed-marker
    count, and encoder/decoder cross-marker symmetry for ROW-ALIGNED
    intervals (post-marker entropy bytes invariant to pre-marker
    first-line content). The symmetry claim is deliberately scoped to
    row-aligned ri (ADVICE r13): mid-row intervals reset only each
    component's v=0 row, so v>=1 rows of the first post-marker MCU
    predict across the marker — symmetric in encode and decode (the
    exactness pins above cover ri 1/3/5), but not independently
    resync-able."""
    import random
    import struct as _struct

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_lossless_bytes,
    )

    rng = random.Random(47)
    for sampling in ([(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)],
                     [(1, 2), (2, 2), (1, 1)]):
        hmax = max(h for h, _ in sampling)
        vmax = max(v for _, v in sampling)
        w, h = hmax * 4, vmax * 3  # 12 MCUs
        dims = [(w * hs // hmax, h * vs // vmax) for hs, vs in sampling]
        for prec, pt in ((8, 0), (16, 2)):
            smax = (1 << prec) - 1
            planes = [[rng.randint(0, smax) for _ in range(cw * ch)]
                      for cw, ch in dims]
            for pred in (1, 2, 4, 7):
                for ri in (1, 3, 5):  # mid-row and row-spanning intervals
                    d = jpeg_decode_pixels(jpeg_lossless_bytes(
                        w, h, planes, predictor=pred, precision=prec,
                        point_transform=pt, sampling=sampling,
                        restart_interval=ri))
                    lost = ~((1 << pt) - 1) & 0xFFFF
                    exp = [[v & lost for v in p] for p in planes]
                    if prec <= 8:
                        got = [list(p) for p in d["planes"]]
                    else:
                        got = [list(_struct.unpack(f">{len(pl)}H", p))
                               for pl, p in zip(planes, d["planes"])]
                    assert got == exp, (sampling, prec, pred, ri)
                    n_mcu = (w // hmax) * (h // vmax)
                    assert d["n_restart_markers"] == (n_mcu - 1) // ri
    # cross-marker symmetry: with ri = one MCU row, the bytes after the
    # marker depend only on the second MCU row — per component, the
    # post-restart first line uses Ra and the first sample the default,
    # never a pre-marker sample (predictors 2..7 would reference across
    # the marker without the per-grid reset)
    s = [(2, 2), (1, 1), (1, 1)]
    w, h = 8, 4  # 2 MCU rows of 4
    dims = [(8, 4), (4, 2), (4, 2)]
    row2 = [[rng.randint(0, 255) for _ in range(cw * (ch // 2))]
            for cw, ch in dims]
    for pred in range(2, 8):
        rowa = [[rng.randint(0, 255) for _ in range(cw * (ch // 2))]
                for cw, ch in dims]
        rowb = [[(v + 77) % 256 for v in p] for p in rowa]
        enc = []
        for top in (rowa, rowb):
            planes = [t + r2 for t, r2 in zip(top, row2)]
            enc.append(jpeg_lossless_bytes(
                w, h, planes, predictor=pred, sampling=s,
                restart_interval=4))
        ia, ib = enc[0].rfind(b"\xff\xd0"), enc[1].rfind(b"\xff\xd0")
        assert ia > 0 and ib > 0
        assert enc[0][ia:] == enc[1][ib:], pred


def test_jpeg_lossless_subsampled_partial_mcus():
    """Round 13 retires the partial-MCU refusal: subsampled lossless
    frames whose dimensions are NOT multiples of Hmax/Vmax take the
    T.81 A.1.1 ceil component dims, code whole MCUs over an
    edge-replicated padded grid (A.2.4), and the decoder crops the
    padding away — exact round-trips across sampling shapes, odd
    dimensions, precisions, predictors, and restart intervals (the
    padded walk composes with the round-13 per-grid H.1.1 reset)."""
    import random
    import struct as _struct

    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_lossless_bytes,
    )

    rng = random.Random(5)
    for sampling in ([(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)],
                     [(1, 2), (2, 2), (1, 1)], [(3, 1), (1, 1), (1, 1)]):
        hmax = max(h for h, _ in sampling)
        vmax = max(v for _, v in sampling)
        for (w, h) in [(7, 5), (hmax * 2 + 1, vmax * 3),
                       (hmax * 2, vmax * 2 + 1), (5, 3)]:
            dims = [(-(-w * hs // hmax), -(-h * vs // vmax))
                    for hs, vs in sampling]
            for prec, pt in ((8, 0), (16, 2)):
                smax = (1 << prec) - 1
                planes = [[rng.randint(0, smax) for _ in range(cw * ch)]
                          for cw, ch in dims]
                for pred in (1, 4, 7):
                    for ri in (0, 3):
                        d = jpeg_decode_pixels(jpeg_lossless_bytes(
                            w, h, planes, predictor=pred, precision=prec,
                            point_transform=pt, sampling=sampling,
                            restart_interval=ri))
                        lost = ~((1 << pt) - 1) & 0xFFFF
                        exp = [[v & lost for v in p] for p in planes]
                        if prec <= 8:
                            got = [list(p) for p in d["planes"]]
                        else:
                            got = [list(_struct.unpack(f">{len(pl)}H", p))
                                   for pl, p in zip(planes, d["planes"])]
                        assert got == exp, (sampling, (w, h), prec, pred, ri)
                        assert d["plane_dims"] == dims
                        assert (d["width"], d["height"]) == (w, h)


def test_flac_deep_bit_depths():
    """Round 12 extends FLAC beyond 8/16-bit to the full RFC 9639
    sample-size set (12/20/24/32 — 24-bit is the archival standard):
    round-trips are exact at every depth, the frame header carries the
    right size code, the MD5 runs over ceil(bps/8)-byte little-endian
    samples, and mid/side decorrelation survives the side channel's
    extra bit at depth. Reserved code 0b011 (and every non-set width)
    stays an explicit refusal."""
    import random

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.flaccodec import (
        flac_bytes,
        flac_decode_samples,
    )

    rng = random.Random(13)
    for bps in (12, 20, 24, 32):
        lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
        s1 = [rng.randint(lo, hi) for _ in range(40)]
        d = flac_decode_samples(flac_bytes(48000, bps, [(s1, ("verbatim",))]))
        assert d["samples"] == s1 and d["bits"] == bps
        s2 = [rng.randint(lo // 2, hi // 2) for _ in range(48)]
        d = flac_decode_samples(flac_bytes(48000, bps, [(s2, ("fixed", 2, 1))]))
        assert d["samples"] == s2
        left = [rng.randint(lo // 2, hi // 2) for _ in range(32)]
        right = [rng.randint(lo // 2, hi // 2) for _ in range(32)]
        d = flac_decode_samples(flac_bytes(
            48000, bps, [([left, right], [("fixed", 1, 0), ("verbatim",)])],
            channels=2, assignment="mid_side"))
        assert d["samples"] == [v for i in range(32)
                                for v in (left[i], right[i])]
    # corruption at depth still lands on CRC-16/MD5, never silence
    blob = bytearray(flac_bytes(
        48000, 24, [([rng.randint(-1 << 22, 1 << 22) for _ in range(40)],
                     ("fixed", 2, 1))]))
    blob[-3] ^= 0x40
    with _pytest.raises(ValueError):
        flac_decode_samples(bytes(blob))
    with _pytest.raises(ValueError, match="8/12/16/20/24/32"):
        flac_bytes(48000, 14, [([0] * 16, ("constant",))])


def test_mixed_media_eight_format_dispatch(spark):
    """The round-12 battery rotation covers every sniffable container
    in ONE pass: all eight media types decode next to both poison
    variants (magic stomp, truncate-to-8) and a NULL payload without
    killing the stage, and per-type row counts match the (d//2)%8
    selector."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_media_poison_stats,
        synthesize_mixed_media,
    )

    docs = spark.range(0, 256).select(F.col("id").alias("doc_id"))
    null = spark.createDataFrame([(256, None)], "doc_id long, payload binary")
    media = synthesize_mixed_media(docs, "doc_id").unionByName(null)
    rows = {r["doc_id"]: r for r in decode_media_poison_stats(media).collect()}
    assert len(rows) == 257
    # a NULL payload is one more undecodable row, not a TypeError
    nr = rows.pop(256)
    assert nr["decoded"] is False and nr["media_type"] is None
    types = {}
    for d, r in rows.items():
        if d % 2 == 1:
            assert not r["decoded"] and r["media_type"] is None, d
        else:
            assert r["decoded"] and r["value_sum"] is not None, d
            types.setdefault(r["media_type"], set()).add((d // 2) % 8)
    # every good doc's reported type matches its selector class
    assert types == {
        "image/png": {0}, "image/jpeg": {1}, "audio/wav": {2, 4},
        "audio/flac": {3}, "image/gif": {5}, "image/bmp": {6},
        "image/tiff": {7},
    }


def test_wav_deep_pcm_depths():
    """Round 12: 24-bit (studio-master) and 32-bit integer PCM WAV
    round-trip exactly, mono and stereo, with container metadata
    agreeing; unsupported integer widths and unknown format tags stay
    explicit refusals. (IEEE-float fmt 3 became a supported decode in
    round 13 — the hand-built fmt-3 stream here now decodes.)"""
    import random
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_real,
        parse_media,
        wav_decode_samples,
        wav_pcm_bytes,
    )

    rng = random.Random(17)
    for bits in (24, 32):
        lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
        s = [rng.randint(lo, hi) for _ in range(50)]
        d = decode_real(wav_pcm_bytes(1, 48000, s, bits=bits))
        assert d["samples"] == s and d["bits"] == bits
        s2 = [rng.randint(lo, hi) for _ in range(40)]
        d2 = decode_real(wav_pcm_bytes(2, 48000, s2, bits=bits))
        assert d2["samples"] == s2 and d2["n_samples"] == 20
        assert parse_media(wav_pcm_bytes(2, 48000, s2, bits=bits))[
            "n_samples"] == 20
    with _pytest.raises(ValueError, match="8/16/24/32"):
        wav_pcm_bytes(1, 8000, [0] * 4, bits=20)
    # a HAND-BUILT float WAV (fmt 3, external producer) decodes — the
    # round-13 retirement of the float refusal, checked against an
    # independently assembled stream rather than our own encoder
    fmt = _struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    data = _struct.pack("<4f", 0.1, -0.5, 0.9, 0.0)
    body = (b"WAVEfmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", len(data)) + data)
    blob = b"RIFF" + _struct.pack("<I", len(body)) + body
    df = wav_decode_samples(blob)
    assert df["encoding"] == "float" and df["bits"] == 32
    assert df["samples"] == [
        _struct.unpack("<f", _struct.pack("<f", v))[0]
        for v in (0.1, -0.5, 0.9, 0.0)
    ]
    # MS ADPCM (fmt 2) decodes since round 14 — the old refusal poison
    # (a fmt-2 chunk with NO coefficient-table extension) is now a
    # structural-consistency ValueError, not an unsupported-format one
    fmt2 = _struct.pack("<HHIIHH", 2, 1, 8000, 32000, 4, 4)
    body2 = (b"WAVEfmt " + _struct.pack("<I", len(fmt2)) + fmt2
             + b"data" + _struct.pack("<I", 4) + b"\x00" * 4)
    with _pytest.raises(ValueError, match="wSamplesPerBlock/wNumCoef"):
        wav_decode_samples(b"RIFF" + _struct.pack("<I", len(body2)) + body2)
    # a HAND-BUILT MS ADPCM stream (external-producer shape: standard
    # 7-pair table written out in the fmt extension) decodes: seeds
    # come back as samples 0/1 and nibble 0x0F (sgn −1, delta 16)
    # steps the two-tap predictor down
    coefs = b"".join(_struct.pack("<hh", c1, c2) for c1, c2 in
                     ((256, 0), (512, -256), (0, 0), (192, 64),
                      (240, 0), (460, -208), (392, -232)))
    fmt_ms = _struct.pack("<HHIIHHHHH", 2, 1, 8000, 4000, 8, 4, 32, 4, 7) + coefs
    blk = bytes([0]) + _struct.pack("<hhh", 16, 100, 200) + bytes([0xF0])
    body_ms = (b"WAVEfmt " + _struct.pack("<I", len(fmt_ms)) + fmt_ms
               + b"data" + _struct.pack("<I", len(blk)) + blk)
    dms = wav_decode_samples(b"RIFF" + _struct.pack("<I", len(body_ms)) + body_ms)
    assert dms["encoding"] == "ms_adpcm"
    # coef pair 0 = (256,0): pred = trunc(100·256/256) − 1·16 = 84,
    # then pred = trunc(84·256/256) + 0 = 84 (nibble 0 after the pad)
    assert dms["samples"] == [200, 100, 84, 84]


def test_wav_float_decode():
    """IEEE-float WAV (fmt 3, round 13): float32/float64 round-trips
    are exact (float64 bit-identical; float32 through one pack
    quantization), values beyond nominal ±1.0 full scale survive
    unclamped (the headroom the format exists for), the fact chunk is
    emitted, and non-32/64 widths refuse on both sides."""
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.multimodal import (
        decode_real,
        parse_media,
        wav_decode_samples,
        wav_float_bytes,
    )

    vals = [0.5, -1.25, 3.75, -0.0, 1e-20, 123456.75]
    d = decode_real(wav_float_bytes(2, 48000, vals, bits=32))
    assert d["encoding"] == "float" and d["bits"] == 32
    assert d["samples"] == [
        _struct.unpack("<f", _struct.pack("<f", v))[0] for v in vals
    ]
    assert d["n_samples"] == 3 and d["channels"] == 2
    assert d["samples"][2] == 3.75  # > 0 dBFS headroom unclamped
    d64 = wav_decode_samples(wav_float_bytes(1, 8000, vals, bits=64))
    assert d64["samples"] == vals and d64["bits"] == 64
    assert b"fact" in wav_float_bytes(1, 8000, vals)
    assert parse_media(wav_float_bytes(2, 48000, vals))["n_samples"] == 3
    with _pytest.raises(ValueError, match="32 or 64"):
        wav_float_bytes(1, 8000, vals, bits=24)
    b = bytearray(wav_float_bytes(1, 8000, [0.5] * 4))
    p = b.find(b"fmt ")
    b[p + 8 + 14 : p + 8 + 16] = _struct.pack("<H", 16)
    with _pytest.raises(ValueError, match="32 or 64"):
        wav_decode_samples(bytes(b))
    # a zero-channel fmt chunk must raise ValueError, not escape as
    # ZeroDivisionError from the n_samples division (round-13
    # zero-field poison probe finding; applies to every WAV format)
    from lfb_data_warehouse_spark.operators.multimodal import wav_pcm_bytes

    for blob in (wav_pcm_bytes(1, 8000, [100, -100]),
                 wav_float_bytes(1, 8000, [0.5, -0.5])):
        z = bytearray(blob)
        q = z.find(b"fmt ")
        z[q + 8 + 2 : q + 8 + 4] = _struct.pack("<H", 0)
        with _pytest.raises(ValueError, match="zero channels"):
            wav_decode_samples(bytes(z))


def test_tiff_16bit_samples():
    """Round 12: 16-bit TIFF (the scientific/microscopy depth) round-
    trips exactly — gray and RGB, both byte orders, PackBits/LZW/
    Deflate, Predictor 2 differencing mod 65536 at SAMPLE level — with
    ``samples16`` following the PNG16/lossless-JPEG convention and the
    raster big-endian packed. Narrowed refusals stay explicit."""
    import random
    import struct as _struct

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.tiffcodec import (
        tiff_bytes,
        tiff_decode_pixels,
    )

    rng = random.Random(41)
    for ch in (1, 3):
        for be in (False, True):
            for comp in ({}, {"packbits": True}, {"lzw": True},
                         {"deflate": True}, {"lzw": True, "predictor": 2},
                         {"deflate": True, "predictor": 2}):
                w, h = 7, 5
                vals = [rng.randint(0, 65535) for _ in range(w * h * ch)]
                d = tiff_decode_pixels(tiff_bytes(
                    w, h, vals, channels=ch, rows_per_strip=2,
                    big_endian=be, bits=16, **comp))
                assert d["samples16"] == vals, (ch, be, comp)
                assert d["bit_depth"] == 16 and d["channels"] == ch
                assert d["raster"] == _struct.pack(f">{len(vals)}H", *vals)
    with _pytest.raises(ValueError, match="16-bit palette"):
        tiff_bytes(4, 4, [0] * 16, bits=16, palette=bytes(12))
    with _pytest.raises(ValueError, match="16-bit tiled"):
        tiff_bytes(4, 4, [0] * 16, bits=16, tile=(16, 16))
    with _pytest.raises(ValueError, match="0..65535"):
        tiff_bytes(4, 4, [70000] * 16, bits=16)
