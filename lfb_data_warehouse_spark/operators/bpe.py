"""Distributed BPE tokenizer training (merge learning).

The missing piece between the pre-tokenizer (:func:`..functions.text.
bpe_tokens`, a token-count proxy) and a real trained tokenizer: learn
the merge table itself from the corpus. Classic byte-pair encoding
(Sennrich et al. 2016, public): count symbol-pair frequencies weighted
by word frequency, merge the most frequent pair everywhere (greedy
left-to-right, non-overlapping), repeat.

Spark-first shape — the state that iterates is VOCABULARY-bounded, not
corpus-bounded:

* one corpus pass collapses the corpus to ``(word, count)`` rows
  (distinct words: ~10⁵–10⁶ at any corpus size, the classic BPE trick);
* each merge round is one shuffle over the current pair counts
  (explode adjacent pairs from the segmentation, groupBy pair, sum) —
  pair cardinality is bounded by vocabulary, not by tokens;
* exactly ONE row is collected per round (the argmax pair — a bounded,
  documented collect), broadcast back as a literal into a map-side
  ``replace`` chain; the segmentation column never leaves the cluster.

Greedy non-overlapping merge application is expressed as a REPEATED
string replace over a delimiter-framed segmentation string
(``\\x1f a \\x1f b \\x1f`` → ``\\x1f ab \\x1f``): a single replace pass
misses every second occurrence in a run (the shared frame byte is
consumed), and a run of k mergeable pairs needs k passes — so the chain
is ``_MAX_RUN`` passes deep, and words longer than ``2·_MAX_RUN``
symbols are excluded up front (mirrored in the oracle). The DuckDB
oracle unrolls the same rounds with the identical nested-replace chain,
so both engines implement byte-identical merge semantics.

Determinism: ties on pair count break by (left, right) string order —
pinned identically in the ``orderBy`` here and the oracle's ``ORDER
BY``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import local_frame

SEP = "\x1f"
_MAX_RUN = 16  # replace-chain depth; words capped at 2*_MAX_RUN symbols
MAX_WORD_LEN = 2 * _MAX_RUN


def word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """Collapse the corpus to (word, cnt): whitespace tokens, lowered,
    capped at MAX_WORD_LEN chars and free of the frame byte — the one
    corpus-sized pass; everything after is vocabulary-sized."""
    from ..functions.text import tokens

    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter(
            (F.length("word") <= MAX_WORD_LEN)
            & (~F.col("word").contains(SEP))
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _initial_segmentation(words: DataFrame) -> DataFrame:
    """Frame every word as ``SEP c1 SEP c2 … SEP`` — one symbol per
    character to start, exactly the string the oracle builds."""
    return words.withColumn(
        "seg",
        F.concat(
            F.lit(SEP),
            F.regexp_replace(F.col("word"), "(.)", "$1" + SEP),
        ),
    )


def _pair_counts(seg: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts, weighted by word count: split the
    framed segmentation, drop frame empties, explode index pairs."""
    s = F.filter(F.split(F.col("seg"), SEP), lambda x: x != F.lit(""))
    pairs = F.expr(
        "transform(slice(syms, 1, size(syms) - 1), "
        "(x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))"
    )
    return (
        seg.withColumn("syms", s)
        .filter(F.size("syms") >= 2)
        .select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _apply_merge(seg: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy non-overlapping merge of (a, b) → ab: _MAX_RUN framed
    replace passes (run of k mergeable pairs resolves in k passes)."""
    col = F.col("seg")
    pat, rep = F.lit(SEP + a + SEP + b + SEP), F.lit(SEP + a + b + SEP)
    for _ in range(_MAX_RUN):
        col = F.replace(col, pat, rep)
    return seg.withColumn("seg", col)


def bpe_segment_counts(
    docs: DataFrame, text_col: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """(word, n_subwords) after applying ``merges`` in learning order —
    the trained tokenizer's vocabulary view, one row per DISTINCT word
    (vocabulary-sized, the same bound as training)."""
    seg = _initial_segmentation(word_counts(docs, text_col))
    for a, b in merges:
        seg = _apply_merge(seg, a, b)
    syms = F.filter(F.split(F.col("seg"), SEP), lambda x: x != F.lit(""))
    return seg.select("word", F.size(syms).alias("n_subwords"))


def bpe_encode_counts(
    docs: DataFrame, id_col: str, text_col: str, n_merges: int = 6
) -> DataFrame:
    """Train the first ``n_merges`` merges, then APPLY them: per-doc
    whitespace-token and post-merge subword counts — the trained
    tokenizer in use, not just its merge table. The word→subword-count
    map is vocabulary-sized and broadcast into the token join (at a
    vocabulary too large to broadcast, drop the hint and let AQE pick a
    shuffle join — the plan is otherwise identical). Tokens longer than
    MAX_WORD_LEN or containing the frame byte are excluded from BOTH
    counts, mirroring training's vocabulary filter."""
    from ..functions.text import tokens

    merge_rows = bpe_train(docs, text_col, n_merges).collect()  # n rows
    merges = [(r["left_sym"], r["right_sym"]) for r in merge_rows]
    vocab = bpe_segment_counts(docs, text_col, merges)
    toks = (
        docs.select(id_col, F.explode(tokens(text_col)).alias("word"))
        .filter(
            (F.length("word") <= MAX_WORD_LEN)
            & (~F.col("word").contains(SEP))
        )
    )
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_subwords").alias("n_subwords"),
        )
    )


def bpe_train(
    docs: DataFrame, text_col: str, n_merges: int = 4
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus. Returns
    one row per merge: (merge_rank, left_sym, right_sym, merged,
    pair_count) in learning order — the head of the merge table a real
    tokenizer trainer would persist. One 1-row collect per round; the
    segmentation state stays distributed and vocabulary-sized."""
    spark: SparkSession = docs.sparkSession
    seg = _initial_segmentation(word_counts(docs, text_col))
    # vocabulary-sized state iterated over a handful of rounds: cache
    # so round i+1 doesn't recompute rounds 1..i's replace chains
    seg = seg.cache()
    merges = []
    try:
        for rank in range(1, n_merges + 1):
            top = (
                _pair_counts(seg)
                .orderBy(F.desc("pair_count"), "a", "b")
                .limit(1)
                .collect()  # bounded: exactly one row per round
            )
            if not top:
                break
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["pair_count"])
            merges.append((rank, a, b, a + b, cnt))
            nxt = _apply_merge(seg, a, b).cache()
            nxt.count()  # materialize before dropping the parent cache
            seg.unpersist()
            seg = nxt
    finally:
        seg.unpersist()
    schema = "merge_rank int, left_sym string, right_sym string, merged string, pair_count long"
    return local_frame(spark, merges, schema)
