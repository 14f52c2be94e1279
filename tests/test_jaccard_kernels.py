"""The exact shingle-pair kernels against an independent reference.

``all_pairs_jaccard``, ``containment_pairs`` and
``incremental_jaccard_pairs`` are checked against ``jaccard_model`` (plain
Python sets), each on the plain join (``hot_cap=0``) and with a cap small
enough that the fixture's hot shingle takes the salted split of
``dedup._pair_join``. Ratios compare exactly.
"""

import random

import pytest

import jaccard_model
from lfb_data_warehouse_spark.operators import dedup

VOCAB = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()
SMALL_CAP = 10
SCHEMA = "doc_id long, source string, body string"


def corpus(seed: int, ids) -> list[tuple[int, str, str]]:
    """Short docs over a 12-word vocabulary: every third starts with the
    hot phrase "the cat sat" (in mixed case), every seventh is a one-word
    edit of the previous doc, some are a single word (no bigram) and
    some use tabs and newlines between words."""
    rng = random.Random(seed)
    docs, prev = [], ["alpha"]
    for i in ids:
        words = [rng.choice(VOCAB) for _ in range(rng.randint(1, 9))]
        if i % 7 == 0:
            words = list(prev)
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        if i % 3 == 0:
            words = ["The", "CAT", "sat"] + words
        sep = "\t" if i % 5 == 0 else "\n " if i % 11 == 0 else " "
        docs.append((i, f"s{i % 2}", sep.join(words)))
        prev = words
    return docs


@pytest.fixture
def salted_calls(monkeypatch):
    """How many pair joins took the salted branch."""
    calls = []
    plain = dedup._pair_join

    def spy(lhs, rhs, jcols, salt_id, hot, n_salt, n_part):
        calls.append(hot is not None)
        return plain(lhs, rhs, jcols, salt_id, hot, n_salt, n_part)

    monkeypatch.setattr(dedup, "_pair_join", spy)
    return calls


@pytest.mark.parametrize("cap", [0, SMALL_CAP])
@pytest.mark.parametrize("n", [2, 3])
def test_all_pairs_jaccard_matches_model(spark, salted_calls, cap, n):
    docs = corpus(1, range(120))
    df = spark.createDataFrame(docs, SCHEMA)
    got = dedup.all_pairs_jaccard(df, "doc_id", "body", n, 0.2, group_col="source", hot_cap=cap)
    exp = jaccard_model.jaccard_pairs(docs, n, 0.2)
    assert {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()} == exp
    assert len(exp) >= 5
    assert salted_calls == [cap > 0]


@pytest.mark.parametrize("cap", [0, SMALL_CAP])
def test_containment_pairs_matches_model(spark, salted_calls, monkeypatch, cap):
    monkeypatch.setattr(dedup, "PAIR_HOT_CAP", cap)
    docs = corpus(2, range(120))
    df = spark.createDataFrame(docs, SCHEMA)
    got = dedup.containment_pairs(df, "doc_id", "body", 2, 0.3, group_col="source")
    exp = jaccard_model.containment_pairs(docs, 2, 0.3)
    assert {
        (r["id_a"], r["id_b"]): (r["containment_a_in_b"], r["containment_b_in_a"], r["jaccard"])
        for r in got.collect()
    } == exp
    assert len(exp) > 20
    assert salted_calls == [cap > 0]


@pytest.mark.parametrize("cap", [0, SMALL_CAP])
def test_incremental_jaccard_pairs_matches_model(spark, salted_calls, cap):
    """Ids 80-89 are re-ingested: in both batches, with new text."""
    old, new = corpus(3, range(90)), corpus(4, range(80, 130))
    got = dedup.incremental_jaccard_pairs(
        spark.createDataFrame(old, SCHEMA),
        spark.createDataFrame(new, SCHEMA),
        "doc_id", "body", 2, 0.2, group_col="source", hot_cap=cap,
    )
    exp = jaccard_model.incremental_pairs(old, new, 2, 0.2)
    assert {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()} == exp
    # the fixture reaches every pair kind, the re-ingested ids included
    assert any(a < 80 and b >= 90 for a, b in exp)
    assert any(a >= 90 for a, _b in exp)
    assert any(80 <= a < 90 or 80 <= b < 90 for a, b in exp)
    assert salted_calls == [cap > 0]


def test_model_reads_words_and_ngrams_as_documented():
    assert jaccard_model.shingle_set("The  cat\tSAT on", 2) == {"the cat", "cat sat", "sat on"}
    assert jaccard_model.shingle_set("one", 2) == frozenset()
    a, b = frozenset("xyz"), frozenset("yzw")
    assert jaccard_model.jaccard(a, b) == 0.5
