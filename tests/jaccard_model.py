"""Pure-Python reference for the exact shingle-pair kernels in
``operators/dedup.py``: set Jaccard and containment over word n-grams.

Written from the definitions, not from the engine: a document's words
are ``text.lower().split()``, its shingles the set of ``n`` consecutive
words joined by single spaces, and two documents pair when they share a
shingle (and a group). Every ratio is one division of two exact
integers, the same IEEE operation the engine's double division does, so
results compare with ``==``.

Documents are ``(doc_id, group, text)`` tuples.
"""

from __future__ import annotations

from itertools import combinations


def shingle_set(text: str, n: int) -> frozenset[str]:
    words = text.lower().split()
    return frozenset(" ".join(words[i : i + n]) for i in range(len(words) - n + 1))


def _shared(docs, n: int):
    """(id_a, id_b, A, B) for every same-group pair, id_a < id_b, whose
    shingle sets intersect."""
    sets = sorted((d, g, shingle_set(t, n)) for d, g, t in docs)
    for (ia, ga, sa), (ib, gb, sb) in combinations(sets, 2):
        if ga == gb and sa & sb:
            yield ia, ib, sa, sb


def jaccard(sa: frozenset, sb: frozenset) -> float:
    return len(sa & sb) / len(sa | sb)


def jaccard_pairs(docs, n: int, threshold: float) -> dict[tuple[int, int], float]:
    """{(id_a, id_b): jaccard} for pairs with jaccard >= threshold."""
    out = {}
    for ia, ib, sa, sb in _shared(docs, n):
        j = jaccard(sa, sb)
        if j >= threshold:
            out[(ia, ib)] = j
    return out


def containment_pairs(docs, n: int, threshold: float) -> dict[tuple[int, int], tuple]:
    """{(id_a, id_b): (|A∩B|/|A|, |A∩B|/|B|, jaccard)} for pairs whose
    larger containment is >= threshold."""
    out = {}
    for ia, ib, sa, sb in _shared(docs, n):
        inter = len(sa & sb)
        c_ab, c_ba = inter / len(sa), inter / len(sb)
        if max(c_ab, c_ba) >= threshold:
            out[(ia, ib)] = (c_ab, c_ba, jaccard(sa, sb))
    return out


def incremental_pairs(old, new, n: int, threshold: float) -> dict[tuple[int, int], float]:
    """The jaccard pairs of today's corpus that involve a NEW document:
    new×new and new×old, never old×old. An id in both batches was
    re-submitted today, so its new text replaces the old one."""
    new_ids = {d for d, _g, _t in new}
    corpus = [doc for doc in old if doc[0] not in new_ids] + list(new)
    return {
        k: j
        for k, j in jaccard_pairs(corpus, n, threshold).items()
        if k[0] in new_ids or k[1] in new_ids
    }
