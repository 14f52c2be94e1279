"""Text-analysis column expressions with generated SQL twins.

Every expression here has a ``*_sql`` generator producing the DuckDB
equivalent **from the same constants** (salt counts, marker lists,
shingle sizes), so the engine and the oracle cannot drift.

Parity rules worth noting:
- tokenization is ``regexp_extract_all(lower(text), '\\S+')`` on both
  engines (Java regex vs RE2 agree on this pattern);
- all doc-level hashes are md5/sha256 of explicit strings (identical
  hex on any engine) — never engine-native hash functions
  (Spark murmur3 vs DuckDB's hash are incompatible);
- ratios/scores are integer-count arithmetic lifted to double in a
  fixed expression order — bit-identical across engines;
- no transcendental functions (ln/exp differ in final ulps across
  libm implementations).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\S+"

# deterministic "language" marker lists for the heuristic language-ID
# operator (the synthetic corpus shares one vocabulary, so these are
# arbitrary-but-fixed word groups; on real corpora supply real stopword
# lists per language)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a"],
    "de": ["data", "batch"],
    "fr": ["line", "row"],
    "es": ["key", "value"],
}

STOPWORDS = ["the", "a", "of", "and"]

# GPT-2-style BPE pre-tokenizer pattern, restricted to the syntax both
# Java regex (Spark) and RE2 (DuckDB) interpret identically: English
# contraction suffixes, space-prefixed letter runs, digit runs, and
# punctuation runs. Verified byte-for-byte equal output on both engines.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+"


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


def tokens_sql(text: str) -> str:
    return f"regexp_extract_all(lower({text}), '\\S+')"


def bpe_tokens(text: Column | str) -> Column:
    """BPE-ish subword pre-tokenization (token-count estimation for
    LLM-data pipelines). A real tokenizer applies merges on top of this
    split; the pre-tokenizer piece count is the standard cheap proxy."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_PATTERN), 0)


def bpe_tokens_sql(text: str) -> str:
    pat = BPE_PATTERN.replace("'", "''")
    return f"regexp_extract_all(lower({text}), '{pat}')"


def shingles(words: Column, n: int) -> Column:
    """Word n-grams (space-joined), empty when the doc has < n words.

    Performance note: higher-order functions run interpreted (outside
    whole-stage codegen), and an expression referenced *inside* a lambda
    re-evaluates per element — composing ``shingles(tokens(text), 2)``
    with an index-loop would re-run the tokenizer regex once per shingle.
    The zip_with formulation evaluates its slice arguments once per row,
    so the cost is O(words), not O(words²).

    Guarded: Spark's ``sequence(1, 0)`` would count DOWN (step inferred
    -1), so short docs must short-circuit to an empty array.
    """
    if n == 1:
        return words
    if n == 2:
        bigrams = F.zip_with(
            F.slice(words, 1, F.size(words) - 1),
            F.slice(words, 2, F.size(words) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        return F.when(F.size(words) >= 2, bigrams).otherwise(F.array().cast("array<string>"))
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_sql(words: str, n: int) -> str:
    if n == 1:
        return words
    return (
        f"[array_to_string({words}[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len({words}) - {n - 2}, 1))]"
    )


def salted_minhash(shingle: Column | str, salt: int, hex_chars: int = 16) -> Column:
    """One MinHash value: lexicographic min over ``md5(salt || ':' || s)``
    prefixes (uniform — avoids unsigned-int64 parity headaches)."""
    c = F.col(shingle) if isinstance(shingle, str) else shingle
    return F.min(F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c)), 1, hex_chars))


def salted_minhash_sql(shingle: str, salt: int, hex_chars: int = 16) -> str:
    return f"min(substr(md5('{salt}:' || {shingle}), 1, {hex_chars}))"


HEX_HIGH = list("89abcdef")  # hex digits whose high bit is 1


def simhash_bit_weight_sql(word: str, bit: int) -> str:
    """±1 contribution of a token to SimHash bit ``bit`` (0-based): the
    high bit of hex digit ``bit`` of md5(word)."""
    digits = ", ".join(f"'{d}'" for d in HEX_HIGH)
    return f"CASE WHEN substr(md5({word}), {bit + 1}, 1) IN ({digits}) THEN 1 ELSE -1 END"


def normalized_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace collapsed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def normalized_text_sql(text: str) -> str:
    # DuckDB regexp_replace replaces only the first match without 'g'
    return f"trim(regexp_replace(lower({text}), '\\s+', ' ', 'g'))"


# HTML text extraction (round 10; numeric character references and
# case/multi-line block handling added round 11). Patterns restricted
# to syntax Java regex and RE2 read identically — NO backreferences
# (RE2 has none), so script/style blocks get their own literal
# patterns instead of <(script|style)>.*?</\1>; the (?is) prefix
# (same semantics in both engines) makes the block strip survive the
# real-crawl norm of MULTI-LINE and mixed-case <SCRIPT>/<STYLE> blocks
# (round-10 ADVICE: '.' matches no newline in either engine without
# it). Order matters three times: blocks strip before generic tags
# (their contents must vanish, not leak as text); numeric refs decode
# AFTER the named entities so '&#38;lt;' yields the literal text
# '&lt;', never a live entity; and every '&'-producing decode
# (&amp;, &#38;, &#x26;) runs LAST so nothing it emits can re-trigger
# an earlier rule.
_HTML_BLOCKS = (r"(?is)<script[^>]*>.*?</script>", r"(?is)<style[^>]*>.*?</style>")
_HTML_TAG = r"<[^>]+>"
_HTML_ENTITIES_PRE = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"))
# decimal up to 7 digits / hex up to 6 — longer runs stay literal text
_HTML_NUMREF = r"&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};"
_HTML_AMP_LAST = (("&amp;", "&"),)  # plus the amp-valued numeric refs below
_HTML_AMP_NUMREF = r"&#0*38;|&#[xX]0*26;"


def _numref_char(ref: Column) -> Column:
    """Decode one extracted numeric character reference (full text,
    e.g. ``&#65;`` / ``&#x41;``) to its character, for code points
    9/10/13 and 32..255 — the range where Spark ``char`` and DuckDB
    ``chr`` agree byte-for-byte. Amp (38) is excluded here (it decodes
    in the final stage) and everything else stays literal ref text."""
    dec = F.regexp_extract(ref, r"&#([0-9]+);", 1)
    hx = F.lower(F.regexp_extract(ref, r"&#[xX]([0-9a-fA-F]+);", 1))
    code = F.when(dec != "", dec.cast("long")).otherwise(
        F.conv(hx, 16, 10).cast("long")
    )
    decodable = (code.isin(9, 10, 13) | code.between(32, 255)) & (code != 38)
    return F.when(decodable, F.char(code)).otherwise(ref)


def _decode_numrefs(c: Column) -> Column:
    """Split on numeric refs, decode each, and stitch the string back
    together — split keeps trailing empties in both engines, so parts
    always has exactly one more element than refs; zip_with pads the
    missing last ref with NULL and concat_ws drops it."""
    parts = F.split(c, _HTML_NUMREF)
    refs = F.regexp_extract_all(c, F.lit("(" + _HTML_NUMREF + ")"), 1)
    decoded = F.transform(refs, _numref_char)
    return F.array_join(
        F.zip_with(parts, decoded, lambda p, d: F.concat_ws("", p, d)), ""
    )


def _decode_numrefs_sql(c: str) -> str:
    """DuckDB twin of :func:`_decode_numrefs`: index-stitched
    reconstruction; hex folds via strpos arithmetic (pow cast exact for
    exponents ≤ 5) since DuckDB has no conv()."""
    parts = f"regexp_split_to_array({c}, '{_HTML_NUMREF}')"
    refs = f"regexp_extract_all({c}, '({_HTML_NUMREF})', 1)"
    r = f"({refs})[i]"
    dec = f"regexp_extract({r}, '&#([0-9]+);', 1)"
    hx = f"lower(regexp_extract({r}, '&#[xX]([0-9a-fA-F]+);', 1))"
    hexval = (
        f"list_sum(list_transform(range(1, len({hx}) + 1), "
        f"j -> (strpos('0123456789abcdef', substr({hx}, j, 1)) - 1) "
        f"* CAST(pow(16, len({hx}) - j) AS BIGINT)))"
    )
    code = f"(CASE WHEN {dec} != '' THEN CAST({dec} AS BIGINT) ELSE {hexval} END)"
    piece = (
        f"({parts})[i] || (CASE WHEN ({code} IN (9, 10, 13) "
        f"OR {code} BETWEEN 32 AND 255) AND {code} != 38 "
        f"THEN chr(CAST({code} AS INTEGER)) ELSE {r} END)"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL, not '' (a ref-less
    # string would otherwise null the whole expression)
    return (
        f"(coalesce(array_to_string(list_transform(range(1, len({refs}) + 1), "
        f"i -> {piece}), ''), '') || ({parts})[len({refs}) + 1])"
    )


def html_text(html: Column | str) -> Column:
    """Visible text of an HTML fragment: script/style blocks removed
    (case-insensitive, across newlines), tags stripped, the four
    non-amp core entities then numeric character references
    (&#NN;/&#xNN;, code points 9/10/13/32..255) decoded, every
    '&'-producing decode last, whitespace collapsed — codegen'd
    regexp chains plus one array stitch, map-only."""
    c = F.col(html) if isinstance(html, str) else html
    for pat in _HTML_BLOCKS:
        c = F.regexp_replace(c, pat, " ")
    c = F.regexp_replace(c, _HTML_TAG, " ")
    for ent, ch in _HTML_ENTITIES_PRE:
        c = F.regexp_replace(c, ent, ch)
    c = _decode_numrefs(c)
    for ent, ch in _HTML_AMP_LAST:
        c = F.regexp_replace(c, ent, ch)
    c = F.regexp_replace(c, _HTML_AMP_NUMREF, "&")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_text_sql(html: str) -> str:
    c = html
    for pat in _HTML_BLOCKS:
        c = f"regexp_replace({c}, '{pat}', ' ', 'g')"
    c = f"regexp_replace({c}, '{_HTML_TAG}', ' ', 'g')"
    for ent, ch in _HTML_ENTITIES_PRE:
        lit = ch.replace("'", "''")
        c = f"replace({c}, '{ent}', '{lit}')"
    c = _decode_numrefs_sql(c)
    for ent, ch in _HTML_AMP_LAST:
        c = f"replace({c}, '{ent}', '{ch}')"
    c = f"regexp_replace({c}, '{_HTML_AMP_NUMREF}', '&', 'g')"
    return f"trim(regexp_replace({c}, '\\s+', ' ', 'g'))"


def html_tag_count(html: Column | str) -> Column:
    """Number of tags in the fragment — the markup-density signal
    boilerplate classifiers use."""
    c = F.col(html) if isinstance(html, str) else html
    return F.size(F.regexp_extract_all(c, F.lit(_HTML_TAG), 0))


def html_tag_count_sql(html: str) -> str:
    return f"len(regexp_extract_all({html}, '{_HTML_TAG}'))"


# PII patterns restricted to syntax Java regex and RE2 read identically
# (no backrefs, no lookaround). Email before phone: once emails are
# replaced, their digit runs can no longer feed the phone pattern.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9() -]{6,}[0-9]"


def redact_pii(text: Column | str) -> Column:
    """Replace emails/phones with typed placeholders — the anonymization
    pass of a training-data pipeline. Two codegen'd regexp_replace
    calls, map-only."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, EMAIL_PATTERN, "[EMAIL]")
    return F.regexp_replace(out, PHONE_PATTERN, "[PHONE]")


def redact_pii_sql(text: str) -> str:
    return (
        f"regexp_replace(regexp_replace({text}, '{EMAIL_PATTERN}', '[EMAIL]', 'g'), "
        f"'{PHONE_PATTERN}', '[PHONE]', 'g')"
    )


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(email_count, phone_count) per document — audit metric for the
    redaction pass."""
    c = F.col(text) if isinstance(text, str) else text
    emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), 0))
    phones = F.size(
        F.regexp_extract_all(
            F.regexp_replace(c, EMAIL_PATTERN, "[EMAIL]"), F.lit(PHONE_PATTERN), 0
        )
    )
    return emails, phones


def pii_counts_sql(text: str) -> tuple[str, str]:
    emails = f"len(regexp_extract_all({text}, '{EMAIL_PATTERN}'))"
    phones = (
        f"len(regexp_extract_all(regexp_replace({text}, '{EMAIL_PATTERN}', '[EMAIL]', 'g'), "
        f"'{PHONE_PATTERN}'))"
    )
    return emails, phones
