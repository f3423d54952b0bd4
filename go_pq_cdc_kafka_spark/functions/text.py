"""Text-analysis functions for training-data pipelines (engine extension
tier, BASELINE.json north star): tokenization, token counting, quality
scoring, language ID, document fingerprinting.

Every function here is a JVM-side Column expression (no Python in the hot
path) and has a DuckDB-SQL twin defined alongside so the correctness oracle
evaluates the *same* formula. Cross-engine invariants used:

- ``md5`` hashes UTF-8 bytes identically in Spark and DuckDB;
- 15 hex chars = 60 bits fits a signed BIGINT in both engines;
- RE2 (DuckDB) and java.util.regex diverge on ``\\s`` (Java includes \\x0B,
  RE2 does not) — whitespace is therefore always the explicit ``WS_CLASS``
  character class, which parses identically in both engines;
- ``\\b`` word boundaries and ASCII character classes agree.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Explicit whitespace class instead of \s: Java's \s includes \x0B (vertical
# tab), RE2's does not — the literal class below parses identically in both
# engines (property-tested on random unicode in tests/test_properties.py).
WS_CLASS = r" \t\n\r\f\x0B"
TOKEN_RE = rf"[{WS_CLASS}]+"
PUNCT_RE = "[.,;:!?]"
STOPWORD_RE = r"\b(the|a|an|and|or|of|to|in|is|it)\b"

# language-ID marker regexes: tiny per-language common-word sets; the score
# is the marker hit count, argmax wins, ties break alphabetically.
LANG_MARKERS: dict[str, str] = {
    "de": r"\b(der|die|und|das|ist|nicht|ein|zu)\b",
    "en": r"\b(the|and|of|to|is|that|for|with)\b",
    "es": r"\b(el|la|de|que|y|los|del|se)\b",
    "fr": r"\b(le|la|de|et|est|les|des|une)\b",
}


# ASCII-only case folding: full Unicode lower() is engine-divergent (Java
# maps U+0130 'İ' to "i"+combining-dot, DuckDB differs) and locale-dependent
# by nature. translate() over the explicit A-Z alphabet is deterministic and
# identical everywhere; plug ICU on both sides if full casefold is needed.
_AZ_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_AZ_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col: Column) -> Column:
    return F.translate(col, _AZ_UPPER, _AZ_LOWER)


def ascii_lower_sql(c: str) -> str:
    return f"translate({c}, '{_AZ_UPPER}', '{_AZ_LOWER}')"


# DuckDB twin of tokens(); keep the two in lockstep (property-tested in
# tests/test_properties.py on random unicode).
TOKENS_SQL = (
    "list_filter(regexp_split_to_array(" + ascii_lower_sql("{c}") + ", "
    "'[ \t\n\r\f\x0B]+'), t -> t != '')"
)


def tokens(col: Column) -> Column:
    """Whitespace tokenization of ASCII-lowercased text. No trim(): Spark
    trims ASCII space only while DuckDB trims unicode whitespace (U+00A0),
    so trimming is engine-divergent — boundary whitespace instead yields ''
    tokens, which the filter drops in both engines identically."""
    return F.filter(
        F.split(ascii_lower(col), TOKEN_RE), lambda t: t != F.lit("")
    )


def token_count(col: Column) -> Column:
    """Whitespace token count (the cheap length baseline every corpus
    pipeline starts from)."""
    return F.size(tokens(col)).cast("long")


# BPE-ish subword proxy: words + digits runs + single non-space symbols —
# the common pre-tokenizer regex shape (letters run | digit run | symbol).
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]"


def bpe_token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_RE)).cast("long")


def punct_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(PUNCT_RE)).cast("long")


def stopword_count(col: Column) -> Column:
    return F.regexp_count(ascii_lower(col), F.lit(STOPWORD_RE)).cast("long")


def quality_features(col: Column) -> dict[str, Column]:
    """Length/punct/stopword-ratio quality signals. The composite score is
    pure double arithmetic over exact integer counts (deterministic)."""
    n_chars = F.length(col).cast("long")
    n_words = token_count(col)
    n_punct = punct_count(col)
    n_stop = stopword_count(col)
    nw = n_words.cast("double")
    score = (
        F.least(nw / F.lit(100.0), F.lit(1.0)) * 0.4
        + (n_stop.cast("double") / F.greatest(nw, F.lit(1).cast("double"))) * 0.4
        + F.least(n_punct.cast("double") / F.greatest(nw, F.lit(1).cast("double")), F.lit(1.0)) * 0.2
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_punct": n_punct,
        "n_stop": n_stop,
        "quality_score": score,
    }


QUALITY_SQL = """
  CAST(LENGTH({c}) AS BIGINT) AS n_chars,
  CAST(length(list_filter(regexp_split_to_array(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+'), t -> t != '')) AS BIGINT) AS n_words,
  CAST(length(regexp_extract_all({c}, '[.,;:!?]')) AS BIGINT) AS n_punct,
  CAST(length(regexp_extract_all(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS BIGINT) AS n_stop,
  LEAST(CAST(length(list_filter(regexp_split_to_array(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+'), t -> t != '')) AS DOUBLE) / 100.0, 1.0) * 0.4
    + (CAST(length(regexp_extract_all(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS DOUBLE)
       / GREATEST(CAST(length(list_filter(regexp_split_to_array(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+'), t -> t != '')) AS DOUBLE), 1.0)) * 0.4
    + LEAST(CAST(length(regexp_extract_all({c}, '[.,;:!?]')) AS DOUBLE)
       / GREATEST(CAST(length(list_filter(regexp_split_to_array(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+'), t -> t != '')) AS DOUBLE), 1.0), 1.0) * 0.2
    AS quality_score
"""


def lang_scores(col: Column) -> dict[str, Column]:
    low = ascii_lower(col)
    return {
        lang: F.regexp_count(low, F.lit(pat)).cast("long")
        for lang, pat in sorted(LANG_MARKERS.items())
    }


def lang_id(col: Column) -> Column:
    """n-gram-heuristic language ID: argmax of marker-hit counts, 'und'
    (undetermined) when every score is 0; alphabetical tie-break."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # iterate reversed-alphabetically so the earliest language wins ties
    for lang in sorted(scores, reverse=True):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def _lang_score_sql(c: str, pat: str) -> str:
    return f"length(regexp_extract_all(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{pat}'))"


def lang_id_sql(c: str) -> str:
    scores = {la: _lang_score_sql(c, pat) for la, pat in sorted(LANG_MARKERS.items())}
    best = "GREATEST(" + ", ".join(scores.values()) + ")"
    expr = "'und'"
    for lang in sorted(scores, reverse=True):
        expr = (
            f"CASE WHEN {scores[lang]} = {best} AND {best} > 0 "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


def bag_fingerprint(col: Column) -> Column:
    """OpenRefine-style bag fingerprint: md5 of the sorted distinct token
    bag — catches re-ordered / re-whitespaced duplicates that byte-hashing
    misses."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(col))), " "))


# COALESCE matters: DuckDB's array_to_string([]) is NULL where Spark's
# array_join([]) is '' — empty docs must fingerprint identically.
BAG_FINGERPRINT_SQL = (
    "md5(COALESCE(array_to_string(list_sort(list_distinct("
    "list_filter(regexp_split_to_array(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+'), t -> t != ''))), ' '), ''))"
)


def hash64(col: Column) -> Column:
    """Deterministic 60-bit hash shared with DuckDB:
    ``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash64_sql(c: str) -> str:
    return f"CAST(concat('0x', substr(md5({c}), 1, 15)) AS BIGINT)"


# Rabin-Karp-style rolling polynomial hash over the token sequence.
# Order-SENSITIVE (unlike the bag fingerprint): reordered tokens change the
# hash. Modulus 2^31-1 keeps acc*B + h < 2^36 — no BIGINT overflow in either
# engine, so Spark and DuckDB fold to identical values.
ROLL_B = 31
ROLL_M = 2147483647


def rolling_fingerprint(col: Column) -> Column:
    hashes = F.transform(tokens(col), lambda t: hash64(t) % ROLL_M)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * ROLL_B + h) % ROLL_M,
    )


def rolling_fingerprint_sql(c: str) -> str:
    toks = f"list_filter(regexp_split_to_array(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+'), t -> t != '')"
    hashes = f"list_transform({toks}, t -> {hash64_sql('t')} % {ROLL_M})"
    # DuckDB's list_reduce has no init accumulator; prepend the zero seed.
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {hashes}), "
        f"(acc, h) -> (acc * {ROLL_B} + h) % {ROLL_M})"
    )


# ---------------------------------------------------------------------------
# PII redaction — scrubbing emails / phone numbers is table stakes for a
# training-data pipeline. Patterns live in the RE2 ∩ java.util.regex common
# dialect (no lookaround, no backrefs, explicit classes) so the Spark
# expression and the DuckDB oracle transform text identically.
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def email_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(EMAIL_RE)).cast("long")


def phone_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(PHONE_RE)).cast("long")


def redact_pii(col: Column) -> Column:
    """Replace every email / international-phone match with a typed tag.
    Emails first: a phone match can never overlap an email match (disjoint
    leading characters), so the two passes commute — but fixing the order
    keeps the composition well-defined if patterns are later widened."""
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def redact_pii_sql(c: str) -> str:
    # 'g' flag: DuckDB's regexp_replace is first-match-only by default,
    # Spark's replaces all — 'g' aligns them.
    return (
        f"regexp_replace(regexp_replace({c}, '{EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PHONE_RE}', '<PHONE>', 'g')"
    )


def pii_count_sql(c: str, pattern: str) -> str:
    return f"CAST(length(regexp_extract_all({c}, '{pattern}')) AS BIGINT)"


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over an ALREADY-BOUND token-array
    column. ``t`` must be a plain column reference (projected beforehand),
    NOT an expression like ``tokens(col)``: inside the ``transform`` lambda
    Catalyst does not common-subexpression-eliminate the argument, so an
    expression there re-tokenizes the document once PER ARRAY ELEMENT —
    O(tokens²) per row, measured 9× slower on the sf0.1 corpus."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; shorter docs yield their full token
    join as a single shingle.

    PERF: fine for one-off expressions, but on hot paths project
    ``tokens(col)`` into a column first and call
    :func:`shingles_from_tokens` — see its docstring for why."""
    return shingles_from_tokens(tokens(col), n)


def shingles_sql(c: str, n: int = 3) -> str:
    # COALESCE for the same empty-array NULL quirk as BAG_FINGERPRINT_SQL
    return (
        f"list_distinct([COALESCE(array_to_string(toks[i:i+{n - 1}], ' '), '') "
        f"for i in generate_series(1, greatest(len(toks) - {n - 1}, 1))])"
        .replace("toks", f"list_filter(regexp_split_to_array(translate({c}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \t\n\r\f\x0B]+'), t -> t != '')")
    )


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality rules): non-distinct n-grams
# ---------------------------------------------------------------------------

def ngrams_all_from_tokens(t: Column, n: int = 2) -> Column:
    """ALL word n-grams over an already-bound token-array column (same
    CSE rationale as :func:`shingles_from_tokens`)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))


def ngrams_all(col: Column, n: int = 2) -> Column:
    """ALL word n-grams in order (duplicates kept — unlike ``shingles``,
    which is distinct). Repetition scoring needs the multiset: a doc that
    repeats one phrase 50x has 50 identical n-grams and exactly that is
    the signal (Gopher repetition rules / RefinedWeb §3).

    PERF: on hot paths project ``tokens(col)`` first and call
    :func:`ngrams_all_from_tokens`."""
    return ngrams_all_from_tokens(tokens(col), n)


def ngrams_all_sql(c: str, n: int = 2) -> str:
    """DuckDB twin of ``ngrams_all`` (same COALESCE quirk as shingles_sql:
    slicing an empty list yields NULL which concat must fold to '')."""
    toks = (
        "list_filter(regexp_split_to_array(translate("
        + c
        + ", 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), "
        "'[ \t\n\r\f\x0B]+'), t -> t != '')"
    )
    return (
        f"[COALESCE(array_to_string(toks[i:i+{n - 1}], ' '), '') "
        f"for i in generate_series(1, greatest(len(toks) - {n - 1}, 1))]"
    ).replace("toks", toks)


def gopher_rules(col: Column) -> dict[str, Column]:
    """Gopher-style document quality gates (Rae et al. 2021, the rule set
    most pretraining pipelines start from), restricted to the rules that
    are well-defined on whitespace text and exactly computable in both
    engines:

    - ``word_count``         in [50, 100_000]
    - ``mean_word_len_x100`` in [300, 1000]  (3–10 chars, integer cents:
      ``(letters_total * 100) div word_count`` — no float division)
    - ``stop_hits``          ≥ 2 distinct stopword hits (Gopher's
      "contains ≥ 2 of a small stop set" rule)

    ``passes_gopher`` is the conjunction. Each signal is also returned so
    downstream curation can re-threshold without recomputation."""
    toks = tokens(col)
    word_count = F.size(toks).cast("long")
    letters_total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    # True integer division (Spark's `div`) — NOT trunc-of-double, which
    # can diverge from the DuckDB oracle's `//` for large totals and
    # silently flip passes_gopher at the 300/1000 boundaries.
    mean_x100 = F.when(
        word_count > 0, F.call_function("div", letters_total * 100, word_count)
    ).otherwise(F.lit(None)).cast("long")
    stop_hits = stopword_count(col)
    passes = (
        (word_count >= 50)
        & (word_count <= 100_000)
        & (mean_x100 >= 300)
        & (mean_x100 <= 1000)
        & (stop_hits >= 2)
    )
    return {
        "word_count": word_count,
        "mean_word_len_x100": mean_x100,
        "stop_hits": stop_hits,
        "passes_gopher": passes,
    }


#: DuckDB twin of :func:`gopher_rules` (``{c}`` = text column). The
#: mean-word-length cents use integer ``//`` exactly like Spark's
#: ``div``-through-cast; aggregate over token lengths mirrors F.aggregate.
GOPHER_SQL = (
    "CAST(length({toks}) AS BIGINT) AS word_count,\n"
    "  CAST(list_sum(list_transform({toks}, t -> length(t))) * 100 AS BIGINT)"
    " // NULLIF(CAST(length({toks}) AS BIGINT), 0) AS mean_word_len_x100,\n"
    "  CAST(length(regexp_extract_all(" + ascii_lower_sql("{c}") + ", "
    r"'\b(the|a|an|and|or|of|to|in|is|it)\b')) AS BIGINT) AS stop_hits"
)
