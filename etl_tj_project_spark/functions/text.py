"""Text-analysis expression builders for large-scale corpus pipelines.

All pure Column expressions (JVM-side, codegen'd) — token counting,
quality scoring, language-ID heuristics, fingerprinting, shingling — so a
100 TB `documents` scan never leaves whole-stage codegen. Where a matching
ANSI-SQL rendering is needed for the DuckDB oracle, a ``*_sql`` twin
builds the same expression as a SQL string.

These go beyond the reference's surface (it has no text analytics); they
are the training-data-pipeline operators the engine is expected to add.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Spark re-evaluates an outer-column expression referenced inside a
    higher-order-function lambda once per array ELEMENT, so a lambda
    that reads ``regexp_replace(lower(text))`` or ``split(text)``
    directly costs O(elements x text length) per row. Routing the value
    through a one-element ``transform`` binds it to a lambda variable:
    the body reads the variable, and the value is computed once.
    (``tests/test_plan_lint.py`` rejects any lambda body that still
    captures an outer-column subtree.)
    """
    return F.transform(F.array(value), body)[0]


# --------------------------------------------------------------------------
# Tokenization / counting
# --------------------------------------------------------------------------

def tokens(c: Column | str) -> Column:
    """Whitespace tokenization to ``array<string>`` (empty text → [])."""
    s = F.trim(_col(c))
    return F.when(s == "", F.array().cast("array<string>")).otherwise(
        F.split(s, r"\s+")
    )


def token_count(c: Column | str) -> Column:
    """Whitespace token count as bigint."""
    return F.size(tokens(c)).cast("long")


def token_count_sql(expr: str) -> str:
    t = f"trim({expr})"
    return (
        f"CASE WHEN {t} = '' THEN 0 "
        f"ELSE CAST(len(regexp_split_to_array({t}, '\\s+')) AS BIGINT) END"
    )


# A BPE-ish proxy: split into word pieces + standalone punctuation, the way
# byte-pair tokenizers fragment text. Counts sub-word-ish units.
_BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(c: Column | str) -> Column:
    return F.size(F.regexp_extract_all(_col(c), F.lit(_BPE_REGEX), 0)).cast("long")


def bpe_ish_token_count_sql(expr: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({expr}, '{_BPE_REGEX}')) AS BIGINT)"
    )


# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------

_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
)


def quality_metrics(c: Column | str) -> dict[str, Column]:
    """Per-document quality signals as named Column expressions.

    Counting is done with integer-exact primitives (lengths of stripped
    strings) and ratios with one final division, so a SQL oracle can
    reproduce values bit-for-bit.
    """
    s = _col(c)
    n_chars = F.length(s).cast("long")
    n_alpha = F.length(F.regexp_replace(s, r"[^A-Za-z]", "")).cast("long")
    n_punct = F.length(
        F.regexp_replace(s, r"[A-Za-z0-9\s]", "")
    ).cast("long")
    n_tokens = token_count(s)
    stop_re = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    n_stop = F.size(F.regexp_extract_all(F.lower(s), F.lit(stop_re), 0)).cast("long")
    denom = F.greatest(n_chars, F.lit(1)).cast("double")
    tok_denom = F.greatest(n_tokens, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_alpha": n_alpha,
        "n_punct": n_punct,
        "n_stopwords": n_stop,
        "alpha_ratio": n_alpha.cast("double") / denom,
        "punct_ratio": n_punct.cast("double") / denom,
        "stopword_ratio": n_stop.cast("double") / tok_denom,
    }


def quality_metrics_sql(expr: str) -> dict[str, str]:
    n_chars = f"CAST(length({expr}) AS BIGINT)"
    n_alpha = f"CAST(length(regexp_replace({expr}, '[^A-Za-z]', '', 'g')) AS BIGINT)"
    n_punct = (
        f"CAST(length(regexp_replace({expr}, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT)"
    )
    n_tokens = token_count_sql(expr)
    stop_re = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    n_stop = f"CAST(len(regexp_extract_all(lower({expr}), '{stop_re}')) AS BIGINT)"
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_alpha": n_alpha,
        "n_punct": n_punct,
        "n_stopwords": n_stop,
        "alpha_ratio": f"CAST({n_alpha} AS DOUBLE) / greatest({n_chars}, 1)",
        "punct_ratio": f"CAST({n_punct} AS DOUBLE) / greatest({n_chars}, 1)",
        "stopword_ratio": f"CAST({n_stop} AS DOUBLE) / greatest({n_tokens}, 1)",
    }


# --------------------------------------------------------------------------
# Language identification (marker-token heuristic)
# --------------------------------------------------------------------------

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "das", "und", "ist"),
}
# Deterministic tie-break: fixed language order, first max wins.
_LANG_ORDER = ("en", "es", "fr", "de")


def _marker_count(s: Column, lang: str) -> Column:
    pat = r"\b(" + "|".join(_LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(s), F.lit(pat), 0)).cast("long")


def lang_id(c: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-token counts.

    Returns 'und' when no marker matches. Ties break by the fixed order in
    ``_LANG_ORDER`` so the result is deterministic and oracle-checkable.

    The four counts are computed once as an array and let-bound: inlined
    into each ``when`` arm and the max, every document paid ~24 regex
    scans instead of 4.
    """
    s = _col(c)
    counts = F.array(*[_marker_count(s, lang) for lang in _LANG_ORDER])

    def pick(cs: Column) -> Column:
        best = F.array_max(cs)
        expr = F.lit("und")
        # Build backwards so earlier languages win ties.
        for i in reversed(range(len(_LANG_ORDER))):
            expr = F.when(cs[i] == best, F.lit(_LANG_ORDER[i])).otherwise(expr)
        return F.when(best == 0, F.lit("und")).otherwise(expr)

    return let(counts, pick)


def lang_id_sql(expr: str) -> str:
    counts = {}
    for lang in _LANG_ORDER:
        pat = r"\b(" + "|".join(_LANG_MARKERS[lang]) + r")\b"
        counts[lang] = f"CAST(len(regexp_extract_all(lower({expr}), '{pat}')) AS BIGINT)"
    best = "greatest(" + ", ".join(counts.values()) + ")"
    inner = "'und'"
    for lang in reversed(_LANG_ORDER):
        inner = f"CASE WHEN {counts[lang]} = {best} THEN '{lang}' ELSE {inner} END"
    return f"CASE WHEN {best} = 0 THEN 'und' ELSE {inner} END"


# --------------------------------------------------------------------------
# Fingerprinting / shingling
# --------------------------------------------------------------------------

def normalized_text(c: Column | str) -> Column:
    """Casefold + strip non-alphanumerics — canonical form for dedup."""
    return F.regexp_replace(F.lower(_col(c)), r"[^a-z0-9]", "")


def doc_fingerprint(c: Column | str) -> Column:
    """MD5 fingerprint of the normalized text (exact-dup key)."""
    return F.md5(normalized_text(c))


def doc_fingerprint_sql(expr: str) -> str:
    return f"md5(regexp_replace(lower({expr}), '[^a-z0-9]', '', 'g'))"


def word_chunks(c: Column | str, chunk_words: int) -> Column:
    """Consecutive non-overlapping ``chunk_words``-word chunks of the
    single-space split of the text, space-joined (the paragraph proxy of
    the chunk-level dedup and boilerplate passes).

    The word array is let-bound (:func:`let`) so the split runs once per
    document, not once per chunk (quadratic in document length
    otherwise).
    """

    def chunks(ws: Column) -> Column:
        n_chunks = F.ceil(F.size(ws) / F.lit(float(chunk_words))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(ws, i * chunk_words + 1, chunk_words), " "
            ),
        )

    return let(F.split(_col(c), " "), chunks)


def char_shingles(c: Column | str, k: int = 8) -> Column:
    """All overlapping character k-grams of the normalized text.

    Built with ``sequence``+``transform`` (no explode needed at the
    expression level); a doc shorter than k yields a single shingle of the
    whole remainder, and empty text yields [].

    The normalized text is let-bound (:func:`let`): read inside the
    shingle lambda as an expression it re-ran per shingle, quadratic in
    document length (sf0.1 MinHash signature on a 4-vCPU host: 11.7 s
    re-evaluated, 2.7 s let-bound).
    """

    def shingles(s: Column) -> Column:
        n = F.length(s)
        return F.when(n == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
                lambda i: s.substr(i, F.lit(k)),
            )
        )

    return let(normalized_text(c), shingles)


def word_shingles(c: Column | str, k: int = 3) -> Column:
    """Overlapping word k-grams (space-joined); short docs → one shingle.

    The token array is let-bound (:func:`let`) so the ``split(trim())``
    runs once per document, not once per shingle (quadratic in document
    length otherwise).
    """

    def shingles(t: Column) -> Column:
        n = F.size(t)
        return F.when(n == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(t, i, k), " "),
            )
        )

    return let(tokens(_col(c)), shingles)
