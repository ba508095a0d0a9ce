"""functions/text.py shingle and language-ID builders against pure-Python
references. The builders let-bind their captured value (the normalized
text, the token array, the four marker counts); these pin that the
rewrite keeps the output exactly, edge cases included."""

from __future__ import annotations

import re

import pytest

from etl_tj_project_spark.functions.text import (
    _LANG_MARKERS,
    _LANG_ORDER,
    char_shingles,
    lang_id,
    word_chunks,
    word_shingles,
)

# NULL, empty, whitespace only (spaces; spaces and a tab, which trim()
# keeps), shorter than k, exactly k (8 chars / 3 words), punctuation
# only, runs of multiple spaces, and ordinary mixed text.
TEXTS = [
    None,
    "",
    "    ",
    " \t ",
    "Ab1",
    "one two",
    "abcdefgh",
    "one two three",
    "!!! ?? ...",
    "the  cat   sat on  the mat  ",
    "  El gato, de la casa: que los 42 perros!",
    "Der Hund und die Katze ist das Tier the end",
    "le chat est la les des",
    "La",  # es/fr tie: the earlier language in _LANG_ORDER wins
]


def ref_char_shingles(text: str | None, k: int) -> list:
    if text is None:
        return [None]
    s = re.sub(r"[^a-z0-9]", "", text.lower())
    if not s:
        return []
    return [s[i:i + k] for i in range(max(len(s) - k + 1, 1))]


def ref_tokens(text: str) -> list[str]:
    s = text.strip(" ")  # Spark's trim() strips spaces only
    return [] if s == "" else re.split(r"\s+", s)


def ref_word_shingles(text: str | None, k: int) -> list:
    if text is None:
        return [None]
    t = ref_tokens(text)
    if not t:
        return []
    return [" ".join(t[i:i + k]) for i in range(max(len(t) - k + 1, 1))]


def ref_word_chunks(text: str | None, n: int) -> list | None:
    if text is None:
        return None
    ws = text.split(" ")
    return [" ".join(ws[i:i + n]) for i in range(0, len(ws), n)]


def ref_lang_id(text: str | None) -> str:
    if text is None:
        return "und"
    counts = [
        len(re.findall(r"\b(" + "|".join(_LANG_MARKERS[lang]) + r")\b",
                       text.lower()))
        for lang in _LANG_ORDER
    ]
    best = max(counts)
    return "und" if best == 0 else _LANG_ORDER[counts.index(best)]


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "i int, text string"
    )


def _column(df, expr) -> list:
    return [r[0] for r in df.orderBy("i").select(expr).collect()]


@pytest.mark.parametrize("k", [3, 8])
def test_char_shingles_equal_reference(texts, k):
    assert _column(texts, char_shingles("text", k=k)) == [
        ref_char_shingles(t, k) for t in TEXTS
    ]


@pytest.mark.parametrize("k", [2, 3])
def test_word_shingles_equal_reference(texts, k):
    assert _column(texts, word_shingles("text", k=k)) == [
        ref_word_shingles(t, k) for t in TEXTS
    ]


def test_word_chunks_equal_reference(texts):
    assert _column(texts, word_chunks("text", 2)) == [
        ref_word_chunks(t, 2) for t in TEXTS
    ]


def test_lang_id_equals_reference(texts):
    got = _column(texts, lang_id("text"))
    assert got == [ref_lang_id(t) for t in TEXTS]
    # The inputs reach every language, the tie-break and 'und'.
    assert set(got) == {"und", "en", "es", "fr", "de"}
