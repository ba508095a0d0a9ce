"""Tier-equality tests for the r18 dictionary-encoded verify stage.

The prefix-filter self-joins (Jaccard and containment) dispatch their
exact-verify representation on the measured vocabulary size: bitset
(vocab <= _VERIFY_BITSET_MAX_TERMS), int dictionary arrays
(<= _VERIFY_DICT_MAX_TERMS), string arrays above. All three must
produce IDENTICAL rows — the dictionary is a bijection, so every count
(n_inter, sizes, union) is representation-independent. The bench/oracle
corpora only ever exercise one tier per query (their vocabularies are
fixed), so these tests force each tier explicitly via the thresholds.
"""

from __future__ import annotations

import pytest

from etl_tj_project_spark.operators import dedup as dd


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "alpha beta gamma delta epsilon zeta"),
        (4, "theta iota kappa"),
        (5, "alpha beta gamma delta epsilon zeta theta"),
        (6, "theta iota kappa lambda mu nu xi omicron"),
        (7, "alpha beta gamma delta"),
        (8, ""),
        (9, "omicron pi rho sigma tau upsilon phi chi psi omega"),
        (10, "pi rho sigma tau upsilon phi chi psi omega alpha"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "bitset_max,dict_max,tier",
    [
        (4096, 1 << 22, "bitset"),
        (0, 1 << 22, "int-array"),
        (0, 0, "string"),
    ],
)
def test_jaccard_tiers_identical(spark, docs, monkeypatch, bitset_max, dict_max, tier):
    monkeypatch.setattr(dd, "_VERIFY_BITSET_MAX_TERMS", bitset_max)
    monkeypatch.setattr(dd, "_VERIFY_DICT_MAX_TERMS", dict_max)
    got = _rows(dd.prefix_filter_jaccard_pairs(docs, "doc_id", "text", 4, 5))
    # Expected: brute-force over all pairs (exact sets, integer test).
    texts = {r["doc_id"]: set(r["text"].split()) for r in docs.collect()}
    want = []
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = texts[a], texts[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            union = len(sa | sb)
            if 5 * inter >= 4 * union:
                want.append(
                    (a, b, inter, len(sa), len(sb), round(inter / union, 6))
                )
    assert got == sorted(want), f"tier={tier}"


@pytest.mark.parametrize(
    "bitset_max,dict_max,tier",
    [
        (4096, 1 << 22, "bitset"),
        (0, 1 << 22, "int-array"),
        (0, 0, "string"),
    ],
)
def test_containment_tiers_identical(
    spark, docs, monkeypatch, bitset_max, dict_max, tier
):
    monkeypatch.setattr(dd, "_VERIFY_BITSET_MAX_TERMS", bitset_max)
    monkeypatch.setattr(dd, "_VERIFY_DICT_MAX_TERMS", dict_max)
    got = _rows(
        dd.prefix_filter_containment_pairs(docs, "doc_id", "text", 2, 4, 5)
    )

    def shingles(text):
        w = text.split()
        if not w:
            return set()
        if len(w) < 2:
            return {" ".join(w)}
        return {" ".join(w[i:i + 2]) for i in range(len(w) - 1)}

    texts = {r["doc_id"]: shingles(r["text"]) for r in docs.collect()}
    want = []
    for a in sorted(texts):
        for b in sorted(texts):
            if a == b or not texts[a]:
                continue
            inter = len(texts[a] & texts[b])
            if 5 * inter >= 4 * len(texts[a]):
                want.append(
                    (a, b, inter, len(texts[a]),
                     (inter * 1000) // len(texts[a]))
                )
    assert got == sorted(want), f"tier={tier}"


def test_bitset_multiword_boundary(spark, monkeypatch):
    """Vocab straddling a 64-bit word boundary: ids 1..70 need 2 words;
    the bitset intersection must count bits in BOTH words."""
    vocab = [f"w{i:03d}" for i in range(70)]
    rows = [
        (1, " ".join(vocab)),          # all 70 terms
        (2, " ".join(vocab[:63])),     # word-0 heavy
        (3, " ".join(vocab[60:70])),   # crosses the boundary
        (4, " ".join(vocab[64:70])),   # word-1 only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # Thresholds force the bitset tier (vocab 70 << 4096).
    got = _rows(dd.prefix_filter_jaccard_pairs(docs, "doc_id", "text", 1, 10))
    monkeypatch.setattr(dd, "_VERIFY_BITSET_MAX_TERMS", 0)
    want = _rows(dd.prefix_filter_jaccard_pairs(docs, "doc_id", "text", 1, 10))
    assert got == want
    # sanity: pairs spanning both words survive (J(1,2)=63/70,
    # J(1,3)=10/70, J(3,4)=6/10 — all >= 1/10; J(1,4)=6/70 is not).
    assert {(r[0], r[1]) for r in got} == {(1, 2), (1, 3), (3, 4)}


def test_overwritten_input_gets_a_fresh_vocabulary_count(spark, tmp_path):
    """The verify tier is sized from the vocabulary of the data as it is
    now. A parquet path overwritten through Spark with a larger
    vocabulary (term ids past the first 64-bit word) must give the same
    pairs as a fresh build over the same rows; a count remembered from
    the first 9-term run sized the bitset at one word and dropped them."""
    path = str(tmp_path / "docs.parquet")
    schema = "doc_id long, text string"
    small = [(1, "a b c d e f"), (2, "a b c d e g"), (3, "g h i")]
    spark.createDataFrame(small, schema).write.mode("overwrite").parquet(path)
    first = _rows(
        dd.prefix_filter_jaccard_pairs(
            spark.read.parquet(path), "doc_id", "text"
        )
    )
    assert [r[:2] for r in first] == [(1, 2)]

    # Two near-duplicates over df-2 terms (which sort after every df-1
    # filler term, so their ids exceed 300) plus 300 filler terms.
    shared = " ".join(f"s{i}" for i in range(7))
    big = [(1, shared + " u1"), (2, shared + " u2")] + [
        (10 + d, " ".join(f"f{d:02d}x{i:02d}" for i in range(10)))
        for d in range(30)
    ]
    spark.createDataFrame(big, schema).write.mode("overwrite").parquet(path)
    again = _rows(
        dd.prefix_filter_jaccard_pairs(
            spark.read.parquet(path), "doc_id", "text"
        )
    )
    fresh = _rows(
        dd.prefix_filter_jaccard_pairs(
            spark.createDataFrame(big, schema), "doc_id", "text"
        )
    )
    assert fresh == [(1, 2, 7, 8, 8, 0.777778)]
    assert again == fresh
