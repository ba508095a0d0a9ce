"""End-to-end training-corpus preparation: the composition a pretraining
data pipeline runs over raw documents before tokenization.

Stages (each individually oracle-checked via the harness; this module is
the composition):

1. quality filter   — expression-only thresholds on length / token count
                      / punctuation / alpha / stopword ratios
2. language filter  — marker-token language ID against an allowlist
3. exact dedup      — normalized-text fingerprint, keep lowest id
4. near dedup       — MinHash-LSH candidates → Jaccard verify → greedy
                      drop (operators/dedup.drop_near_duplicates)

Scale shape: stages 1-2 are pure projections/filters (no shuffle, fully
pushed into the scan pass); stage 3 is one fingerprint shuffle; stage 4
is the LSH pipeline (signature projection + band self-join bounded by
candidate count). The stage order is deliberate — cheap row-local filters
shrink the corpus before any shuffle happens.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_tj_project_spark.functions import text as tx
from etl_tj_project_spark.operators.dedup import (
    drop_exact_duplicates,
    drop_near_duplicates,
)


@dataclass(frozen=True)
class QualityThresholds:
    """Filter bounds; defaults tuned for short synthetic docs — real
    corpora raise min_tokens substantially."""

    min_chars: int = 20
    min_tokens: int = 5
    max_punct_ratio: float = 0.2
    min_alpha_ratio: float = 0.6
    max_stopword_ratio: float = 0.7


def quality_filter(
    df: DataFrame, text_col: str = "text", th: QualityThresholds | None = None
) -> DataFrame:
    """Keep documents passing every quality bound (expression-only)."""
    th = th or QualityThresholds()
    m = tx.quality_metrics(text_col)
    return df.filter(
        (m["n_chars"] >= th.min_chars)
        & (m["n_tokens"] >= th.min_tokens)
        & (m["punct_ratio"] <= th.max_punct_ratio)
        & (m["alpha_ratio"] >= th.min_alpha_ratio)
        & (m["stopword_ratio"] <= th.max_stopword_ratio)
    )


def language_filter(
    df: DataFrame, text_col: str = "text", allow: tuple[str, ...] = ("en",)
) -> DataFrame:
    """Keep documents whose predicted language is in the allowlist."""
    return df.filter(tx.lang_id(text_col).isin(*allow))


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    th: QualityThresholds | None = None,
    languages: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.8,
) -> DataFrame:
    """quality → language → exact dedup → near dedup, in that order."""
    out = quality_filter(df, text_col, th)
    out = language_filter(out, text_col, languages)
    out = drop_exact_duplicates(out, text_col, id_col)
    return drop_near_duplicates(
        out, id_col, text_col, threshold=near_dup_threshold
    )


def prepare_corpus_canonical(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    th: QualityThresholds | None = None,
    languages: tuple[str, ...] = ("en",),
    lcc_merge_threshold_milli: int | None = None,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """quality → language → exact dedup → CANONICAL near dedup: the
    family-manifest variant of :func:`prepare_corpus`, per COVERAGE.md's
    decision rule ("default for a training-data pipeline: canonical" —
    family output is survivor-sized and cannot inflate with duplicate
    density, and the pipeline needs the manifest anyway: it IS the
    dedup decision).

    Near-dup families come from
    ``dedup.canonicalize_near_dup_clusters`` (LSH star edges → CC →
    longest-doc/lowest-id keep rule). With ``lcc_merge_threshold_milli``
    set, the LCC-driven SECOND pass (``graph.lcc_second_pass_delta`` →
    ``graph.apply_lcc_second_pass``) then merges near-miss template
    super-families the first-pass band threshold missed — the
    diagnostic-to-action path VERDICT r15 item 5 shipped, now reachable
    from the production pipeline surface.

    Returns ``(survivors, manifest)``: the surviving documents (one
    canonical per family) and the published-shape family manifest
    ``(component_id, canonical_doc_id, canonical_n_chars, n_members)``
    AFTER any second pass. ``n_chars`` is recomputed from the CURRENT
    text (upstream stages — boilerplate removal — may have rewritten
    it), so the keep rule ranks what will actually be published.

    At 100 TB: stages 1-2 are scan-local; exact dedup is one
    fingerprint shuffle; the family stage is one banded group+join
    (star edges, O(docs x bands)) + size-dispatched CC (labels
    parquet-materialized inside, so re-executing the lineage per
    published table re-reads a FileScan, never re-runs CC); the second
    pass runs on the survivor residual slice (hundreds of edges per
    million survivors).
    """
    from etl_tj_project_spark.operators.dedup import (
        canonicalize_near_dup_clusters,
    )
    from etl_tj_project_spark.operators.graph import (
        apply_lcc_second_pass,
        lcc_second_pass_delta,
    )

    base = quality_filter(df, text_col, th)
    base = language_filter(base, text_col, languages)
    base = drop_exact_duplicates(base, text_col, id_col)
    base = base.withColumn("n_chars", F.length(text_col).cast("long"))
    manifest = canonicalize_near_dup_clusters(
        base, id_col, text_col, "n_chars", num_hashes, bands
    )
    if lcc_merge_threshold_milli is not None:
        # lcc_second_pass_delta speaks the standard (doc_id, text)
        # column names; present the corpus in that shape.
        docs_std = base.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        delta = lcc_second_pass_delta(
            docs_std, manifest, threshold_milli=lcc_merge_threshold_milli
        )
        manifest = apply_lcc_second_pass(manifest, delta)
    survivors = base.join(
        manifest.select(F.col("canonical_doc_id").alias(id_col)),
        id_col,
        "left_semi",
    )
    return survivors, manifest


def boilerplate_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 12,
    min_docs: int = 3,
) -> DataFrame:
    """C4-style cross-document frequency boilerplate removal, as stats:
    per document, (n_chunks, n_kept, kept_text) where any
    ``chunk_words``-word chunk appearing in >= ``min_docs`` DISTINCT
    documents is dropped from every document and the survivors are
    re-joined in order. Shuffles carry md5 hashes + ids; text rides
    only as the kept-chunk payload (single source of truth for the
    ``boilerplate_chunk_removal`` registry entry and the corpus
    pipeline's optional boilerplate stage)."""
    # (r17 A/B: spread/persist variants of this chunk explode LOST at
    # sf0.1 — plain 1.08 s vs spread 1.79 s vs spread+persist 1.86 s on
    # the paragraph twin: 12-word slicing is cheap relative to the
    # keyless repartition's text shipping + sort-before-repartition,
    # and re-running the explode per consumer beats materializing the
    # chunk payload. Left as-is deliberately.)
    chunks = df.select(
        id_col,
        F.posexplode(tx.word_chunks(text_col, chunk_words)).alias(
            "chunk_idx", "chunk_text"
        ),
    ).select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.md5(F.col("chunk_text").cast("binary")).alias("k"),
    )
    freq = (
        chunks.groupBy("k")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") < min_docs)
        .select(F.col("k").alias("fk"))
    )
    kept = chunks.join(freq, chunks["k"] == freq["fk"]).select(
        id_col, "chunk_idx", "chunk_text"
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept_"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("kept_text"),
    )
    counts = chunks.groupBy(id_col).agg(F.count("*").alias("n_chunks"))
    return counts.join(kept_agg, id_col, "left").select(
        id_col,
        "n_chunks",
        F.coalesce(F.col("n_kept_"), F.lit(0)).cast("long").alias("n_kept"),
        "kept_text",
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 12,
    min_docs: int = 3,
) -> DataFrame:
    """Rewrite ``text_col`` with boilerplate chunks removed; documents
    whose every chunk was boilerplate are DROPPED (nothing left to
    train on)."""
    stats = boilerplate_chunk_stats(
        df, id_col, text_col, chunk_words, min_docs
    ).filter(F.col("n_kept") > 0)
    return (
        df.drop(text_col)
        .join(stats.select(id_col, "kept_text"), id_col)
        .withColumnRenamed("kept_text", text_col)
    )


def classifier_quality_filter(
    df: DataFrame,
    word_weights: list[tuple[str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based document filter: keep documents the fastText-style
    linear scorer (operators/classifier.py) labels quality=true. Runs
    AFTER the rule-based quality_filter in the pipeline — the standard
    two-stage curation (cheap rules first, model second)."""
    from etl_tj_project_spark.operators import classifier as clf

    w = clf.weight_table(df.sparkSession, word_weights)
    scored = clf.score_documents(df, w, id_col=id_col, text_col=text_col)
    keep = scored.filter(F.col("quality")).select(id_col)
    return df.join(keep, id_col, "left_semi")
