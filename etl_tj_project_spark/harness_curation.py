"""Training-corpus curation pack: the dataset-engineering operators a
100 TB pretraining pipeline runs between "raw documents" and "training
shards" — deterministic splits, sequence packing, PII redaction, corpus
vocabulary stats, stratified sampling, and train/eval contamination
checks.

All of these are pure Column expressions (no Python UDFs) so they stay in
whole-stage codegen over a full-corpus scan, and all are deterministic —
splitting and sampling hash a salted document key with MD5 (identical hex
output on any engine) instead of using RNG, so re-runs and the DuckDB
oracle produce bit-identical assignments. That determinism is not a test
convenience: at 100 TB it is what makes a re-run of one failed shard
reproduce the same split membership without coordinating state.

Scale notes: every query is a single corpus scan (plus one tiny broadcast
where noted); packing uses one window shuffle on (source) and nothing
else; the contamination check shuffles on the 32-char fingerprint only
after projecting away the text payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_tj_project_spark.functions import text as tx
from etl_tj_project_spark.harness import register
from etl_tj_project_spark.sources.testdata import load_table

# 256-bucket split on the first two hex chars of a salted doc-key MD5:
# [00,cd) train ≈ 80.1%, [cd,e6) val ≈ 9.8%, [e6,ff] test ≈ 10.1%.
_TRAIN_HI = "cd"
_VAL_HI = "e6"


def _doc_key_md5(salt: str) -> F.Column:
    return F.md5(
        F.concat(F.lit(salt), F.col("doc_id").cast("string")).cast("binary")
    )


def _doc_key_md5_sql(salt: str) -> str:
    return f"md5(concat('{salt}', CAST(doc_id AS VARCHAR)))"


@register(
    "corpus_split_assign",
    f"""
    SELECT doc_id,
           CASE WHEN substring({_doc_key_md5_sql('split:')}, 1, 2)
                     < '{_TRAIN_HI}' THEN 'train'
                WHEN substring({_doc_key_md5_sql('split:')}, 1, 2)
                     < '{_VAL_HI}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic train/val/test assignment: salted MD5 of the doc "
        "key, bucketed on the hex prefix (string compare — no hex→int "
        "parse, so any engine agrees). Keyed on doc_id, not text, so an "
        "edited document keeps its split (no eval contamination drift)",
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    h2 = F.substring(_doc_key_md5("split:"), 1, 2)
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(h2 < _TRAIN_HI, "train")
        .when(h2 < _VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "corpus_pack_sequences",
    """
    SELECT doc_id, source,
           CAST(floor((cum - n_chars) / 2048.0) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             SUM(CAST(n_chars AS BIGINT)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM documents
    ) t
    """,
    doc="Sequence packing (fixed-offset next-fit): running char budget "
        "per source stream, pack = floor(preceding-cum / 2048). The 2048 "
        "divisor is a power of two so the double division is exact. One "
        "window shuffle on (source); at 100 TB the source key is the "
        "shard key, so packing parallelizes per shard with no skew",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.col("n_chars").cast("long")
    cum = F.sum(n).over(w)
    return d.select(
        "doc_id",
        "source",
        F.floor((cum - n) / F.lit(2048.0)).cast("long").alias("pack_id"),
    )


@register(
    "corpus_pii_redact",
    """
    SELECT doc_id,
           regexp_replace(text, '[0-9][0-9][0-9]+', '<NUM>', 'g')
             AS redacted,
           regexp_replace(text, '[0-9][0-9][0-9]+', '<NUM>', 'g') <> text
             AS was_redacted
    FROM documents
    """,
    doc="PII-style scrubbing: global regexp_replace of long digit runs "
        "(the account-number/phone pattern class) with a typed marker "
        "token. Pure codegen'd projection — a 100 TB redaction pass is "
        "scan-speed; the pattern set extends without changing the plan",
)
def corpus_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = F.regexp_replace(F.col("text"), "[0-9][0-9][0-9]+", "<NUM>")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        red.alias("redacted"),
        (red != F.col("text")).alias("was_redacted"),
    )


@register(
    "corpus_top_terms",
    """
    SELECT term, COUNT(*) AS term_count
    FROM (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents WHERE trim(text) <> ''
    ) t
    WHERE term <> ''
    GROUP BY term
    ORDER BY term_count DESC, term
    LIMIT 50
    """,
    doc="Corpus vocabulary head: explode whitespace tokens → global term "
        "frequency → deterministic top-50 (count desc, term tiebreak). "
        "Map-side partial counts collapse the exploded volume before the "
        "single shuffle; top-k via TakeOrderedAndProject",
)
def corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.trim("text") != "")
        .select(F.explode(tx.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .orderBy(F.col("term_count").desc(), "term")
        .limit(50)
    )


@register(
    "corpus_stratified_sample",
    f"""
    SELECT lang, COUNT(*) AS n_kept
    FROM (
      SELECT lang,
             substring({_doc_key_md5_sql('sample:')}, 1, 2) AS h2
      FROM documents
    ) t
    WHERE h2 < (CASE WHEN lang = 'en' THEN '40' ELSE 'cd' END)
    GROUP BY lang
    """,
    doc="Stratified downsampling with per-language keep rates (en 25%, "
        "others 80%) via the same salted-MD5 device — the language "
        "rebalancing step of corpus mixing. Deterministic membership: "
        "adding documents never flips earlier keep/drop decisions",
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    h2 = F.substring(_doc_key_md5("sample:"), 1, 2)
    rate = F.when(F.col("lang") == "en", "40").otherwise("cd")
    return (
        load_table(spark, sf_dir, "documents")
        .filter(h2 < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@register(
    "corpus_contamination_check",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(lower(array_to_string(
               list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 10),
               ' '))) AS fingerprint
      FROM documents WHERE trim(text) <> ''
    ),
    eval_fp AS (
      SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 17 = 0
    )
    SELECT f.doc_id, f.fingerprint
    FROM fp f
    WHERE f.doc_id % 17 <> 0
      AND EXISTS (SELECT 1 FROM eval_fp e
                  WHERE e.fingerprint = f.fingerprint)
    """,
    doc="Train/eval contamination check: prefix fingerprints (MD5 of the "
        "first 10 normalized tokens — the eval-prompt-leak heuristic; an "
        "exact-content MD5 is the degenerate slice-to-end case), semi-"
        "join of the training side against the eval set's fingerprints. "
        "Text is projected away before the join, so the shuffle moves "
        "32-byte keys, not documents; the eval side is broadcast-sized "
        "by construction",
)
def corpus_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = F.array_join(F.slice(tx.tokens("text"), 1, 10), " ")
    fp = (
        load_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .select(
            "doc_id", F.md5(F.lower(prefix).cast("binary")).alias("fingerprint")
        )
    )
    eval_fp = (
        fp.filter(F.col("doc_id") % 17 == 0).select("fingerprint").distinct()
    )
    train = fp.filter(F.col("doc_id") % 17 != 0)
    return train.join(
        F.broadcast(eval_fp.withColumnRenamed("fingerprint", "e_fp")),
        F.col("fingerprint") == F.col("e_fp"),
        "left_semi",
    )


@register(
    "dedup_rate_by_source",
    f"""
    WITH fp AS (
      SELECT source, {tx.doc_fingerprint_sql('text')} AS f FROM documents
    ),
    g AS (
      SELECT source, f, CAST(COUNT(*) AS BIGINT) AS copies
      FROM fp GROUP BY source, f
    )
    SELECT source,
           CAST(SUM(copies) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(copies) - COUNT(*) AS BIGINT) AS n_dropped,
           round(CAST(SUM(copies) - COUNT(*) AS DOUBLE)
                 / CAST(SUM(copies) AS DOUBLE), 6) AS dedup_rate
    FROM g GROUP BY source
    """,
    doc="Per-source exact-dedup rate: docs, unique fingerprints, and "
        "the fraction dropped — the per-provider quality scoreboard a "
        "pipeline publishes after its dedup pass (a source running 40% "
        "duplicates gets its crawl budget cut, not its weight raised). "
        "Two stacked aggregations, both keyed on uniformly-distributed "
        "md5 — skew-impossible; one scan of the corpus",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("source", tx.doc_fingerprint("text").alias("f"))
        .groupBy("source", "f")
        .agg(F.count(F.lit(1)).cast("long").alias("copies"))
    )
    return g.groupBy("source").agg(
        F.sum("copies").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        (F.sum("copies") - F.count(F.lit(1))).cast("long").alias("n_dropped"),
        F.round(
            (F.sum("copies") - F.count(F.lit(1))).cast("double")
            / F.sum("copies").cast("double"),
            6,
        ).alias("dedup_rate"),
    )


@register(
    "uniform_sample_k_per_group",
    f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_doc_key_md5_sql('ksample:')}, doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn <= 20
    """,
    doc="Deterministic uniform k-per-group sample: exactly 20 docs per "
        "language, chosen by salted-MD5 order — the reservoir-sampling "
        "result without reservoir state (the hash IS the random "
        "permutation, reproducible across runs/engines, and adding "
        "docs later only displaces, never reshuffles, the kept set). "
        "The eval-set construction primitive. One group-keyed window; "
        "at 100 TB a per-partition top-k pre-prune bounds the sort",
)
def uniform_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_doc_key_md5("ksample:"), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@register(
    "truncate_head_tail_budget",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           len(tok) > 60 AS truncated,
           CASE WHEN len(tok) > 60
                THEN array_to_string(tok[1:40], ' ') || ' ... ' ||
                     array_to_string(tok[len(tok)-19:len(tok)], ' ')
                ELSE array_to_string(tok, ' ') END AS text_budgeted
    FROM t
    """,
    doc="Token-budget truncation preserving head AND tail (first 40 + "
        "last 20 tokens when over 60): long documents carry their "
        "conclusion as well as their opening into the training window "
        "— plain head-truncation systematically deletes endings, a "
        "known curation bias. Pure array expressions (split/slice/"
        "join), no explode, no Python; the budget check and both "
        "slices inline into one codegen stage",
)
def truncate_head_tail_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = tx.tokens("text")
    n = F.size(tok)
    head = F.array_join(F.slice(tok, 1, 40), " ")
    tail = F.array_join(F.slice(tok, n - F.lit(19), 20), " ")
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        (n > 60).alias("truncated"),
        F.when(n > 60, F.concat(head, F.lit(" ... "), tail))
        .otherwise(F.array_join(tok, " "))
        .alias("text_budgeted"),
    )


@register(
    "decontaminate_13gram",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END
               AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(t) - 12, 1) + 1),
                 i -> array_to_string(t[i:i+12], ' '))) AS s
        FROM toks WHERE len(t) >= 13
      ) raw
    ),
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
    train AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT DISTINCT sh.doc_id FROM sh
      JOIN eval_sh e ON e.s = sh.s
      WHERE sh.doc_id % 10 <> 0
    )
    SELECT t.doc_id, h.doc_id IS NOT NULL AS contaminated
    FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id
    """,
    doc="Benchmark decontamination by the published 13-gram rule "
        "(GPT-3 appendix C / PaLM): a training document is contaminated "
        "iff it shares ANY 13-token shingle with the eval split (here "
        "doc_id%10==0 stands in for the benchmark set). Stricter and "
        "costlier than the prefix-fingerprint check "
        "(corpus_contamination_check): overlap can hide ANYWHERE in "
        "the document, so the join key is every shingle, not one "
        "fingerprint. Plan: shingles stay in-row until one explode, "
        "eval shingles deduped then equi-joined (semi-join to a "
        "distinct flag) — the eval side is benchmark-sized, so at "
        "100 TB it broadcasts and the train side is one scan",
)
def decontaminate_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.dedup import _ensure_parallelism

    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.lower("text"))
    # Spread the 13-gram shingle explode (r17 optimization, guide §2.5):
    # a single-file corpus scans as ONE split and this Generate is the
    # query's dominant stage — measured 2.91 s single-task vs 0.65 s
    # spread at sf0.1; no-op on well-split inputs. The train-id
    # projection below stays on the raw scan (trivial work).
    dh = _ensure_parallelism(d)
    sh = (
        dh.filter(F.size(toks) >= 13)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(tx.word_shingles(F.lower("text"), k=13))
            ).alias("s"),
        )
        .distinct()
    )
    eval_sh = sh.filter(F.col("doc_id") % 10 == 0).select("s").distinct()
    hits = (
        sh.filter(F.col("doc_id") % 10 != 0)
        .join(eval_sh, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = d.filter(F.col("doc_id") % 10 != 0).select("doc_id")
    return train.join(hits, "doc_id", "left").select(
        "doc_id", F.col("__hit").isNotNull().alias("contaminated")
    )


@register(
    "dedup_paragraph_chunks",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_idx,
             array_to_string(ws[i * 12 + 1 : i * 12 + 12], ' ')
               AS chunk_text
      FROM words,
           UNNEST(range(CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS t(i)
    ),
    keyed AS (
      SELECT doc_id, chunk_idx, chunk_text,
             md5(chunk_text) AS k,
             doc_id * 1000000 + chunk_idx AS ord
      FROM chunks
    ),
    firsts AS (SELECT k, MIN(ord) AS first_ord FROM keyed GROUP BY k),
    kept AS (
      SELECT keyed.doc_id, keyed.chunk_idx, keyed.chunk_text
      FROM keyed JOIN firsts
        ON keyed.k = firsts.k AND keyed.ord = firsts.first_ord
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(kept.chunk_idx) AS BIGINT) AS n_kept,
           string_agg(kept.chunk_text, ' ' ORDER BY kept.chunk_idx)
             AS kept_text
    FROM chunks c
    LEFT JOIN kept
      ON c.doc_id = kept.doc_id AND c.chunk_idx = kept.chunk_idx
    GROUP BY c.doc_id
    """,
    doc="CCNet-style paragraph-level exact dedup with document "
        "reassembly: each document is segmented into fixed 12-word "
        "chunks (the paragraph proxy for the newline-free synthetic "
        "corpus), every chunk occurrence EXCEPT the corpus-wide first "
        "(ordered by doc_id then position) is dropped, and the "
        "surviving chunks are re-joined in document order. This is the "
        "boilerplate-removal pass CommonCrawl pipelines run before "
        "doc-level dedup: headers/footers repeated across pages vanish "
        "while each page keeps its unique body. Scale shape: chunking "
        "is a pure higher-order-function projection (no explode until "
        "after slicing); first-occurrence resolution shuffles the "
        "32-char MD5 key + a single packed BIGINT order key — never "
        "the chunk text as a shuffle KEY — via groupBy-min + "
        "re-join (self-equi-join on the hash, broadcast-eligible "
        "firsts at low dup rates); reassembly is one shuffle on "
        "doc_id. At 100 TB every shuffle carries hashes and ids, and "
        "text rides only where it must (the kept-chunk payload)",
)
def dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # (r17 A/B: spread/persist variants LOST here — plain 1.08 s vs
    # spread 1.79 s vs spread+persist 1.86 s interleaved at sf0.1: the
    # 12-word chunk slicing is cheap relative to a keyless repartition
    # of the text. Left as-is deliberately; see boilerplate_chunk_stats
    # for the same finding.)
    chunks = (
        d.select(
            "doc_id",
            F.posexplode(tx.word_chunks("text", 12)).alias(
                "chunk_idx", "chunk_text"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            "chunk_text",
        )
    )
    keyed = chunks.select(
        "doc_id",
        "chunk_idx",
        "chunk_text",
        F.md5(F.col("chunk_text").cast("binary")).alias("k"),
        (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("ord"),
    )
    firsts = (
        keyed.groupBy("k")
        .agg(F.min("ord").alias("ord"))
        .select(F.col("k").alias("fk"), "ord")
    )
    kept = keyed.join(
        firsts,
        (keyed["k"] == firsts["fk"]) & (keyed["ord"] == firsts["ord"]),
    ).select(keyed["doc_id"], keyed["chunk_idx"], keyed["chunk_text"])
    kept_agg = kept.groupBy("doc_id").agg(
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
    counts = chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    return counts.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce(F.col("n_kept_"), F.lit(0)).cast("long").alias("n_kept"),
        "kept_text",
    )


# Drop threshold for C4-style boilerplate removal: a chunk appearing in
# >= this many DISTINCT documents is boilerplate and every occurrence
# is dropped (vs dedup_paragraph_chunks, which keeps the first).
_BOILERPLATE_MIN_DOCS = 3


@register(
    "boilerplate_chunk_removal",
    f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_idx,
             array_to_string(ws[i * 12 + 1 : i * 12 + 12], ' ')
               AS chunk_text
      FROM words,
           UNNEST(range(CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS t(i)
    ),
    freq AS (
      SELECT md5(chunk_text) AS k, COUNT(DISTINCT doc_id) AS nd
      FROM chunks GROUP BY 1
    ),
    kept AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk_text
      FROM chunks c JOIN freq ON freq.k = md5(c.chunk_text)
      WHERE freq.nd < {_BOILERPLATE_MIN_DOCS}
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(kept.chunk_idx) AS BIGINT) AS n_kept,
           string_agg(kept.chunk_text, ' ' ORDER BY kept.chunk_idx)
             AS kept_text
    FROM chunks c
    LEFT JOIN kept
      ON c.doc_id = kept.doc_id AND c.chunk_idx = kept.chunk_idx
    GROUP BY c.doc_id
    """,
    doc="C4-style boilerplate removal by CROSS-DOCUMENT FREQUENCY: any "
        "12-word chunk appearing in >= 3 distinct documents is dropped "
        "from EVERY document (headers/footers/navigation text repeated "
        "across pages — C4 drops any line occurring 3+ times in the "
        "corpus). Complements dedup_paragraph_chunks, which KEEPS the "
        "corpus-wide first occurrence: frequency removal deletes the "
        "template text itself; first-occurrence dedup merely "
        "de-duplicates it. Scale shape identical to the paragraph pass "
        "(this corpus' real boilerplate histogram: 83 chunks x2 docs, "
        "12 x3, 1 x4 at the gate SF, so the threshold demonstrably "
        "fires): chunking is a pure higher-order-function projection, "
        "the frequency table shuffles only (md5, doc_id) — a "
        "distinct-count aggregate that is corpus-vocabulary-sized and "
        "broadcast-eligible at low dup rates — and reassembly is one "
        "doc_id shuffle. Text never rides a shuffle KEY",
)
def boilerplate_chunk_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators.corpus import boilerplate_chunk_stats

    d = load_table(spark, sf_dir, "documents")
    return boilerplate_chunk_stats(
        d, chunk_words=12, min_docs=_BOILERPLATE_MIN_DOCS
    )


@register(
    "corpus_systematic_weighted_sample",
    """
    SELECT source, doc_id, n_chars,
           CAST(cum // 4096 - (cum - n_chars) // 4096 AS BIGINT)
             AS n_points
    FROM (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             SUM(CAST(n_chars AS BIGINT)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM documents
    ) t
    WHERE cum // 4096 > (cum - n_chars) // 4096
    """,
    doc="Probability-proportional-to-size SYSTEMATIC sampling: lay the "
        "per-source document stream end to end on its cumulative "
        "character axis and take one sample point every 4096 chars — a "
        "document is selected iff a stride point lands inside its span, "
        "with multiplicity n_points (docs longer than the stride carry "
        "proportionally more points, exactly the PPS weighting a "
        "token-budgeted mixture sampler needs). Deterministic and "
        "coordination-free — pure BIGINT cumulative sums and floor "
        "divisions, no RNG and no transcendental math, so any engine "
        "(and any re-run of one failed shard) selects the identical "
        "set. One window shuffle on (source), same shard-parallel "
        "shape as corpus_pack_sequences; selection itself is a "
        "codegen'd filter",
)
def corpus_systematic_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.col("n_chars").cast("long")
    cum = F.sum(n).over(w)
    # Positive BIGINTs throughout, so Spark's truncating DIV and
    # DuckDB's flooring // agree exactly.
    pts = F.expr("cum DIV 4096 - (cum - n_chars) DIV 4096")
    return (
        d.select("source", "doc_id", n.alias("n_chars"))
        .withColumn("cum", cum)
        .withColumn("n_points", pts.cast("long"))
        .filter(F.col("n_points") > 0)
        .select("source", "doc_id", "n_chars", "n_points")
    )
