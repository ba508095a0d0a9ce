"""LLM-training-data analytics pack 3: corpus-adaptive stopword
fraction, unigram-commonness (fluency-proxy) scoring, per-source length
percentile banding, and quantized-embedding norm profiling.

These extend the curation surface (harness_llmdata / harness_curation)
with the remaining per-document quality signals a web-scale pipeline
computes before sampling: signals derived from the corpus ITSELF
(adaptive stopword list, corpus term frequencies) rather than static
lists, plus the embedding-table health profile an ANN index build runs
first.

Cross-engine determinism rules (parity.py, round-1 lessons):
* every ratio is BIGINT/BIGINT through IEEE division (correctly
  rounded, bit-identical on both engines) — no libm, no double sums;
* norm profiling runs on int8-QUANTIZED vectors so every sum is exact
  integer arithmetic (the raw-float variant would be order-dependent);
* every top-k has a deterministic tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_tj_project_spark.cache import persist
from etl_tj_project_spark.functions import text as tx
from etl_tj_project_spark.harness import register
from etl_tj_project_spark.sources.testdata import load_table

# Shared tokenization — identical statement in both engines (same as
# harness_llmdata._TOKENS_SQL; duplicated here because the SQL string is
# interpolated into several oracles below).
_TOK_SQL = r"""
  SELECT doc_id,
         unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(lower(text)), '\s+') END)
           AS term
  FROM documents
"""


def _tokens(docs: DataFrame) -> DataFrame:
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return docs.select(
        "doc_id",
        F.explode(
            F.when(F.trim("text") == "", F.array()).otherwise(toks)
        ).alias("term"),
    )


@register(
    "text_corpus_stopword_fraction",
    f"""
    WITH tok AS ({_TOK_SQL}),
    top20 AS (
      SELECT term FROM (
        SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
        ORDER BY cnt DESC, term LIMIT 20
      ) t
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             COUNT(*) FILTER (WHERE term IN (SELECT term FROM top20))
               AS n_stop
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_stop, 0) AS BIGINT) AS n_stop,
           CASE WHEN p.n_tokens > 0
                THEN CAST(p.n_stop AS DOUBLE) / p.n_tokens END AS stop_frac
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    doc="Corpus-ADAPTIVE stopword fraction (vs the static-list "
        "stopword_ratio in corpus_quality_filter): the stopword list is "
        "the corpus's own top-20 terms (count desc, term tiebreak), so "
        "the signal transfers to any language mix without curated lists. "
        "Plan at 100 TB: one term shuffle builds the vocabulary, top-20 "
        "is a TakeOrdered collapse broadcast back to the token stream, "
        "one doc_id shuffle aggregates — the fraction is BIGINT/BIGINT "
        "IEEE division",
)
def text_corpus_stopword_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    top20 = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "term")
        .limit(20)
        .select("term")
    )
    # The 20-row stopword table broadcasts; tagging each token with a
    # left join (vs a semi-join) lets ONE doc_id aggregation produce
    # both counts.
    tagged = tok.join(
        F.broadcast(top20.withColumn("__stop", F.lit(1))), "term", "left"
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("__stop").alias("n_stop"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_stop", F.lit(0)).cast("long").alias("n_stop"),
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_stop").cast("double") / F.col("n_tokens"),
            ).alias("stop_frac"),
        )
    )


@register(
    "text_unigram_commonness",
    f"""
    WITH tok AS ({_TOK_SQL}),
    vocab AS (
      SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
    ),
    per_doc AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             SUM(v.cnt) AS sum_freq
      FROM tok t JOIN vocab v USING (term)
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum_freq AS BIGINT) AS sum_freq,
           CAST(sum_freq AS DOUBLE) / n_tokens AS mean_term_freq
    FROM per_doc
    """,
    doc="Unigram-commonness score — mean corpus frequency of a doc's "
        "tokens, the cheapest fluency/perplexity proxy (rare-garble docs "
        "score low, boilerplate scores high; used as a band filter in "
        "web curation). Plan: vocabulary via one term shuffle, token->"
        "vocab equi-join (vocab << corpus; AQE broadcasts when it fits, "
        "shuffle-join when a 100 TB vocab doesn't), one doc_id shuffle. "
        "BIGINT sums exact, final ratio IEEE division",
)
def text_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        tok.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_freq"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("sum_freq").cast("long").alias("sum_freq"),
        (F.col("sum_freq").cast("double") / F.col("n_tokens")).alias(
            "mean_term_freq"
        ),
    )


@register(
    "doc_length_percentile_band",
    """
    SELECT doc_id, source, n_chars, pr,
           pr >= 0.05 AND pr <= 0.95 AS keep
    FROM (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars) AS pr
      FROM documents
    ) t
    """,
    doc="Per-source document-length percentile banding: drop the "
        "shortest/longest 5% WITHIN each source (a global cut would let "
        "one long-form source swallow another's whole budget). "
        "percent_rank is (rank-1)/(n-1) — integer-ratio IEEE division, "
        "bit-identical cross-engine; ties share a rank so no tiebreak "
        "is needed for determinism. One source-keyed window shuffle; "
        "at 100 TB each source partition sorts independently",
)
def doc_length_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars")
    pr = F.percent_rank().over(w)
    return docs.select(
        "doc_id", "source", "n_chars", pr.alias("pr")
    ).withColumn("keep", (F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))


@register(
    "embedding_q8_norm_profile",
    """
    WITH q AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127 + 0.5) AS BIGINT))
               AS q8
      FROM embeddings
    ), per_vec AS (
      SELECT label,
             CAST(list_sum(list_transform(q8, x -> abs(x))) AS BIGINT)
               AS l1,
             CAST(list_sum(list_transform(q8, x -> x * x)) AS BIGINT)
               AS l2sq
      FROM q
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(l1) AS BIGINT) AS sum_l1,
           CAST(SUM(l1) AS DOUBLE) / COUNT(*) AS avg_l1,
           CAST(MIN(l2sq) AS BIGINT) AS min_l2sq,
           CAST(MAX(l2sq) AS BIGINT) AS max_l2sq,
           CAST(SUM(l2sq) AS DOUBLE) / COUNT(*) AS avg_l2sq
    FROM per_vec GROUP BY label
    """,
    doc="Embedding-table norm profile per label over int8-QUANTIZED "
        "vectors (the audit an ANN index build runs first: zero-norm / "
        "outlier-norm vectors poison IVF training). Quantizing first "
        "(same floor(x*127+.5) as embedding_int8_quantize) makes every "
        "sum exact integer arithmetic — the raw-float variant would be "
        "FP-order-dependent across partitions. Per-row work is in-row "
        "engine expressions; one label shuffle of integer partials",
)
def embedding_q8_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 127 + 0.5).cast("long"),
    )
    zero = F.lit(0).cast("long")
    per_vec = e.select(
        "label",
        F.aggregate(q8, zero, lambda acc, x: acc + F.abs(x)).alias("l1"),
        F.aggregate(q8, zero, lambda acc, x: acc + x * x).alias("l2sq"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("l1").cast("long").alias("sum_l1"),
        (F.sum("l1").cast("double") / F.count(F.lit(1))).alias("avg_l1"),
        F.min("l2sq").cast("long").alias("min_l2sq"),
        F.max("l2sq").cast("long").alias("max_l2sq"),
        (F.sum("l2sq").cast("double") / F.count(F.lit(1))).alias("avg_l2sq"),
    )


def _incremental_lsh_oracle() -> str:
    from etl_tj_project_spark.operators import dedup as _dd

    bands_sql = _dd.minhash_bands_sql(
        "documents", "doc_id", "text", num_hashes=8, bands=4
    )
    return f"""
    WITH b AS ({bands_sql})
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM b a JOIN b c ON a.band = c.band AND a.h = c.h
                     AND a.doc_id < c.doc_id
    WHERE a.doc_id >= 400 OR c.doc_id >= 400
    """


@register(
    "dedup_incremental_lsh_candidates",
    _incremental_lsh_oracle(),
    doc="Incremental near-dup candidates: dedup a DELTA (doc_id >= 400 "
        "stands in for today's arrivals) against the whole corpus "
        "without recomputing the full band self-join — only the delta's "
        "signatures are computed and joined against the PREBUILT base "
        "band index plus its own bands "
        "(operators/dedup.incremental_lsh_candidates). At 100 TB the "
        "base index is a stored table bucketed by (band, h), so the "
        "daily probe shuffles O(delta), not O(corpus). Oracle: the "
        "full self-join restricted to pairs touching the delta — "
        "proving incremental == recompute, the same invariant as "
        "scd2_apply_changes",
)
def dedup_incremental_lsh_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as _dd

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 400)
    delta = d.filter(F.col("doc_id") >= 400)
    base_bands = _dd.minhash_bands(base, "doc_id", "text", 8, 4)
    return _dd.incremental_lsh_candidates(base_bands, delta, "doc_id", "text")


def _lsh_pairs_sql() -> str:
    from etl_tj_project_spark.operators import dedup as _dd

    bands_sql = _dd.minhash_bands_sql(
        "documents", "doc_id", "text", num_hashes=8, bands=4
    )
    return f"""
      WITH b AS MATERIALIZED ({bands_sql})
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM b a JOIN b c ON a.band = c.band AND a.h = c.h
                       AND a.doc_id < c.doc_id
    """


@register(
    "graph_degree_distribution",
    f"""
    WITH pairs AS MATERIALIZED ({_lsh_pairs_sql()}),
    deg AS (
      SELECT n, COUNT(*) AS degree FROM (
        SELECT doc_a AS n FROM pairs
        UNION ALL
        SELECT doc_b AS n FROM pairs
      ) all_ends GROUP BY n
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
    doc="Degree distribution of the near-dup candidate graph — the "
        "profile a dedup pipeline inspects before clustering (a heavy "
        "tail means boilerplate hubs that will chain unrelated docs "
        "through connected components; the standard mitigation is "
        "dropping super-node buckets). Two shuffles over id-sized "
        "tables; the LSH candidate generation upstream is the fact-"
        "scale work",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as _dd

    d = load_table(spark, sf_dir, "documents")
    pairs = _dd.lsh_candidate_pairs(d, "doc_id", "text", 8, 4)
    ends = pairs.select(F.col("doc_a").alias("n")).unionAll(
        pairs.select(F.col("doc_b").alias("n"))
    )
    deg = ends.groupBy("n").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


@register(
    "graph_triangle_count",
    f"""
    WITH pairs AS MATERIALIZED ({_lsh_pairs_sql()}),
    deg AS (
      SELECT n, COUNT(*) AS degree FROM (
        SELECT doc_a AS n FROM pairs
        UNION ALL
        SELECT doc_b AS n FROM pairs
      ) all_ends GROUP BY n
    ),
    oriented AS (
      SELECT CASE WHEN (da.degree, p.doc_a) < (db.degree, p.doc_b)
                  THEN p.doc_a ELSE p.doc_b END AS u,
             CASE WHEN (da.degree, p.doc_a) < (db.degree, p.doc_b)
                  THEN p.doc_b ELSE p.doc_a END AS v
      FROM pairs p
      JOIN deg da ON da.n = p.doc_a
      JOIN deg db ON db.n = p.doc_b
    ),
    wedges AS (
      SELECT e1.v AS a, e2.v AS b
      FROM oriented e1 JOIN oriented e2
        ON e1.u = e2.u AND (e1.v < e2.v)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      SELECT 1 FROM wedges w
      WHERE EXISTS (
        SELECT 1 FROM pairs p
        WHERE (p.doc_a = least(w.a, w.b) AND p.doc_b = greatest(w.a, w.b))
      )
    ) t
    """,
    doc="Triangle count of the candidate graph via DEGREE-ORIENTED "
        "wedge counting (each edge points low->high (degree, id); "
        "wedges form only at each edge's lower endpoint, then a "
        "semi-join against the edge set closes them) — the standard "
        "MapReduce formulation that bounds per-node wedge fan-out by "
        "O(sqrt(|E|)) instead of degree^2, which is what makes it "
        "runnable on a graph with boilerplate hub nodes at corpus "
        "scale. Triangle density tells a dedup pipeline whether near-"
        "dup groups are cliquish (true template families) or chains "
        "(transitive false merges). Selection rule (direct vs canonical): COVERAGE.md round 16",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as _dd

    d = load_table(spark, sf_dir, "documents")
    pairs = _dd.lsh_candidate_pairs(d, "doc_id", "text", 8, 4)
    # Narrow the cached pair table (the connected-components lesson):
    # four downstream joins each launch one map task per cached
    # partition, so a 58k-row pair table at the session's full shuffle
    # width is pure scheduling overhead.
    pairs = _dd.narrow_persisted(pairs, "doc_a")
    from etl_tj_project_spark.operators.graph import triangle_count_oriented

    return triangle_count_oriented(pairs)


def _semdedup_oracle() -> str:
    dot = (
        lambda a, b: f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    cos = lambda a, b: (  # noqa: E731
        f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"
    )
    return f"""
    WITH c AS (SELECT vec_id AS cell, embedding AS cvec
               FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cell FROM c
              ORDER BY {cos('e.embedding', 'c.cvec')} DESC, c.cell DESC
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
       AND {cos('a.embedding', 'b.embedding')} >= 0.35
    )
    SELECT a.vec_id, a.cell,
           a.vec_id IN (SELECT vec_id FROM drops) AS dropped
    FROM assigned a
    """


@register(
    "dedup_semantic_semdedup",
    _semdedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023): cluster the embedding table, "
        "then drop all but the smallest-id member of any within-cluster "
        "pair above a cosine threshold — semantic dedup that catches "
        "paraphrases exact/MinHash dedup cannot. The cluster restriction "
        "is what makes it tractable: candidate pairs are within-cell "
        "only, never all-pairs — and at scale k GROWS with the corpus "
        "(k ~ n / target_cell_size, e.g. 100k cells for 10^8 docs) so "
        "per-cell pair work stays bounded; the fixed k=8 here is the "
        "oracle-checkable test-scale setting. Deterministic "
        "centroids (first 8 vectors; trained k-means swaps in without "
        "changing the plan — same substitution as ann_ivf_topk vs "
        "ann_ivf_trained_topk) keep the entry oracle-hash-checkable. "
        "Threshold 0.35 is matched to the synthetic embedding "
        "distribution (max pairwise cosine ~0.45) so the drop rule "
        "provably fires; production text embeddings use ~0.95",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.vectors import cosine_similarity
    from etl_tj_project_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r[1]]
        for r in sorted(
            e.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect(),
            key=lambda r: r[0],
        )
    ]
    assigned = e.select(
        "vec_id",
        "embedding",
        sim._cell_expr(F.col("embedding"), cents).alias("cell"),
    )
    assigned = persist(assigned)
    a = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
    )
    drops = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity(F.col("emb_a"), F.col("emb_b")) >= 0.35)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(drops, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce("__dropped", F.lit(False)).alias("dropped"),
    )


@register(
    "char_trigram_lang_profile",
    r"""
    WITH t AS (
      SELECT lang,
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS s
      FROM documents
    ), grams AS (
      SELECT lang,
             unnest(CASE WHEN length(s) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, length(s) - 1),
                                        i -> substr(s, i, 3)) END) AS g
      FROM t
    ), counted AS (
      SELECT lang, g, COUNT(*) AS n FROM grams GROUP BY lang, g
    )
    SELECT lang, g, CAST(n AS BIGINT) AS n
    FROM (
      SELECT lang, g, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, g) AS rn
      FROM counted
    ) x WHERE rn <= 5
    """,
    doc="Per-language char-trigram profile (top-5 by count, "
        "deterministic tie-break) — the feature family behind n-gram "
        "language ID (functions/text.lang_id is the heuristic twin; "
        "this entry exposes the learned-profile build step). The "
        "trigram explode happens engine-side over the normalized "
        "string (no Python), one (lang, gram) shuffle of count "
        "partials, then a window over the per-language count table",
)
def char_trigram_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    grams = docs.select(
        "lang",
        F.explode(
            F.when(F.length(s) < 3, F.array()).otherwise(
                tx.let(
                    s,
                    lambda t: F.transform(
                        F.sequence(F.lit(1), F.length(t) - 2),
                        lambda i: t.substr(i, F.lit(3)),
                    ),
                )
            )
        ).alias("g"),
    )
    counted = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "g")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "g", F.col("n").cast("long").alias("n"))
    )


# =========================================================================
# BPE tokenizer training (operators/bpe.py)
# =========================================================================

from etl_tj_project_spark.operators import bpe as bpe_ops  # noqa: E402


@register(
    "bpe_pair_counts",
    """
    WITH words AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ), vocab AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
    pairs AS (
      SELECT substr(word, CAST(i AS INTEGER), 1) AS a,
             substr(word, CAST(i AS INTEGER) + 1, 1) AS b,
             freq
      FROM vocab, unnest(range(1, length(word))) AS t(i)
    )
    SELECT a, b, CAST(SUM(freq) AS BIGINT) AS total
    FROM pairs GROUP BY a, b
    ORDER BY total DESC, a, b LIMIT 30
    """,
    doc="BPE iteration-0 statistic: adjacent symbol-pair frequencies "
        "weighted by word frequency, top 30 with the deterministic "
        "(count desc, pair) tie-break every merge decision uses. "
        "Scale shape: ONE corpus-sized shuffle builds the word "
        "vocabulary; the pair explosion runs over unique words only — "
        "at 100 TB the vocab is orders of magnitude smaller than the "
        "corpus, which is what makes distributed BPE tractable "
        "(operators/bpe.py holds the full iterative trainer; the loop "
        "is rows-only by policy, see bpe_learned_merges)",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = bpe_ops.pair_counts(bpe_ops.with_symbols(bpe_ops.word_vocab(docs)))
    return (
        counts.orderBy(F.col("total").desc(), "a", "b")
        .limit(30)
        .select("a", "b", F.col("total").cast("long").alias("total"))
    )


def _bpe_merges_oracle(n_merges: int = 8) -> str:
    """Chained-CTE DuckDB twin of the iterative BPE trainer (the
    PageRank/PCA fixed-point move applied to the merge loop, per the r5
    verdict). Each token is rendered as a ``|tok|`` wrapped segment, so
    SQL ``replace(seq, '|a||b|', '|ab|')`` — non-overlapping,
    left-to-right — reproduces ``operators/bpe.merge_pair``'s greedy
    fold exactly (adjacent matches share no characters, and a token can
    never match a pattern mid-token). One best{i}/seq{i} CTE pair per
    merge; the argmax tie-break (total DESC, a, b) matches
    ``operators/bpe.top_pair``."""
    parts = ["""WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
), vocab AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
seq0 AS (
  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS seq, freq FROM vocab
)"""]
    for i in range(1, n_merges + 1):
        prev = f"seq{i - 1}"
        parts.append(f""",
best{i} AS (
  SELECT a, b, total FROM (
    SELECT t.toks[CAST(u.i AS INTEGER)] AS a,
           t.toks[CAST(u.i AS INTEGER) + 1] AS b,
           SUM(t.freq) AS total
    FROM (SELECT str_split(trim(seq, '|'), '||') AS toks, freq
          FROM {prev}) t,
         unnest(range(1, len(t.toks))) AS u(i)
    GROUP BY 1, 2
  ) ORDER BY total DESC, a, b LIMIT 1
),
seq{i} AS (
  SELECT replace(s.seq, '|' || b.a || '||' || b.b || '|',
                 '|' || b.a || b.b || '|') AS seq, s.freq
  FROM {prev} s, best{i} b
)""")
    # total >= 2 mirrors train_bpe's early stop (it breaks when the best
    # pair occurs fewer than twice). Best totals are NON-INCREASING
    # across merges — a post-merge pair (x, ab)'s occurrences are a
    # subset of the pre-merge (x, a) occurrences — so filtering each
    # step is exactly equivalent to truncating at the first sub-2 step,
    # and the two sides return identical row sets even on a degenerate
    # corpus where the trainer stops before n_merges.
    unions = " UNION ALL ".join(
        f"SELECT {i} AS step, a, b, a || b AS merged, "
        f"CAST(total AS BIGINT) AS pair_count FROM best{i + 1} "
        f"WHERE total >= 2"
        for i in range(n_merges)
    )
    parts.append(
        f"\nSELECT step, a, b, merged, pair_count FROM ({unions}) x"
    )
    return "".join(parts)


@register(
    "bpe_learned_merges",
    _bpe_merges_oracle(8),
    doc="The learned BPE merge table itself: 8 iterations of "
        "count-pairs → argmax → fold-merge over the vocabulary, all "
        "JVM-side expressions with a one-row collect per iteration "
        "(Lloyd-trainer discipline). Deterministic tie-breaks make the "
        "merge sequence reproducible. Was rows-only through r5; now "
        "hash-checked against a chained-CTE DuckDB twin where each merge "
        "is a delimiter-safe string replace — see _bpe_merges_oracle. "
        "tests/test_bpe.py additionally proves the distributed loop "
        "equals a pure-Python reference trainer merge-for-merge",
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_ops.train_bpe(docs, n_merges=8)
    rows = [
        (i, a, b, a + b, int(total))
        for i, (a, b, total) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "step int, a string, b string, merged string, pair_count long"
    )


# The canonical fixed merge table for the corpus-encoding entry: the 8
# merges train_bpe learns on the sf0.01 documents corpus, hard-coded so
# the ENCODE operator is deterministic at every SF (the ANN precedent:
# fixed-centroid hash-checked twin of the trained path — here the
# trained path is bpe_learned_merges). Includes a chained merge
# ('m','er') so the fold's multi-char left symbols are exercised.
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
]


def _bpe_encode_oracle(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of the distributed corpus encoder: each word rendered
    as ``|tok|`` wrapped segments, each merge one delimiter-safe
    ``replace(seq, '|a||b|', '|ab|')`` — non-overlapping left-to-right,
    so it reproduces the greedy fold exactly (the _bpe_merges_oracle
    representation). The merge table is a literal, so the whole apply
    chain is one nested-replace expression."""
    seq = "regexp_replace(word, '(.)', '|\\1|', 'g')"
    for a, b in merges:
        seq = f"replace({seq}, '|{a}||{b}|', '|{a}{b}|')"
    return f"""
    WITH words AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    ), vocab AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
    enc AS (SELECT {seq} AS seq, freq FROM vocab),
    toks AS (
      SELECT unnest(str_split(trim(seq, '|'), '||')) AS token, freq
      FROM enc
    )
    SELECT token, CAST(SUM(freq) AS BIGINT) AS total
    FROM toks GROUP BY token
    ORDER BY total DESC, token LIMIT 50
    """


@register(
    "bpe_encode_corpus",
    _bpe_encode_oracle(BPE_FIXED_MERGES),
    doc="Distributed BPE corpus ENCODING — the missing second half of "
        "tokenizer work (VERDICT r9 item 4): apply a merge table to "
        "every document's words and surface the top-50 BPE token "
        "frequencies. The merge table is the fixed 8-merge "
        "BPE_FIXED_MERGES (sf0.01-learned, incl. a chained 'm'+'er' "
        "merge); the apply is operators/bpe.encode_corpus_vocab — all "
        "8 greedy folds composed into ONE expression tree over the "
        "distinct-word vocabulary, so a 100 TB corpus pays one "
        "exact-dedup shuffle + vocab-sized fold work, never a per-"
        "occurrence re-fold. Oracle applies the same table as chained "
        "delimiter-safe string replaces; tests/test_bpe.py additionally "
        "proves the distributed encode equals the driver-side reference "
        "encoder word-for-word under LEARNED merges",
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_ops.encode_corpus_vocab(docs, BPE_FIXED_MERGES)
    return (
        enc.select("freq", F.explode("symbols").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("total"))
        .orderBy(F.col("total").desc(), "token")
        .limit(50)
    )


def _pagerank_oracle() -> str:
    scale = 1_000_000
    return f"""
    WITH pairs AS MATERIALIZED ({_lsh_pairs_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (
      SELECT deg.u AS node, {scale} // nn.n AS r FROM deg, nn
    ),
    pr1 AS (
      SELECT e.v AS node,
             (15 * {scale}) // (100 * any_value(nn.n))
               + (85 * SUM(p.r // dg.d)) // 100 AS r
      FROM edges e
      JOIN pr0 p ON p.node = e.u
      JOIN deg dg ON dg.u = e.u
      CROSS JOIN nn
      GROUP BY e.v
    ),
    pr2 AS (
      SELECT e.v AS node,
             (15 * {scale}) // (100 * any_value(nn.n))
               + (85 * SUM(p.r // dg.d)) // 100 AS r
      FROM edges e
      JOIN pr1 p ON p.node = e.u
      JOIN deg dg ON dg.u = e.u
      CROSS JOIN nn
      GROUP BY e.v
    ),
    pr3 AS (
      SELECT e.v AS node,
             (15 * {scale}) // (100 * any_value(nn.n))
               + (85 * SUM(p.r // dg.d)) // 100 AS r
      FROM edges e
      JOIN pr2 p ON p.node = e.u
      JOIN deg dg ON dg.u = e.u
      CROSS JOIN nn
      GROUP BY e.v
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_fp
    FROM pr3 ORDER BY r DESC, node LIMIT 20
    """


@register(
    "graph_pagerank_fixedpoint",
    _pagerank_oracle(),
    doc="PageRank over the near-dup candidate graph (hub scoring — which "
        "documents sit at the center of boilerplate clusters), 3 "
        "damped iterations in FIXED-POINT integer arithmetic: ranks are "
        "micro-units (scale 10^6) and every step is integer div/mod, so "
        "there is no float accumulation order to diverge on and the "
        "whole iterative computation carries a full cross-engine hash "
        "check — the same determinism principle as the KMV/count-min "
        "sketches, applied to an iterative graph algorithm. Spark side "
        "is fully declarative (no driver collects): per-iteration "
        "edge-join + aggregate, the textbook distributed PageRank "
        "shape; at 100 TB each iteration is one shuffle keyed by node "
        "id, and the LSH candidate generation upstream dominates",
)
def graph_pagerank_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as _dd

    scale = 1_000_000
    d = load_table(spark, sf_dir, "documents")
    pairs = _dd.lsh_candidate_pairs(d, "doc_id", "text", 8, 4)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    edges_deg = edges.join(deg, "u")
    r = (
        deg.select(F.col("u").alias("node"))
        .crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{scale} div n").alias("r"))
    )
    for _ in range(3):
        r = (
            edges_deg.join(r, edges_deg["u"] == r["node"])
            .groupBy(F.col("v"))
            .agg(F.sum(F.expr("r div d")).alias("contrib"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("v").alias("node"),
                F.expr(f"(15 * {scale}) div (100 * n) + (85 * contrib) div 100")
                .alias("r"),
            )
        )
    return (
        r.orderBy(F.col("r").desc(), "node")
        .limit(20)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("r").cast("long").alias("rank_fp"),
        )
    )


@register(
    "dedup_prefix_filter_jaccard",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, term FROM ({_TOK_SQL})
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM toks
      GROUP BY doc_id
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY term
    ),
    ranked AS (
      SELECT t.doc_id, t.term, s.sz,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY f.df, t.term) AS rn
      FROM toks t JOIN dfreq f ON f.term = t.term
                  JOIN sizes s ON s.doc_id = t.doc_id
    ),
    prefix AS (
      -- ceil(3*sz/5) spelled (3*sz+4)//5: DuckDB // floors exactly
      -- (a bare / returns DOUBLE and CAST would round, not floor).
      SELECT doc_id, term FROM ranked
      WHERE rn <= sz - ((4 * sz + 4) // 5) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.term = b.term AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(CAST(i.n_inter AS DOUBLE)
                 / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE 5 * i.n_inter >= 4 * (sa.sz + sb.sz - i.n_inter)
    """,
    doc="PPJoin-style prefix-filtering set-similarity self-join at "
        "Jaccard >= 4/5 over whitespace-token sets — the hash-free "
        "complement to MinHash-LSH candidate generation with ZERO false "
        "negatives by construction (operators/dedup."
        "prefix_filter_jaccard_pairs; completeness vs brute force pinned "
        "in tests/test_stats2.py). Tokens ordered rarest-first so "
        "prefixes land on low-df tokens; candidates = prefix-token "
        "equi-join; membership decided by exact integer "
        "cross-multiplication, the float only labels the output. Selection rule (direct vs canonical): COVERAGE.md round 16",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import dedup as dd

    d = load_table(spark, sf_dir, "documents")
    return dd.prefix_filter_jaccard_pairs(d, "doc_id", "text", 4, 5)


def _knn_join_oracle() -> str:
    from etl_tj_project_spark.operators import similarity as sim

    planes = sim._hyperplanes(64, 8, 7)
    bcol = sim.lsh_bucket_sql("embedding", planes)
    cos = (
        f"{sim._dot_sql('d.embedding', 'q.qv')}"
        f" / (sqrt({sim._dot_sql('d.embedding', 'd.embedding')})"
        f" * sqrt({sim._dot_sql('q.qv', 'q.qv')}))"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, {bcol} AS bkt FROM embeddings
    ),
    q AS (
      SELECT vec_id AS qid, embedding AS qv, bkt AS qb
      FROM b WHERE vec_id < 16
    ),
    cand AS (
      SELECT q.qid, d.vec_id AS nid, {cos} AS cos
      FROM q JOIN b d ON bit_count(xor(d.bkt, q.qb)) <= 1
    ),
    ranked AS (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, nid) AS rn
      FROM cand
    )
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(rn AS INTEGER) AS rnk, round(cos, 9) AS cosine
    FROM ranked WHERE rn <= 10
    """


@register(
    "ann_knn_join_topk",
    _knn_join_oracle(),
    doc="k-NN JOIN: top-10 cosine neighbors for EVERY query row (16 "
        "probe rows here) — the batch form of ANN a dedup/retrieval "
        "pipeline actually runs, vs the single-broadcast-vector probes. "
        "The Hamming<=1 multi-probe is rewritten as an EQUI-join "
        "(operators/similarity.knn_join): each query explodes to its "
        "1+n_planes probe buckets and candidates meet on the bucket id "
        "— shuffle-partitionable, and at 100 TB the data side is "
        "written partitioned by bucket so probes prune partitions; a "
        "distance-predicate theta join would plan a cross product. One "
        "bucket-keyed join + one query-keyed window (cosine DESC, id "
        "tiebreak). Oracle states the identical candidate set as a "
        "Hamming filter",
)
def ann_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.operators import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 16)
    out = sim.knn_join(e, q, k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").alias("rnk"),
        "cosine",
    )


@register(
    "corpus_ngram_novelty",
    r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, s
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(t) - 2, 1) + 1),
                 i -> array_to_string(t[i:i+2], ' '))) AS s
        FROM toks WHERE len(t) > 0
      ) raw
    ),
    firsts AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM sh JOIN firsts f ON f.s = sh.s
    GROUP BY sh.doc_id
    """,
    doc="N-gram novelty: the fraction of a document's distinct word "
        "3-grams whose FIRST corpus occurrence (min doc_id) is this "
        "document — the incremental-crawl quality signal (a doc whose "
        "every shingle already exists earlier adds nothing; span-level "
        "dedup drops it, novelty SCORES it first). Shares "
        "word_shingles' exact semantics (short docs -> one shingle). "
        "Plan: one shingle-keyed shuffle for first-occurrence, one "
        "shingle-keyed join back, one doc-keyed aggregate — shingles "
        "stay in-row until the single explode, and at 100 TB the "
        "min-doc table is the same corpus-global state as the LSH "
        "band index, maintained incrementally the same way",
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.filter(F.trim("text") != "")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), k=3))
            ).alias("s"),
        )
        .distinct()
    )
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(
                F.sum(novel).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def _minhash_audit_oracle() -> str:
    from etl_tj_project_spark.operators import dedup as _dd

    sig = _dd.minhash_signature_sql("documents", "doc_id", "text", 8, 8)
    matches = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
    WITH sig AS MATERIALIZED ({sig}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST({matches} AS BIGINT) AS n_agree,
             list_distinct(a.sh) AS sa, list_distinct(b.sh) AS sb
      FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_a, doc_b, n_agree,
           round(CAST(n_agree AS DOUBLE) / 8.0, 6) AS jaccard_est,
           round(CAST(length(list_intersect(sa, sb)) AS DOUBLE)
                 / CAST(length(sa) + length(sb)
                        - length(list_intersect(sa, sb)) AS DOUBLE), 6)
             AS jaccard_exact
    FROM pairs
    """


@register(
    "minhash_accuracy_audit",
    _minhash_audit_oracle(),
    doc="MinHash self-audit: for candidate pairs (consecutive ids, the "
        "levenshtein-pairs convention), the signature-agreement "
        "estimate n_agree/8 SIDE BY SIDE with the exact char-8-shingle "
        "Jaccard it estimates — the calibration table that justifies "
        "the banding thresholds (E[agreement] = J; with 8 hashes the "
        "estimate is coarse, which is exactly what this surfaces and "
        "why verification follows candidate generation). Everything "
        "is md5/integer arithmetic except the two final IEEE "
        "divisions, so the audit itself is cross-engine hash-checked",
)
def minhash_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.text import char_shingles
    from etl_tj_project_spark.operators import dedup as _dd

    d = load_table(spark, sf_dir, "documents")
    sig = _dd.minhash_signature_df(d, "doc_id", "text", 8, 8)
    sh = d.select(
        "doc_id", F.array_distinct(char_shingles("text", k=8)).alias("sh")
    )
    left = sig.join(sh, "doc_id").select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sa"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)],
    )
    right = sig.join(sh, "doc_id").select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sb"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)],
    )
    pairs = left.join(right, F.col("doc_b") == F.col("doc_a") + 1)
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(8)
    ).cast("long")
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (
        F.size("sa").cast("double")
        + F.size("sb").cast("double")
        - inter
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        n_agree.alias("n_agree"),
        F.round(n_agree.cast("double") / F.lit(8.0), 6).alias("jaccard_est"),
        F.round(inter / union, 6).alias("jaccard_exact"),
    )


def _pca_power_oracle() -> str:
    scale = 1 << 20
    it = """
    dot{K} AS (
      SELECT ql.vec_id, SUM(ql.val * v{J}.v) AS dot
      FROM ql JOIN v{J} ON v{J}.dim = ql.dim GROUP BY ql.vec_id
    ),
    w{K} AS (
      SELECT ql.dim, SUM(ql.val * dot{K}.dot) AS w
      FROM ql JOIN dot{K} ON dot{K}.vec_id = ql.vec_id GROUP BY ql.dim
    ),
    m{K} AS (SELECT MAX(abs(w)) AS m FROM w{K}),
    v{K} AS (
      SELECT dim,
             (CASE WHEN w < 0 THEN -1 ELSE 1 END)
             * (abs(w) // greatest(m // {scale}, 1)) AS v
      FROM w{K}, m{K}
    )"""
    iters = ",".join(
        it.format(K=k, J=k - 1, scale=scale) for k in (1, 2, 3)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 127, 0) AS BIGINT)) AS q8
      FROM embeddings
    ),
    ql AS (
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, q8[CAST(i AS INTEGER)] AS val
      FROM q, unnest(generate_series(1, 64)) t(i)
    ),
    v0 AS (
      SELECT CAST(d AS BIGINT) AS dim, CAST({scale} AS BIGINT) AS v
      FROM unnest(generate_series(0, 63)) s(d)
    ),
    {iters}
    SELECT dim, CAST(v AS BIGINT) AS component FROM v3
    """


@register(
    "embedding_pca_power_fixedpoint",
    _pca_power_oracle(),
    doc="Top principal component of the embedding table by POWER "
        "ITERATION in fixed-point integer arithmetic: vectors quantize "
        "to int8, the direction lives in 2^20 micro-units, and each of "
        "3 iterations is v <- rescale(Sum_i x_i * (x_i . v)) — two "
        "integer aggregations (row-dot, then per-dim accumulate) with "
        "a max-abs integer renormalization (no sqrt, no float), so the "
        "ITERATIVE linear algebra itself carries a full cross-engine "
        "hash check — pagerank's determinism principle applied to PCA. "
        "Iteration count is a dial: each round multiplies the "
        "eigengap ratio into the error, so spiky spectra converge in "
        "a few rounds while near-isotropic corpora (like this "
        "synthetic table, gap ratio ~0.93) need many — the ENTRY "
        "pins the exact 3-step operator; tests/test_stats2.py proves "
        "it bit-equal to an integer simulation and that the Rayleigh "
        "quotient improves monotonically over the start vector. "
        "Plan: the (vec, dim) long table shuffles once per iteration "
        "per keyed aggregate, v is |dim| rows joined in — fully "
        "declarative, no driver collects; at 10^10 vectors each "
        "iteration is two node-keyed shuffles, same as k-means",
)
def embedding_pca_power_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    scale = 1 << 20
    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 127, 0).cast("long"),
    )
    ql = persist(
        e.select("vec_id", F.posexplode(q8).alias("dim", "val")).select(
            "vec_id", F.col("dim").cast("long").alias("dim"), "val"
        )
    )
    spark_ = e.sparkSession
    v = spark_.range(64).select(
        F.col("id").alias("dim"), F.lit(scale).cast("long").alias("v")
    )
    for _ in range(3):
        dot = (
            ql.join(v, "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("val") * F.col("v")).alias("dot"))
        )
        w = (
            ql.join(dot, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("val") * F.col("dot")).alias("w"))
        )
        m = w.agg(F.max(F.abs("w")).alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            "dim",
            (
                F.when(F.col("w") < 0, -1).otherwise(1)
                * F.expr(f"abs(w) div greatest(m div {scale}, 1)")
            ).alias("v"),
        )
    return v.select("dim", F.col("v").cast("long").alias("component"))


def _rp_sign_sql(k: int, d: str) -> str:
    # Rademacher sign from the first hex digit of md5("rp:k:d"):
    # digits 0-7 -> +1, 8-f -> -1 — portable, seed-free, deterministic.
    return (
        f"CASE WHEN substring(md5('rp:{k}:' || CAST({d} AS VARCHAR)), 1, 1)"
        f" BETWEEN '0' AND '7' THEN 1 ELSE -1 END"
    )


def _rp_oracle() -> str:
    outs = ", ".join(
        "CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> ({_rp_sign_sql(k, 'i - 1')}) * q8[CAST(i AS INTEGER)]))"
        f" AS BIGINT) AS p{k}"
        for k in range(16)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 127, 0) AS BIGINT)) AS q8
      FROM embeddings
    )
    SELECT vec_id, {outs} FROM q
    """


@register(
    "embedding_random_projection_16",
    _rp_oracle(),
    doc="Johnson-Lindenstrauss reduction 64 -> 16 dims with a "
        "DETERMINISTIC Rademacher matrix (sign = first hex digit of "
        "md5('rp:k:d') — seed-free, engine-portable, the KMV hashing "
        "principle applied to a projection matrix): out_k = "
        "sum_d sign(k,d) * q8_d over int8-quantized inputs, so every "
        "projected coordinate is an exact integer and the whole "
        "reduction hash-checks cross-engine. The cheap pre-ANN step "
        "that cuts candidate-scan bytes 4x while JL bounds pairwise "
        "distance distortion (distortion measured in "
        "tests/test_stats2.py). Pure per-row expressions — zero "
        "shuffles, inlines into the scan at any scale",
)
def embedding_random_projection_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 127, 0).cast("long"),
    )
    base = e.select("vec_id", q8.alias("__q8"))

    # Signs are constants of (k, d) — bake them driver-side with the
    # SAME md5 rule the oracle states (16x64 literals fold into codegen;
    # computing md5 per row per cell would be 1024 hashes/row for
    # values that never change).
    def sign(k: int, d: int) -> int:
        h = hashlib.md5(f"rp:{k}:{d}".encode()).hexdigest()[0]
        return 1 if h <= "7" else -1

    cols = [
        sum(
            F.lit(sign(k, d)) * F.element_at("__q8", d + 1)
            for d in range(64)
        ).cast("long").alias(f"p{k}")
        for k in range(16)
    ]
    return base.select("vec_id", *cols)


def _projected_topk_oracle() -> str:
    from etl_tj_project_spark.operators import similarity as sim

    proj = ", ".join(
        "CAST(list_sum(list_transform(generate_series(1, 64), "
        f"i -> ({_rp_sign_sql(k, 'i - 1')}) * q8[CAST(i AS INTEGER)]))"
        f" AS BIGINT) AS p{k}"
        for k in range(16)
    )
    coarse = " + ".join(f"a.p{k} * q.p{k}" for k in range(16))
    cos = (
        f"{sim._dot_sql('d.embedding', 'qv.embedding')}"
        f" / (sqrt({sim._dot_sql('d.embedding', 'd.embedding')})"
        f" * sqrt({sim._dot_sql('qv.embedding', 'qv.embedding')}))"
    )
    return f"""
    WITH q8t AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 127, 0) AS BIGINT)) AS q8
      FROM embeddings
    ),
    p AS (SELECT vec_id, embedding, {proj} FROM q8t),
    q AS (SELECT * FROM p WHERE vec_id = 0),
    coarse AS (
      SELECT a.vec_id, CAST({coarse} AS BIGINT) AS score
      FROM p a, q
      ORDER BY score DESC, a.vec_id LIMIT 50
    )
    SELECT c.vec_id, round({cos}, 9) AS cosine
    FROM coarse c
    JOIN embeddings d ON d.vec_id = c.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qv
    ORDER BY cosine DESC, c.vec_id LIMIT 10
    """


@register(
    "ann_projected_rerank_topk",
    _projected_topk_oracle(),
    doc="Two-stage retrieval, the production ANN pattern: coarse top-50 "
        "by INTEGER dot product in the 16-dim JL projection (4x fewer "
        "bytes per row than the full vector, exact integer scores so "
        "the candidate ORDER is hash-stable), then exact full-space "
        "cosine rerank of just those 50 -> top-10. Complements the "
        "bucket-pruning families (LSH/IVF prune WHICH rows are "
        "scanned; projection prunes HOW MUCH each scanned row costs — "
        "PQ's idea without codebook training). Coarse stage is "
        "TakeOrderedAndProject over per-row expressions; rerank "
        "touches 50 rows",
)
def ann_projected_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from etl_tj_project_spark.functions.vectors import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 127, 0).cast("long"),
    )

    def sign(k: int, d: int) -> int:
        h = hashlib.md5(f"rp:{k}:{d}".encode()).hexdigest()[0]
        return 1 if h <= "7" else -1

    pcols = [
        sum(
            F.lit(sign(k, d)) * F.element_at("__q8", d + 1)
            for d in range(64)
        ).cast("long").alias(f"p{k}")
        for k in range(16)
    ]
    p = e.select("vec_id", "embedding", q8.alias("__q8")).select(
        "vec_id", "embedding", *pcols
    )
    qrow = F.broadcast(
        p.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("__qemb"),
            *[F.col(f"p{k}").alias(f"q{k}") for k in range(16)],
        )
    )
    coarse_score = sum(
        F.col(f"p{k}") * F.col(f"q{k}") for k in range(16)
    ).cast("long")
    coarse = (
        p.crossJoin(qrow)
        .select(
            "vec_id",
            "embedding",
            "__qemb",
            coarse_score.alias("score"),
        )
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(50)
    )
    return (
        coarse.select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("__qemb")), 9
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "text_bigram_coverage",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END
               AS toks
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1])
                    END) AS bigram
      FROM t
    ),
    head AS (
      SELECT bigram FROM (
        SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 200
      ) h
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN head.bigram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_head,
           round(CAST(SUM(CASE WHEN head.bigram IS NOT NULL
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS head_coverage
    FROM b LEFT JOIN head ON head.bigram = b.bigram
    GROUP BY b.doc_id
    """,
    doc="Bigram head-coverage fluency proxy: the fraction of a doc's "
        "word bigrams that fall in the corpus's top-200 bigram head — "
        "one step up from unigram commonness (word-ORDER fluency: "
        "scrambled text keeps its unigram score but loses bigram "
        "coverage). The head is a TakeOrdered collapse with a "
        "deterministic tiebreak, broadcast back as a membership tag; "
        "one bigram shuffle + one doc shuffle, no libm",
)
def text_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    with_toks = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array()).otherwise(toks).alias("toks"),
    )
    bigrams = with_toks.select(
        "doc_id",
        F.explode(
            F.when(F.size("toks") < 2, F.array()).otherwise(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat(toks[i - 1], ' ', toks[i]))"
                )
            )
        ).alias("bigram"),
    )
    head = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(200)
        .select("bigram", F.lit(1).alias("__head"))
    )
    tagged = bigrams.join(F.broadcast(head), "bigram", "left")
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.coalesce("__head", F.lit(0))).cast("long").alias("n_in_head"),
        F.round(
            F.sum(F.coalesce("__head", F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("head_coverage"),
    )


def _filtered_topk_oracle() -> str:
    from etl_tj_project_spark.operators import similarity as sim

    cos = (
        f"{sim._dot_sql('d.embedding', 'q.qv')}"
        f" / (sqrt({sim._dot_sql('d.embedding', 'd.embedding')})"
        f" * sqrt({sim._dot_sql('q.qv', 'q.qv')}))"
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT d.label, d.vec_id, {cos} AS cosine
      FROM embeddings d, q
    ),
    ranked AS (
      SELECT label, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT label, vec_id, CAST(rn AS INTEGER) AS rnk,
           round(cosine, 9) AS cosine
    FROM ranked WHERE rn <= 5
    """


@register(
    "ann_filtered_topk_per_label",
    _filtered_topk_oracle(),
    doc="Filtered (faceted) vector search: top-5 cosine neighbors of "
        "the query WITHIN EVERY label partition — the metadata-filter+"
        "ANN combination vector stores are asked for ('nearest docs "
        "per source/language'). Expressed as score-then-window "
        "(partition by label, cosine DESC with id tiebreak) so ONE "
        "scan answers every filter value at once — running the "
        "single-facet query per label would rescan per facet. At "
        "100 TB label is the partition column, so the window runs "
        "partition-local with no cross-label shuffle",
)
def ann_filtered_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.vectors import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("__qv")
        )
    )
    scored = e.crossJoin(q).select(
        "label",
        "vec_id",
        cosine_similarity(F.col("embedding"), F.col("__qv")).alias("cosine"),
    )
    rn = F.row_number().over(
        Window.partitionBy("label").orderBy(F.col("cosine").desc(), "vec_id")
    )
    return (
        scored.withColumn("rnk", rn)
        .filter(F.col("rnk") <= 5)
        .select(
            "label",
            "vec_id",
            F.col("rnk").cast("int").alias("rnk"),
            F.round("cosine", 9).alias("cosine"),
        )
    )


@register(
    "lang_label_confusion_matrix",
    r"""
    SELECT lang AS declared,
           CASE WHEN greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) = 0 THEN 'und' ELSE CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT) = greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) THEN 'en' ELSE CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT) = greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) THEN 'es' ELSE CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT) = greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) THEN 'fr' ELSE CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT) = greatest(CAST(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS BIGINT), CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT)) THEN 'de' ELSE 'und' END END END END END AS detected,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
    """,
    doc="Declared-vs-detected language confusion matrix: the provider's "
        "lang label cross-tabulated against the marker-token heuristic "
        "(functions/text.lang_id) — the mislabeled-language audit run "
        "before trusting per-language sampling budgets (an off-diagonal "
        "hot cell means a source ships mislabeled docs; 'und' columns "
        "measure where the heuristic abstains). One scan, one tiny "
        "(declared x detected) aggregate; detection is a pure Column "
        "expression so the matrix costs exactly one pass",
)
def lang_label_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_tj_project_spark.functions.text import lang_id

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.col("lang").alias("declared"),
                 lang_id("text").alias("detected"))
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "text_zipf_head_share",
    f"""
    WITH tok AS ({_TOK_SQL}),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY term
    ),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rn,
             SUM(cnt) OVER () AS total
      FROM vocab
    )
    SELECT k,
           CAST(SUM(cnt) AS BIGINT) AS head_tokens,
           CAST(MIN(total) AS BIGINT) AS total_tokens,
           round(CAST(SUM(cnt) AS DOUBLE) / CAST(MIN(total) AS DOUBLE), 6)
             AS head_share
    FROM ranked
    CROSS JOIN (SELECT unnest([10, 100, 1000]) AS k) ks
    WHERE rn <= k
    GROUP BY k
    """,
    doc="Zipf head-share curve: the fraction of all corpus tokens "
        "covered by the top-10/100/1000 terms — the three-point "
        "summary of the frequency curve that sizes stopword lists, "
        "vocabulary truncation, and CMS sketch width (a corpus whose "
        "top-1000 covers 95% compresses very differently from one at "
        "60%). One vocabulary shuffle + one rank window; the three "
        "thresholds share a single scan via cross join + filter "
        "instead of three passes",
)
def text_zipf_head_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = _tokens(d)
    vocab = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    ranked = vocab.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "term"))
        .alias("rn"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    ks = d.sparkSession.createDataFrame(
        [(10,), (100,), (1000,)], "k int"
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("cnt").cast("long").alias("head_tokens"),
            F.min("total").cast("long").alias("total_tokens"),
            F.round(
                F.sum("cnt").cast("double") / F.min("total").cast("double"),
                6,
            ).alias("head_share"),
        )
    )


# k-hop traversal bound: fixed depth makes the iterative-join unrolling
# finite and the DuckDB WITH RECURSIVE twin depth-bounded.
_KHOP_DEPTH = 3
_KHOP_SEEDS = 20
_KHOP_MOD = 997


@register(
    "khop_reachability",
    f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT o_custkey AS src, o_orderkey % {_KHOP_MOD} + 1 AS dst
      FROM orders
    ),
    walk(seed, node, depth) AS (
      SELECT c_custkey, c_custkey, 0
      FROM customer WHERE c_custkey <= {_KHOP_SEEDS}
      UNION
      SELECT w.seed, e.dst, w.depth + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.depth < {_KHOP_DEPTH}
    )
    SELECT CAST(seed AS BIGINT) AS seed,
           CAST(COUNT(DISTINCT node) AS BIGINT) AS n_reachable,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM walk GROUP BY seed
    """,
    doc="Bounded k-hop reachability — the recursive-CTE shape of the "
        "implied ANSI surface (graph feature engineering: 'everything "
        "within 3 hops of these accounts'). Spark has no WITH "
        "RECURSIVE; the depth-bounded traversal unrolls into k "
        "frontier-join iterations (the BSP/Pregel superstep as plain "
        "DataFrame joins): frontier JOIN edges -> next frontier, "
        "distinct per hop so path multiplicity never amplifies rows, "
        "union into the reached set. Hash-checked against DuckDB's "
        "WITH RECURSIVE twin over the same deterministic edge relation "
        "(custkey -> orderkey mod {mod}+1 — synthetic fan, identical "
        "on both engines; dead-end sinks are legal BFS targets). "
        "Scale shape: each hop is one equi-join on the node id + one "
        "distinct — per-hop shuffles of FRONTIER-sized id pairs, never "
        "paths; the fixed depth bounds the plan (at production depth, "
        "checkpoint per hop to cut lineage — same regime as the "
        "pointer-doubling CC in operators/dedup.py, which covers the "
        "UNBOUNDED closure case)".format(mod=_KHOP_MOD),
)
def khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("o_orderkey") % _KHOP_MOD + 1).cast("long").alias("dst"),
    ).distinct()
    seeds = c.filter(F.col("c_custkey") <= _KHOP_SEEDS).select(
        F.col("c_custkey").cast("long").alias("seed"),
        F.col("c_custkey").cast("long").alias("node"),
    )
    reached = seeds
    frontier = seeds
    for _ in range(_KHOP_DEPTH):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        reached = reached.union(nxt).distinct()
        frontier = nxt
    return reached.groupBy("seed").agg(
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


_NEG_K = 4          # negatives per anchor
_NEG_ANCHORS = 100  # bounded anchor set for the gate


@register(
    "contrastive_negative_sampling",
    f"""
    WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
    anchors AS (
      SELECT vec_id AS anchor, label AS a_label
      FROM embeddings WHERE vec_id < {_NEG_ANCHORS}
    ),
    slots AS (
      SELECT anchor, a_label, CAST(i AS BIGINT) AS slot, n.n_vecs,
             CAST(('0x' || substr(md5(CAST(anchor AS VARCHAR) || ':'
                                      || CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) % n.n_vecs AS raw
      FROM anchors, unnest([{", ".join(str(i) for i in range(_NEG_K))}]) AS t(i), n
    ),
    fixed AS (
      SELECT anchor, a_label, slot,
             CASE WHEN raw = anchor THEN (raw + 1) % n_vecs
                  ELSE raw END AS neg_id
      FROM slots
    )
    SELECT f.anchor, f.slot, f.neg_id,
           CAST(f.a_label AS BIGINT) AS a_label,
           CAST(e.label AS BIGINT) AS neg_label,
           (f.a_label = e.label) AS label_collision
    FROM fixed f JOIN embeddings e ON e.vec_id = f.neg_id
    """,
    doc="Deterministic negative sampling for contrastive/embedding "
        "training: k=4 negatives per anchor drawn by the portable md5 "
        "hash over (anchor, slot) mod corpus size — reproducible "
        "RNG-free sampling (the repo-wide salted-hash idiom, so resumed "
        "or re-run jobs draw the SAME negatives), with the "
        "anchor-collision remapped deterministically and each "
        "negative's label joined back to flag label collisions (the "
        "false-negative audit every contrastive pipeline wants on its "
        "sampler). Shape: anchors x k is a pure projection + 4-element "
        "explode; corpus size is a 1-row broadcast; the only real work "
        "is the id-equi-join fetching negative metadata — at 100 TB "
        "that join is shuffle-on-id or broadcast when the id->label "
        "map is dim-sized. Anchor bound keeps the gate output fixed; "
        "the operator itself is corpus-wide",
)
def contrastive_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    anchors = e.filter(F.col("vec_id") < _NEG_ANCHORS).select(
        F.col("vec_id").alias("anchor"), F.col("label").alias("a_label")
    )
    slots = (
        anchors.select(
            "anchor",
            "a_label",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(_NEG_K - 1).cast("long"))
            ).alias("slot"),
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "raw",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("anchor").cast("string"),
                            F.lit(":"),
                            F.col("slot").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n_vecs"),
        )
    )
    fixed = slots.select(
        "anchor",
        "a_label",
        "slot",
        F.when(
            F.col("raw") == F.col("anchor"),
            (F.col("raw") + 1) % F.col("n_vecs"),
        )
        .otherwise(F.col("raw"))
        .alias("neg_id"),
    )
    negs = e.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return fixed.join(negs, "neg_id").select(
        "anchor",
        "slot",
        "neg_id",
        F.col("a_label").cast("long").alias("a_label"),
        F.col("neg_label").cast("long").alias("neg_label"),
        (F.col("a_label") == F.col("neg_label")).alias("label_collision"),
    )
