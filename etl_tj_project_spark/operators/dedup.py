"""Deduplication operators for large-scale corpus pipelines.

Five families, all designed so the heavy lifting is per-row expression
work (embarrassingly parallel, whole-stage-codegen'd) followed by at most
one keyed shuffle:

* exact        — fingerprint (md5 of normalized text) + hash groupBy
* MinHash+LSH  — char-shingles → k minhashes → banded bucket join
* SimHash      — per-token md5 bit votes → compact bit fingerprint
* n-gram Jaccard — distinct word-shingle overlap between candidate pairs
* embedding cosine — near-dup by vector similarity

Scale notes (100 TB): signatures/fingerprints are computed in a single
projection over the scan (no explode — higher-order functions keep the
shingle arrays inside one row). The only shuffles are the groupBy on the
fingerprint / band-hash, whose cardinality is ~#docs, not #shingles. The
band join is self-equi-join on (band, hash) — AQE handles skewed buckets
(e.g. boilerplate-heavy corpora) by splitting them.

MinHash here is the md5-slice variant: one md5 per (shingle, salt
group) yields FOUR independent 32-bit hash values (the 128-bit digest
sliced into 8-hex-char chunks), so 8 minhashes cost 2 md5s per shingle,
not 8. minhash_i(doc) = lexicographic min over shingles of
substr(md5(shingle || ':' || i//4), 8*(i%4)+1, 8). md5 keeps the
signature engine-portable (the DuckDB oracle reproduces it exactly),
deterministic across runs/partitions, and seed-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_tj_project_spark.cache import persist, release
from etl_tj_project_spark.functions.text import (
    char_shingles,
    doc_fingerprint,
    tokens,
    word_shingles,
)
from etl_tj_project_spark.functions.vectors import cosine_similarity, expr_once


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group rows by normalized-text fingerprint; keep the min id as the
    canonical representative. One hash-aggregate shuffle on the 32-char
    fingerprint."""
    return (
        df.select(doc_fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per fingerprint."""
    w = df.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
    keep = w.groupBy("fp").agg(F.min(id_col).alias(id_col)).drop("fp")
    return df.join(keep, on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def _salted_md5(salt: str):
    # Single-parameter lambda: F.transform passes (element, index) to
    # two-parameter lambdas, which would shadow a default-arg salt.
    return lambda s: F.md5(F.concat(s, F.lit(salt)))


SLICES_PER_MD5 = 4  # 128-bit digest → four 32-bit (8-hex-char) hashes


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread expression-heavy per-row work across all cores.

    A small parquet file scans as ONE input split, which would run the
    whole signature stage on one task (measured: 32× slower at sf0.1).
    At lake scale inputs already have thousands of splits and this is a
    no-op — the repartition only fires when the input is under-split.

    Streaming DataFrames pass through untouched: ``df.rdd`` is illegal
    on a stream (it would need an eager execution), and micro-batch
    split sizing is the source's job (maxFilesPerTrigger etc.).
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _md5_slice_mins(
    sh: Column, num_hashes: int, prefix: str = "mh"
) -> tuple[list[Column], list[list[Column]]]:
    """(md5-array columns, per-hash min columns) for the slice scheme.

    Returned as two projection layers: the md5 arrays MUST be separate
    named columns so each digest is computed once and sliced four ways
    (CollapseProject keeps non-cheap expressions un-inlined).
    """
    groups = (num_hashes + SLICES_PER_MD5 - 1) // SLICES_PER_MD5
    md5_cols = [
        F.transform(sh, _salted_md5(f":{g}")).alias(f"__md5_{g}")
        for g in range(groups)
    ]
    def _slicer(offset: int):
        # Single-parameter lambda via factory: a second default arg would
        # flip F.transform into (element, index) arity (see _salted_md5).
        return lambda h: F.substring(h, offset, 8)

    mins = []
    for i in range(num_hashes):
        g, sl = i // SLICES_PER_MD5, i % SLICES_PER_MD5
        mins.append(
            F.array_min(
                F.transform(F.col(f"__md5_{g}"), _slicer(sl * 8 + 1))
            ).alias(f"{prefix}{i}")
        )
    return md5_cols, mins


def minhash_signature_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_k: int = 8,
) -> DataFrame:
    """(id, mh0..mhk-1) minhash signatures: 2 md5s per shingle for 8
    hashes (slice scheme), fully parallel, no explode."""
    # The projection columns depend only on (text_col, num_hashes,
    # shingle_k) — memoized expression trees (functions.vectors
    # .expr_once, r18): the ~100 py4j calls that build them were a
    # measurable slice of every LSH entry's wall-clock.
    md5_cols, mins = expr_once(
        ("mh_sig_cols", text_col, num_hashes, shingle_k),
        lambda: _md5_slice_mins(
            char_shingles(text_col, k=shingle_k), num_hashes
        ),
    )
    return (
        _ensure_parallelism(df)
        .select(F.col(id_col), *md5_cols)
        .select(F.col(id_col), *mins)
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
) -> DataFrame:
    """(id, band, band_hash) — one row per doc per band. Band hash is the
    md5 of the '|'-joined signature rows in the band (NULL-propagating
    concat: empty docs produce NULL hashes, which never bucket-join)."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sig = minhash_signature_df(df, id_col, text_col, num_hashes, shingle_k)

    def _band_cols() -> list[Column]:
        cols = []
        for b in range(bands):
            parts: list[Column] = []
            for r in range(rows):
                if parts:
                    parts.append(F.lit("|"))
                parts.append(F.col(f"mh{b * rows + r}"))
            cols.append(
                F.struct(
                    F.lit(b).alias("band"), F.md5(F.concat(*parts)).alias("h")
                )
            )
        return cols

    band_cols = expr_once(("mh_band_cols", num_hashes, bands), _band_cols)
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bh")
    ).select(id_col, F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) sharing ≥1 band
    bucket. Self-equi-join on (band, h): the shuffle key cardinality is
    #docs × bands; AQE splits skewed buckets. The (id, band, h) table is
    persisted once so both join sides share one signature computation
    (measured ~30% faster at sf0.1; the cache is band-table sized).
    """
    b = persist(
        minhash_bands(df, id_col, text_col, num_hashes, bands, shingle_k)
    )
    left = b.select(
        F.col(id_col).alias("doc_a"), F.col("band"), F.col("h")
    )
    right = b.select(
        F.col(id_col).alias("doc_b"), F.col("band"), F.col("h")
    )
    return (
        left.join(right, on=["band", "h"], how="inner")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_star_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
) -> DataFrame:
    """Connectivity-equivalent LSH edge list for CONNECTED-COMPONENTS
    consumers: per (band, h) bucket, one edge from the bucket's MINIMUM
    doc id to every other member — O(bucket) star edges instead of the
    C(bucket, 2) candidate pairs ``lsh_candidate_pairs`` enumerates.

    Components are provably identical to the candidate-pair graph's:
    within a bucket the star connects exactly the docs the clique
    connects (every member reaches every other through the bucket
    minimum), and across buckets connectivity is the union over shared
    docs in both formulations; the same node set appears (a doc has a
    candidate pair iff it shares a bucket with another doc iff it is a
    star endpoint), so min-reachable-id labels — and everything built
    on them (the canonicalize manifest) — are unchanged.
    Equality is pinned at smoke scale (tests/test_r16_entries.py) and
    end-to-end by the ``dedup_cluster_canonicalize`` oracle hash, whose
    DuckDB twin still walks the all-pairs graph.

    WHY (SCALE.md §28): the candidate-pair table is quadratic in
    duplicate-family size — the round-16 decomposition measured 58k
    pairs at sf0.1 inflating to 5.76M (99x) on the §26 10x near-dup
    corpus, and the pair build + the CC consuming it were the ONLY
    super-unit stages of the canonicalize pipeline (3.14x / 6.94x wall
    for 10x data vs ~1x for every survivor-sized stage). Star edges are
    bounded by docs x bands REGARDLESS of duplicate density — the
    within-family quadratic term never exists. Similarity consumers
    (Jaccard/containment verify stages, triangle counting) still need
    real candidate pairs; this is for connectivity ONLY.

    Returns (doc_a, doc_b) with doc_a < doc_b by construction (doc_a is
    the bucket minimum). NULL band hashes (empty docs) never join, as
    in ``lsh_candidate_pairs``. One groupBy + one join, both on the
    (band, h) key the band table is already shuffled by.
    """
    b = minhash_bands(df, id_col, text_col, num_hashes, bands, shingle_k)
    b = persist(b)
    mins = b.groupBy("band", "h").agg(F.min(id_col).alias("doc_a"))
    return (
        b.join(mins, ["band", "h"])
        .filter(F.col(id_col) != F.col("doc_a"))
        .select("doc_a", F.col(id_col).alias("doc_b"))
        .distinct()
    )


def incremental_lsh_candidates(
    base_bands: DataFrame,
    delta_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs INVOLVING the delta only: the daily
    incremental form of :func:`lsh_candidate_pairs`.

    A production corpus dedups each day's arrivals against the whole
    corpus; recomputing the full band self-join daily is O(corpus)
    work for an O(delta)-sized question. Here only the delta's
    signatures are computed (day-sized scan), and the join probes
    ``base_bands`` — the PREBUILT (id, band, h) index table the initial
    load wrote out (at warehouse scale: bucketed/partitioned by
    (band, h), so this join co-locates without shuffling the base).
    Delta-internal duplicates are caught by including the delta's own
    bands in the probe side. Output is canonical (doc_a < doc_b,
    distinct) pairs where at least one side is a delta doc — feed it to
    :func:`jaccard_for_pairs` exactly like the full-corpus pairs.
    """
    delta_bands = minhash_bands(
        delta_df, id_col, text_col, num_hashes, bands, shingle_k
    )
    delta_bands = persist(delta_bands)
    probe = base_bands.select(id_col, "band", "h").unionByName(
        delta_bands.select(id_col, "band", "h")
    )
    left = delta_bands.select(
        F.col(id_col).alias("doc_a"), F.col("band"), F.col("h")
    )
    right = probe.select(
        F.col(id_col).alias("doc_b"), F.col("band"), F.col("h")
    )
    return (
        left.join(right, on=["band", "h"], how="inner")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )


def minhash_bands_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
) -> str:
    """DuckDB twin of :func:`minhash_bands` (same md5 signatures)."""
    rows = num_hashes // bands
    k = shingle_k
    norm = f"regexp_replace(lower({text_col}), '[^a-z0-9]', '', 'g')"
    sh = (
        f"list_transform(range(1, greatest(length(t) - {k - 1}, 1) + 1), "
        f"i -> substr(t, i, {k}))"
    )
    groups = (num_hashes + 3) // 4
    md5_cols = ", ".join(
        f"list_transform(sh, x -> md5(x || ':{g}')) AS md5_{g}"
        for g in range(groups)
    )
    mh_cols = ", ".join(
        f"list_min(list_transform(md5_{i // 4}, h -> substr(h, {(i % 4) * 8 + 1}, 8)))"
        f" AS mh{i}"
        for i in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        joined = " || '|' || ".join(f"mh{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT {id_col}, {b} AS band, md5({joined}) AS h FROM sig"
        )
    return (
        # sig is referenced once per band (4-8x): without the
        # MATERIALIZED hint DuckDB inlines the whole shingle+md5
        # pipeline per reference (r18 — the residual-LCC oracle spent
        # 161 s at sf0.001 recomputing inlined CTEs vs 0.5 s
        # materialized, identical rows).
        f"WITH s AS (SELECT {id_col}, {sh} AS sh FROM "
        f"(SELECT {id_col}, {norm} AS t FROM {table})), "
        f"m AS (SELECT {id_col}, {md5_cols} FROM s), "
        f"sig AS MATERIALIZED (SELECT {id_col}, {mh_cols} FROM m) "
        + " UNION ALL ".join(band_selects)
    )


def canonicalize_manifest_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    rank_col: str = "n_chars",
    num_hashes: int = 8,
    bands: int = 4,
) -> str:
    """DuckDB twin of :func:`canonicalize_near_dup_clusters` (and of
    the ``dedup_cluster_canonicalize`` registry entry): recursive-CTE
    connected components over the restated MinHash band graph, then
    one survivor per component (largest ``rank_col``, ``id_col``
    tie-break), singletons kept via the left-join fallback. Lives here
    with the other SQL twins so harness packs can compose it without
    importing each other (the r12/r13 circular-import lesson)."""
    bands_sql = minhash_bands_sql(
        table, id_col, text_col, num_hashes=num_hashes, bands=bands
    )
    return f"""
    WITH RECURSIVE b AS MATERIALIZED (SELECT * FROM ({bands_sql}) raw_bands),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.{id_col} AS doc_a, c.{id_col} AS doc_b
      FROM b a JOIN b c ON a.band = c.band AND a.h = c.h
                       AND a.{id_col} < c.{id_col}
    ),
    sym AS MATERIALIZED (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION
      SELECT doc_b AS n, doc_a AS m FROM pairs
    ),
    walk(n, r) AS (
      SELECT n, m FROM sym
      UNION
      SELECT w.n, s.m FROM walk w JOIN sym s ON s.n = w.r
    ),
    comp AS (
      SELECT n AS node, least(n, MIN(r)) AS component_id
      FROM walk GROUP BY n
    ),
    allrows AS MATERIALIZED (
      SELECT d.{id_col}, d.{rank_col},
             coalesce(c.component_id, d.{id_col}) AS component_id
      FROM {table} d LEFT JOIN comp c ON c.node = d.{id_col}
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY component_id
                 ORDER BY {rank_col} DESC, {id_col}) AS rn
      FROM allrows
    ),
    m AS (SELECT component_id, count(*) AS n_members FROM allrows GROUP BY 1)
    SELECT r.component_id,
           r.{id_col} AS canonical_doc_id,
           CAST(r.{rank_col} AS BIGINT) AS canonical_{rank_col},
           CAST(m.n_members AS BIGINT) AS n_members
    FROM ranked r JOIN m USING (component_id)
    WHERE r.rn = 1
    """


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(text_col: Column | str, bits: int = 16) -> Column:
    """Bit-vote SimHash over whitespace tokens.

    Bit j of the fingerprint is the sign of sum over tokens of ±1, where
    the vote is the high bit of hex digit j of md5(token) — i.e. hex char
    in [8-9a-f]. Engine-portable (md5 hex is identical everywhere) and a
    single projection per row. bits ≤ 32 (md5 yields 32 hex digits).
    """
    assert 1 <= bits <= 32
    # One md5 per token, then every bit reads its own hex digit of the
    # cached digest array — NOT one md5 per (token, bit).
    digests = F.transform(tokens(text_col), lambda t: F.md5(t))

    def _bit_vote(hexpos: int):
        # Two-parameter merge lambda only — a third default arg would
        # change the arity F.aggregate infers.
        def merge(acc: Column, h: Column) -> Column:
            return acc + F.when(
                F.substring(h, hexpos, 1).isin(
                    "8", "9", "a", "b", "c", "d", "e", "f"
                ),
                F.lit(1),
            ).otherwise(F.lit(-1))

        return merge

    fp = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.aggregate(digests, F.lit(0), _bit_vote(j + 1))
        fp = fp + F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return fp


def simhash_sql(text_col: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`simhash`."""
    t = f"trim({text_col})"
    toks = (
        f"CASE WHEN {t} = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array({t}, '\\s+') END"
    )
    parts = []
    for j in range(bits):
        vote = (
            f"list_sum(list_transform({toks}, tok -> CASE WHEN "
            f"substr(md5(tok), {j + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END))"
        )
        parts.append(
            f"CASE WHEN coalesce({vote}, 0) > 0 THEN CAST({1 << j} AS BIGINT) "
            f"ELSE 0 END"
        )
    return "(" + " + ".join(parts) + ")"


# --------------------------------------------------------------------------
# n-gram Jaccard
# --------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 3
) -> DataFrame:
    """Word-n-gram Jaccard similarity between candidate pairs.

    Candidate pairing here is consecutive ids (a deterministic linear
    pair set — callers doing real dedup feed LSH candidates instead via
    :func:`jaccard_for_pairs`). Similarity uses distinct shingle sets:
    |A∩B| / |A∪B|, NULL when both empty.
    """
    sh = F.array_distinct(word_shingles(text_col, k=ngram))
    base = df.select(F.col(id_col).alias("id"), sh.alias("sh"))
    a = base.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = base.select((F.col("id") - 1).alias("doc_a"), F.col("id").alias("doc_b"),
                    F.col("sh").alias("sh_b"))
    joined = a.join(b, on="doc_a", how="inner")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "doc_a",
        "doc_b",
        F.when(union > 0, inter / union).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# Embedding cosine near-dup
# --------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9
) -> DataFrame:
    """Cosine similarity between consecutive-id embedding pairs, flagged
    at ``threshold``. (The all-pairs variant at scale goes through
    similarity.lsh_buckets to bound the candidate set.)"""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = base.select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"),
                    F.col("v").alias("vb"))
    joined = a.join(b, on="id_a", how="inner")
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    return joined.select(
        "id_a",
        "id_b",
        cos.alias("cosine"),
        (cos >= threshold).alias("is_near_dup"),
    )


# --------------------------------------------------------------------------
# End-to-end near-dedup: LSH candidates → Jaccard verify → greedy drop
# --------------------------------------------------------------------------

def jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
) -> DataFrame:
    """Score candidate ``(doc_a, doc_b)`` pairs with word-n-gram Jaccard.

    The shingle sets join onto the pair list (two hash joins on the id),
    so the quadratic work is bounded by |candidates|, never |docs|^2.
    """
    sh = F.array_distinct(word_shingles(text_col, k=ngram))
    base = df.select(F.col(id_col).alias("__id"), sh.alias("__sh"))
    a = base.select(F.col("__id").alias("doc_a"), F.col("__sh").alias("sh_a"))
    b = base.select(F.col("__id").alias("doc_b"), F.col("__sh").alias("sh_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "doc_a", "doc_b", F.when(union > 0, inter / union).alias("jaccard")
    )


def drop_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    ngram: int = 3,
) -> DataFrame:
    """The full near-dedup pipeline: MinHash-LSH candidate generation →
    exact Jaccard verification → greedy keep-lowest-id.

    Greedy rule: any doc verified ≥ ``threshold``-similar to a LOWER-id
    doc is dropped (the corpus-dedup standard — full transitive
    clustering needs iterative connected components, which buys little
    for near-exact thresholds). Cost at scale: one signature projection,
    one band-bucket self-join (|candidates| pairs), two id-hash joins for
    verification, one anti-join — no all-pairs stage anywhere.
    """
    cands = lsh_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_k
    )
    scored = jaccard_for_pairs(df, cands, id_col, text_col, ngram)
    # lsh_candidate_pairs emits doc_a < doc_b, so doc_b is always the
    # higher id — the one the greedy rule drops.
    drop_ids = (
        scored.filter(F.col("jaccard") >= threshold)
        .select(F.col("doc_b").alias(id_col))
        .distinct()
    )
    return df.join(drop_ids, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# Connected components (dedup cluster assignment)
# --------------------------------------------------------------------------

def _persistent_rdd_ids(sc) -> set[int]:
    """Ids of every RDD the JVM currently holds persisted (cache or
    local-checkpoint blocks). ``DataFrame.unpersist()`` only clears
    CacheManager entries, so local-checkpoint persists are invisible to
    it — this JVM-level census is the only way to see (and free) them."""
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _unpersist_rdd_ids(sc, ids) -> None:
    """Free persisted RDDs by id at the JVM level. A freed
    local-checkpoint RDD is NOT recomputable (lineage was truncated), so
    call only once nothing will read the blocks again."""
    m = sc._jsc.getPersistentRDDs()
    for i in m.keySet().toArray():
        if int(i) in ids:
            m.get(i).unpersist(False)


def _hadoop_delete(sc, paths) -> None:
    """Recursively delete paths through the Hadoop FileSystem API so
    reliable-checkpoint cleanup works on whatever storage the checkpoint
    dir lives on (local FS on local[*], HDFS/S3 on a cluster)."""
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    for p in paths:
        jp = jvm.org.apache.hadoop.fs.Path(p)
        fs = jp.getFileSystem(conf)
        if fs.exists(jp):
            fs.delete(jp, True)


def _ckpt_child_dirs(sc) -> set[str]:
    """Current children of the SparkContext checkpoint dir (one
    ``rdd-<id>`` subdir per reliably-checkpointed RDD) — the file-level
    census the reliable regime diffs to find (and later delete) each
    probe round's checkpoint data, mirroring what ``_persistent_rdd_ids``
    does for in-memory local-checkpoint blocks.

    ASSUMPTION (same single-workload assumption as the RDD-id census):
    no OTHER job checkpoints into this SparkContext's checkpoint dir
    while a reliable-regime CC run is in flight — any new ``rdd-*``
    child that appears between probes is attributed to THIS run and
    deleted once the next probe lands, which would corrupt a concurrent
    checkpointing job. Callers sharing a context across workloads must
    set a run-unique ``sc.setCheckpointDir`` before calling, which
    namespaces the census trivially."""
    opt = sc._jsc.sc().getCheckpointDir()
    if opt.isEmpty():
        return set()
    jvm = sc._jvm
    root = jvm.org.apache.hadoop.fs.Path(opt.get())
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return set()
    return {st.getPath().toString() for st in fs.listStatus(root)}


def release_components(labels: DataFrame) -> None:
    """Free the cached state backing a ``connected_components`` result:
    the final local-checkpoint blocks (distributed strategy), the
    symmetrized-edge cache (local strategy), or the final round's
    checkpoint FILES plus any operator-created temp checkpoint dir
    (reliable regime). After release the frame must not be read again —
    checkpoint blocks/files cannot be recomputed, and the local-strategy
    plan would re-execute the full upstream (e.g. the LSH self-join)
    uncached. Call once the labels have been fully consumed (collected
    or written out).

    Accepts ONLY the exact frame ``connected_components`` returned: any
    transformation (select/filter/rename) produces a new DataFrame
    without the ownership markers, and silently skipping the release
    would leak the blocks until ContextCleaner GC — so that misuse
    raises instead."""
    ids = getattr(labels, "_cc_checkpoint_ids", None)
    cache = getattr(labels, "_cc_setup_cache", None)
    dirs = getattr(labels, "_cc_ckpt_dirs", None)
    tmpdir = getattr(labels, "_cc_ckpt_tmpdir", None)
    if ids is None and cache is None and dirs is None and tmpdir is None:
        raise ValueError(
            "release_components must be passed the exact DataFrame "
            "returned by connected_components (transformations drop the "
            "cache-ownership markers; release BEFORE select/filter/etc, "
            "or write the labels out first)"
        )
    sc = labels.sparkSession.sparkContext
    if ids:
        _unpersist_rdd_ids(sc, ids)
    if cache is not None:
        release(cache)
    if dirs:
        _hadoop_delete(sc, dirs)
    if tmpdir is not None:
        import shutil

        shutil.rmtree(tmpdir, ignore_errors=True)


def materialize_labels(labels: DataFrame) -> DataFrame:
    """Parquet-materialize a ``connected_components`` result under a
    per-application atexit-cleaned parent and hand back the FileScan.

    The production move for labels at any scale (write them out, then
    :func:`release_components`), and the move that keeps Python stages
    out of DOWNSTREAM plans: the local CC strategy is a single
    ``mapInPandas`` task, so a registered query composing raw labels
    would carry MapInPandas in its physical plan — the JVM-purity sweep
    (tests/test_scale_plans.py) bars that outside the explicitly
    vectorized multimodal surface. The parent is per-application; the
    target is a fresh ``mkdtemp`` per call (two concurrent sessions can
    never clobber each other), and cleanup is deferred to interpreter
    exit so frames returned by EARLIER calls stay readable — an eager
    delete broke composed entries' lineage with FILE_NOT_EXIST
    (VERDICT r13 item 1b). Label tables are doc-count-sized parquet
    (KBs at test scale), so session-lifetime accretion is bounded."""
    import atexit
    import os
    import shutil
    import tempfile

    spark = labels.sparkSession
    parent = os.path.join(
        tempfile.gettempdir(),
        f"tj_cc_labels_{spark.sparkContext.applicationId}",
    )
    os.makedirs(parent, exist_ok=True)
    if parent not in _LABEL_PARENTS:
        atexit.register(shutil.rmtree, parent, ignore_errors=True)
        _LABEL_PARENTS.add(parent)
    out = tempfile.mkdtemp(dir=parent)
    labels.write.mode("overwrite").parquet(out)
    release_components(labels)
    return spark.read.parquet(out).select("node", "component_id")


# Application-scoped label parents already scheduled for atexit cleanup
# (one registration per parent per module; rmtree is idempotent).
_LABEL_PARENTS: set = set()


# Edge count at or below which the whole component computation runs as
# one executor-side task. Originally 2M (the partition-sized figure at
# which iterating is pure job-barrier overhead); raised to 16M in round
# 8 when the single-task core became vectorized pointer jumping
# (numpy_min_label_components): measured 0.7 s at 2.6M symmetrized
# edges vs 12-15 s for the 32-core distributed loop on the same graph,
# and ~6 s at 20M — the wall-clock crossover is far above any budget a
# single task's MEMORY can justify. 16M edges is the memory line: two
# int64 arrays (256 MB) plus ~2x transient during id compaction fits a
# standard 2-4 GB executor Python budget; the distributed loop remains
# the only shape for corpus-scale graphs beyond it.
_CC_SINGLE_TASK_EDGES = 16_000_000

# Edge rows per iteration-table partition for the distributed loop.
# NOT the same number as the single-task budget above: once the loop
# runs at all, each round does real join/aggregate work, and an
# interleaved A/B on the 2.6M-edge strain graph (SCALE.md §17) showed
# per-partition targets of 250k edges beating the old 2M target (which
# left a 32-core machine running 2-task rounds) 11.9s vs 18.1s (1.5x),
# with 125k a tie and 500k 10% behind — identical labels throughout.
# 250k keeps tasks well above scheduling noise while filling the
# machine; the shuffle-width cap still bounds it above.
_CC_EDGES_PER_PARTITION = 250_000


def union_find_labels(edge_iter) -> dict:
    """Min-representative union-find over an iterable of (n, m) pairs:
    {node: minimum reachable node}. The pure-Python core of the local
    strategy — module-level so it is property-testable without Spark
    (the executor task below feeds it Arrow batches)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for n, m in edge_iter:
        if n not in parent:
            parent[n] = n
        if m not in parent:
            parent[m] = m
        rn, rm = find(n), find(m)
        if rn != rm:
            # Union by MIN id so the final find() chain always
            # terminates at the component's minimum node.
            if rn < rm:
                parent[rm] = rn
            else:
                parent[rn] = rm
    return {x: find(x) for x in parent}


def numpy_min_label_components(src, dst):
    """Vectorized min-label pointer jumping over numpy edge arrays:
    ``(nodes, labels)`` with ``labels[i]`` = minimum node reachable from
    ``nodes[i]``. The single-task strategy's core (replacing the
    per-edge Python-dict union-find, which spent ~1 us/edge on dict
    probes; this does ~0.7 s for 2.6M edges and scales linearly —
    measured 6 s at 20M). Works on integer AND string ids: internally
    labels are INDICES into the sorted unique-node array, so "min node"
    means min under numpy's sort order — identical to Python ``min``
    for both ints and strings.

    Same fixpoint argument as the distributed loop: labels start as
    self, every update takes a min over labels of reachable nodes (so
    labels always name reachable nodes and never increase), and at the
    fixpoint labels are edge-constant, hence component-constant, hence
    the component minimum. Pointer doubling (``lab[lab]``, applied
    twice per sweep) keeps convergence O(log diameter) sweeps."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    e_src = inv[: len(src)].astype(np.int64, copy=False)
    e_dst = inv[len(src):].astype(np.int64, copy=False)
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = lab
        nxt = lab.copy()
        # Scatter-min of neighbor labels in both directions (the input
        # is typically symmetrized already; doing both is a no-op then
        # and makes the core correct for raw pair lists too).
        np.minimum.at(nxt, e_dst, lab[e_src])
        np.minimum.at(nxt, e_src, lab[e_dst])
        lab = nxt[nxt]
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, prev):
            break
    return nodes, nodes[lab]


def _cc_union_find_single_task(sym: DataFrame) -> DataFrame:
    """Connected components over the full symmetrized edge list in ONE
    executor task (``coalesce(1)`` + ``mapInPandas`` running
    :func:`numpy_min_label_components`): exact min-reachable-node
    labels, no driver collect, one job instead of the loop's ~8."""
    import numpy as np
    import pandas as pd

    id_type = sym.schema["n"].dataType
    out_schema = T.StructType(
        [
            T.StructField("node", id_type, False),
            T.StructField("component_id", id_type, False),
        ]
    )

    def run(batches):
        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["n"].to_numpy())
            dsts.append(pdf["m"].to_numpy())
        if not srcs:
            yield pd.DataFrame({"node": [], "component_id": []})
            return
        nodes, labels = numpy_min_label_components(
            np.concatenate(srcs), np.concatenate(dsts)
        )
        yield pd.DataFrame({"node": nodes, "component_id": labels})

    return sym.coalesce(1).mapInPandas(run, schema=out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    reliable: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """(node, component_id) for every node in ``edges``, where
    component_id is the MINIMUM node id reachable in the undirected
    graph — the canonical cluster representative for near-dup groups
    (greedy keep-the-smallest-id dedup falls out of it directly).

    ``strategy`` picks the execution shape (``"auto"`` by size, or pin
    ``"distributed"`` / ``"local"``):

    * ``"local"`` — ONE executor-side task runs vectorized min-label
      pointer jumping (:func:`numpy_min_label_components`) over the
      whole (symmetrized) edge list via ``mapInPandas`` after a
      ``coalesce(1)``. Chosen by auto when the edge count fits the
      single-task MEMORY budget (``_CC_SINGLE_TASK_EDGES`` = 16M sym
      edges ~ 256 MB of int64 arrays): measured 0.7 s at 2.6M edges
      and 6 s at 20M on one core, vs 12-15 s for the 32-core
      distributed loop at 2.6M — below the memory line the single task
      always wins, because the loop's per-round join/aggregate
      barriers dominate. No driver collect — the work runs where the
      data is, and the result is a plain unpersisted DataFrame.
    * ``"distributed"`` — the iterative loop below; the only shape
      that works when the candidate graph itself is beyond one
      executor (billions of LSH pairs at corpus scale). Auto picks it
      above the threshold. Both strategies return identical labels
      (equality-tested), so auto is a performance dial, never a
      semantics one.

    Iterative min-label propagation with pointer-doubling: each round
    every node adopts the smallest label in its CLOSED neighborhood,
    then shortcuts ``lab(n) := lab(lab(n))`` — labels are node ids and
    ``lab(x) <= x``, so the shortcut halves chain depth every round and
    convergence is O(log diameter) rounds, not O(diameter) (an LSH
    graph over boilerplate-heavy corpora can chain hundreds of hops;
    plain propagation measurably crawled there). The closed
    neighborhood comes from self-loop edges added ONCE up front, so a
    round is join + groupBy-min — two shuffles, where the
    neighbors-then-least formulation this replaced needed a third
    (measured at sf0.1: ~25% of the operator's wall clock; iteration
    rounds at small scale are stage-barrier-bound, so shuffles per
    round ARE the wall clock). ONE doubling hop per round: a second
    hop measured round-count-neutral on the LSH graph and its extra
    self-join cost ~2 s/run, and at 20.8M edges two hops were slower
    too (SCALE.md §16, §22). The convergence probe exploits
    monotonicity: per-node labels never increase, so ``sum(lab)`` is
    unchanged iff NO label changed — one scan-and-aggregate of the
    checkpointed label table (no join against the previous round's
    labels, no extra shuffle).

    Labels are checkpointed and probed every round to truncate lineage
    (each round references the previous label table twice — the
    neighborhood join and the doubling self-join — so the un-truncated
    plan tree doubles per round). Probing every other round measured
    ~1.4x SLOWER at sf0.1 (SCALE.md §16): the unmaterialized round's
    pointer-doubling subtree is not deduplicated by exchange reuse, so
    its join work executes twice.

    Checkpoint regimes: ``reliable=False`` (default) uses
    ``localCheckpoint`` — fastest, but blocks live only on their
    executor, so an executor loss kills the job; fine on local[*].
    ``reliable=True`` writes each round's labels to the SparkContext
    checkpoint dir (set one via ``sc.setCheckpointDir``; falls back to
    a process-local temp dir, which is only correct single-node) —
    survives executor loss, the right regime for a long dedup job on a
    1000-executor cluster with dynamic allocation or spot instances.

    Cache contract: ``DataFrame.unpersist()`` cannot free
    local-checkpoint blocks (they bypass the CacheManager), so stale
    rounds are freed JVM-side by RDD id as soon as their successor is
    materialized. The RETURNED frame is backed by the final
    checkpoint's blocks; callers that are done reading it should pass
    it to :func:`release_components`, after which it must not be read
    again. If never released, the blocks live until the session's
    ContextCleaner garbage-collects the frame.

    Raises ``RuntimeError`` if labels are still changing when
    ``max_iter`` is exhausted — returning silently would violate the
    component_id = minimum-reachable-node invariant for chains deeper
    than ``max_iter`` hops.
    """
    # Symmetrize with ONE pass over the edge plan: a union of two selects
    # would execute the (possibly expensive — e.g. an LSH self-join)
    # upstream plan twice; explode duplicates each row map-side instead.
    # sym itself is persisted for the setup phase: nodes AND withself both
    # read it, and without the cache each would re-execute the upstream
    # plan (the LSH self-join ran twice per call before this — measured
    # at sf0.1 it was the largest single cost of the operator).
    sym = persist(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("n"), F.col(dst).alias("m")),
                    F.struct(F.col(dst).alias("n"), F.col(src).alias("m")),
                )
            ).alias("__e")
        ).select("__e.n", "__e.m")
    )
    # One action materializes the upstream plan AND yields the edge count
    # used to pick the strategy and size the iteration tables below.
    n_sym = sym.count()
    if strategy not in ("auto", "local", "distributed"):
        raise ValueError(f"unknown connected_components strategy {strategy!r}")
    if strategy == "auto":
        strategy = "local" if n_sym <= _CC_SINGLE_TASK_EDGES else "distributed"
    if strategy == "local":
        out = _cc_union_find_single_task(sym)
        # Materializing through a checkpoint-free plan would re-run the
        # (possibly expensive) upstream on every downstream action; the
        # single task is cheap, so just leave the plan lazy and drop the
        # setup cache once the caller's first action has run. Callers
        # that need multiple actions over the labels should cache the
        # result themselves; sym stays persisted until release.
        out._cc_setup_cache = sym
        return out
    nodes = persist(sym.select("n").distinct())
    # Self-loops fold "own label" into the neighborhood aggregate, so
    # each round's closed-neighborhood minimum is ONE join + groupBy
    # (no separate least(own, neighbor_min) join).
    withself = sym.union(nodes.select("n", F.col("n").alias("m")))
    labels = nodes.withColumn("lab", F.col("n"))

    # Size the iteration tables to the GRAPH, not to the session default:
    # every round launches one map task per cached partition of the edge
    # and label tables, so a small graph that inherits the session's full
    # shuffle width (64 map tasks for a few-MB cache at local[32]) makes
    # the loop pure task-scheduling overhead — rounds are action-barrier
    # bound, so task count per round IS the wall clock. Partitions target
    # _CC_EDGES_PER_PARTITION edges each (sized from the already-counted
    # symmetric edge table; self-loops add at most one row per node,
    # sizing is a heuristic), capped by the configured shuffle width so cluster-scale
    # graphs keep their parallelism. The narrowing is decided BEFORE
    # anything is persisted so the wide variants never materialize.
    # Measured at sf0.1 (58k LSH pairs): loop 8.2 s -> 3.5 s, identical
    # labels. Target per partition: _CC_EDGES_PER_PARTITION (250k, A/B
    # at 2.6M strain edges — see the constant's comment).
    cap = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    parts = max(1, min(cap, int(n_sym // _CC_EDGES_PER_PARTITION) + 1))
    if parts < withself.rdd.getNumPartitions():
        withself = withself.repartition(parts, "m")
        labels = labels.repartition(parts, "n")
    withself = persist(withself)
    labels = persist(labels)
    # Seed the monotone probe with the initial label sum so a round that
    # changes nothing is detected immediately. Padding the edge table
    # into the same aggregate (NULL labels are sum-neutral) makes this
    # ONE action that materializes BOTH iteration caches off the cached
    # sym — the whole setup phase is two jobs: sym.count() + this.
    prev_sum = (
        labels.select("lab")
        .unionByName(withself.select(F.lit(None).cast("long").alias("lab")))
        .agg(F.sum("lab"))
        .collect()[0][0]
        or 0
    )
    release(sym)
    sc = edges.sparkSession.sparkContext
    own_tmpdir: str | None = None
    if reliable and sc._jsc.sc().getCheckpointDir().isEmpty():
        import tempfile

        # Single-node fallback ONLY: on a cluster the checkpoint dir
        # must be shared storage (HDFS/S3) — set it up front. The dir is
        # operator-owned and rmtree'd by release_components; reliable
        # checkpoint FILES (one label table per round) are deleted
        # as each round is superseded, so repeated calls don't accrete
        # a machine-lifetime pile of checkpoint data.
        own_tmpdir = tempfile.mkdtemp(prefix="cc-ckpt-")
        sc.setCheckpointDir(own_tmpdir)

    converged = False
    # Every persisted-RDD id the JVM holds right now (the setup caches,
    # plus whatever else the session has cached). Anything that appears
    # AFTER a probe materializes is that probe's checkpoint blocks —
    # the previous probe's blocks are then freed JVM-side by id, since
    # DataFrame.unpersist() cannot see local-checkpoint persists.
    # Id-diffing assumes no concurrent caching in the same session
    # during the loop (true for this engine's single-query entries).
    known_ids = _persistent_rdd_ids(sc)
    ckpt_ids: set[int] = set()
    # Reliable regime twin of the id census: which rdd-<id> subdirs the
    # checkpoint dir holds now. Fresh dirs after a probe are that
    # round's files; the previous round's files are then unreferenced
    # (lineage was truncated) and deleted through the Hadoop FS API.
    known_dirs = _ckpt_child_dirs(sc) if reliable else set()
    ckpt_dirs: set[str] = set()
    init_labels = labels
    for _ in range(max_iter):
        new_labels = (
            withself.join(labels.withColumnRenamed("n", "m"), on="m")
            .groupBy("n")
            .agg(F.min("lab").alias("lab"))
        )
        # Pointer doubling: follow each node's label one more hop
        # (labels ARE node ids, and every label value appears as a node
        # in new_labels, so the lookup is a self-join on the label).
        # lab(x) <= x guarantees the hop never increases a label.
        parent = new_labels.select(
            F.col("n").alias("lab"), F.col("lab").alias("lab2")
        )
        new_labels = new_labels.join(parent, on="lab", how="left").select(
            "n", F.coalesce(F.col("lab2"), F.col("lab")).alias("lab")
        )
        # Checkpoint truncates the lineage, which otherwise doubles per
        # round (two references to the previous labels). eager=False so
        # the probe below is what materializes it; localCheckpoint
        # persists its RDD itself — an extra .persist() would just
        # orphan a cache entry per round.
        if reliable:
            labels = new_labels.checkpoint(eager=False)
        else:
            labels = new_labels.localCheckpoint(eager=False)
        cur_sum = labels.agg(F.sum("lab")).collect()[0][0] or 0
        # The probe materialized this round's checkpoint; the previous
        # round's blocks and the initial label cache (a no-op release
        # after the first round) are unreachable — free them now.
        release(init_labels)
        now_ids = _persistent_rdd_ids(sc)
        fresh = now_ids - known_ids
        _unpersist_rdd_ids(sc, ckpt_ids)
        known_ids = (known_ids | fresh) - ckpt_ids
        ckpt_ids = fresh
        if reliable:
            now_dirs = _ckpt_child_dirs(sc)
            fresh_dirs = now_dirs - known_dirs
            _hadoop_delete(sc, ckpt_dirs)
            known_dirs = (known_dirs | fresh_dirs) - ckpt_dirs
            ckpt_dirs = fresh_dirs
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    release(withself)
    release(nodes)
    if not converged:
        _unpersist_rdd_ids(sc, ckpt_ids)
        if reliable:
            _hadoop_delete(sc, ckpt_dirs)
            if own_tmpdir is not None:
                import shutil

                shutil.rmtree(own_tmpdir, ignore_errors=True)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "— raise max_iter (each round covers one hop of graph "
            "diameter)"
        )
    out = labels.select(
        F.col("n").alias("node"), F.col("lab").alias("component_id")
    )
    # Ownership handoff: the final checkpoint's blocks (and, reliable
    # regime, the final round's checkpoint files + the operator-created
    # temp dir) back `out`. release_components(out) frees them once the
    # caller is done.
    out._cc_checkpoint_ids = frozenset(ckpt_ids)
    if reliable:
        out._cc_ckpt_dirs = frozenset(ckpt_dirs)
        out._cc_ckpt_tmpdir = own_tmpdir
    return out


# --------------------------------------------------------------------------
# Prefix-filtering set-similarity join (PPJoin-style, hash-free)
# --------------------------------------------------------------------------

# --- Dictionary-encoded exact set verification (round 18) ------------------
#
# Both prefix-filter self-joins (Jaccard and containment) end in the same
# verify stage: attach each candidate doc's distinct-token SET and size the
# intersection exactly. Round 18 measurement (guide §1/§2.3): with the sets
# materialized as sorted STRING arrays, array_intersect hash-builds per-row
# over UTF8Strings — 3.27 s for the 6.1 M Jaccard candidates at sf0.1, the
# single heaviest stage in the bench. The same intersection over dense INT
# dictionary ids measured 1.20 s, and over fixed-width BITSETS 0.39 s, with
# bit-identical outputs (the dictionary is a bijection, so every count —
# n_inter, sizes, union — is unchanged).
#
# Tiering (size-dispatched like the CC/trainer strategies):
#   * vocab <= _VERIFY_BITSET_MAX_TERMS: each set is ceil(vocab/64) longs;
#     n_inter = sum(bit_count(a & b)) — O(words) per pair, no hashing, no
#     allocation. This is classic bitmap set intersection (dictionary +
#     bitset), exact by construction.
#   * vocab <= _VERIFY_DICT_MAX_TERMS: sets are int arrays; array_intersect
#     hashes ints instead of strings and every shuffle/broadcast payload
#     narrows by ~term-length bytes per element (guide §2.3 narrower types).
#   * above: the original string path, unchanged — the dictionary needs one
#     vocab-global row_number (a single-partition sort of the DISTINCT
#     terms, the same corpus-global state the rarest-first df order already
#     is), which is the right trade only while the vocabulary is bounded;
#     an unbounded shingle vocabulary at lake scale keeps the string path.
#
# The dictionary id is row_number over (df, term) — exactly the global
# rarest-first order the prefix filter already sorts by, so the per-doc
# prefix ranks fall out of ordering by __tid directly (one join fewer than
# the string path's toks⋈dfreq).

_VERIFY_BITSET_MAX_TERMS = 4096
_VERIFY_DICT_MAX_TERMS = 1 << 22

def _term_dictionary(dfreq: DataFrame) -> DataFrame:
    """(__term, __tid, __df): dense 1-based ids in rarest-first
    (df, term) order. One vocab-global row_number — vocabulary-sized
    corpus state, recomputed per snapshot like the df order itself."""
    from pyspark.sql import Window as _W

    return dfreq.select(
        "__term",
        F.row_number().over(_W.orderBy("__df", "__term")).alias("__tid"),
        "__df",
    )


def _set_reprs_int(toks_i: DataFrame, n_vocab: int):
    """Per-doc exact-set representation over dictionary ids.

    ``toks_i`` is the dictionary-encoded postings frame ``(__id,
    __term)`` with ``__term`` already an int id in 1..n_vocab. Returns
    ``(reps, inter)``: ``reps`` = persisted ``(__id, __rep, __sz)`` and
    ``inter(a, b)`` = a BIGINT Column sizing the exact intersection of
    two ``__rep`` values. Bitset tier when the whole dictionary fits
    ``_VERIFY_BITSET_MAX_TERMS`` bits, int arrays otherwise (both
    exact; the A/B is in SCALE.md and git history)."""
    if n_vocab <= _VERIFY_BITSET_MAX_TERMS:
        nwords = max(1, (n_vocab + 63) // 64)
        reps = toks_i.groupBy("__id").agg(
            F.expr(
                f"aggregate(collect_list(__term), array_repeat(0L, {nwords}), "
                "(acc, t) -> transform(acc, (w, i) -> "
                "CASE WHEN (t - 1) div 64 = i "
                "THEN w | shiftleft(1L, CAST((t - 1) % 64 AS INT)) "
                "ELSE w END))"
            ).alias("__rep"),
            F.count(F.lit(1)).cast("long").alias("__sz"),
        )

        def inter(a: Column, b: Column) -> Column:
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("long")

    else:
        reps = toks_i.groupBy("__id").agg(
            F.sort_array(F.collect_list("__term")).alias("__rep"),
            F.count(F.lit(1)).cast("long").alias("__sz"),
        )

        def inter(a: Column, b: Column) -> Column:
            return F.size(F.array_intersect(a, b)).cast("long")

    return persist(reps), inter


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """Exact set-similarity self-join at Jaccard >= t_num/t_den via
    PREFIX FILTERING (PPJoin family; Xiao et al., WWW'08) — the
    hash-free alternative to MinHash-LSH candidate generation: no
    false negatives by construction, so the output is the EXACT set of
    qualifying pairs (LSH trades recall for speed; this trades a
    df-ordering pass).

    The filter: under a global token order, if J(x, y) >= t then the
    two sets must share at least one token among each set's first
    |s| - ceil(t*|s|) + 1 tokens (pigeonhole over the required overlap
    ceil(t*|s|), which J >= t forces on BOTH sets since
    i >= t*(|x|+|y|)/(1+t) >= t*max(|x|, |y|)). Ordering tokens
    rarest-first makes prefixes land on low-df tokens, so the
    candidate self-join fans out per RARE token — the same
    per-key-bounded blow-up pattern as the LSH band join, but with a
    provable completeness guarantee.

    All arithmetic is integer: the threshold is the rational
    t_num/t_den, required overlap is ceil(t*s) = (t_num*s + t_den - 1)
    div t_den, and the final J >= t test is cross-multiplied
    (den*inter >= num*(union)) so no float ever decides membership.

    Round-14 rewrite (measured on the small-vocabulary corpus, where
    bare prefix filtering degenerates — a 31-word vocabulary makes
    every "rare" token's posting list corpus-sized and 24% of ALL doc
    pairs genuinely qualify at t=4/5): the candidate join now carries
    PPJoin's LENGTH filter (J >= t forces t*max(|A|,|B|) <=
    min(|A|,|B|)) and POSITIONAL filter (for the globally-first shared
    token at prefix ranks (ra, rb): overlap <= 1 + min(|A|-ra, |B|-rb),
    which must reach ceil(t*(|A|+|B|)/(1+t)) — complete because the
    first PREFIX-shared token of a qualifying pair is its globally
    first shared token, so the bound is tight exactly where it must
    pass). Verification no longer explodes candidates x tokens through
    a shuffle aggregate: each doc's distinct-token SET is materialized
    once as a sorted array and candidates verify with
    size(array_intersect(...)) after two id-keyed joins — the verify
    stage is candidate-ROW-bounded, not candidate-x-token-bounded
    (sf0.1: 90 s -> the array form removes the ~290M-row intermediate
    entirely). Postings and prefixes persist once; both were
    recomputed up to 5x before.

    Round-18 rewrite: when the vocabulary is bounded, terms are
    dictionary-encoded to dense int ids in the global rarest-first
    (df, term) order BEFORE the rank window — the candidate join keys
    and verify sets become ints (or fixed-width bitsets when the whole
    vocabulary fits _VERIFY_BITSET_MAX_TERMS bits), which cut the
    verify stage from 3.27 s to 0.39 s at sf0.1 with bit-identical
    output (tier rationale above _VERIFY_BITSET_MAX_TERMS).

    Construction is not lazy: it runs one eager count job
    (``dfreq.count()``, the vocabulary size) to pick the verify tier.

    At 100 TB: one token-distinct shuffle, one df aggregation, one
    (doc)-keyed window for prefix ranks, one term-keyed candidate
    self-join (length+positional pruned), two id-keyed array joins for
    exact verification. The df ordering is corpus-global state,
    recomputed per snapshot (like the adaptive stopword list) — no
    driver-side materialization anywhere.
    """
    # _ensure_parallelism (r17 optimization, guide §2.5 input skew): a
    # single-file corpus scans as ONE split, so the tokenize+explode
    # that populates the persisted postings ran as one task (measured
    # 4.5x slower than spread on the 13-gram twin); no-op when the
    # input is already well-split.
    toks = persist(
        _ensure_parallelism(df).select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.array_distinct(
                    F.when(
                        F.trim(F.col(text_col)) == "", F.array()
                    ).otherwise(
                        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
                    )
                )
            ).alias("__term"),
        )
    )
    dfreq = toks.groupBy("__term").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    from pyspark.sql import Window as _W

    # Dictionary-encode when the vocabulary is bounded (r18, see the
    # tier rationale above _VERIFY_BITSET_MAX_TERMS): the count is one
    # aggregate over the persisted postings, vocabulary-sized output.
    n_vocab = dfreq.count()
    if n_vocab <= _VERIFY_DICT_MAX_TERMS:
        # __tid ascends in (df, term) order, so ordering by __tid IS
        # the rarest-first order — the rank window drops the dfreq
        # join the string path needs.
        toks_w = persist(
            toks.join(_term_dictionary(dfreq), "__term").select(
                "__id", F.col("__tid").alias("__term")
            )
        )
    else:
        toks_w = toks
    sizes = toks_w.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("__sz")
    )
    if n_vocab <= _VERIFY_DICT_MAX_TERMS:
        rn = F.row_number().over(_W.partitionBy("__id").orderBy("__term"))
        ranked = toks_w.join(sizes, "__id").select(
            "__id", "__term", "__sz", rn.alias("__rn")
        )
    else:
        rn = F.row_number().over(
            _W.partitionBy("__id").orderBy("__df", "__term")
        )
        ranked = (
            toks_w.join(dfreq, "__term")
            .join(sizes, "__id")
            .select("__id", "__term", "__sz", rn.alias("__rn"))
        )
    # Required overlap ceil(t*sz) and prefix length, exact integers:
    # ceil(a/b) for positive ints spelled (a + b - 1) div b.
    # Integer `div` keeps ceil(t*sz) exact by construction (ADVICE
    # r12: floor of a double quotient is only exact below 2^53).
    req = F.expr(f"({t_num}L * __sz + {t_den - 1}L) div {t_den}L").cast(
        "long"
    )
    prefix = persist(
        ranked.filter(
            F.col("__rn") <= F.col("__sz") - req + F.lit(1)
        ).select("__id", "__term", "__rn", "__sz")
    )
    # Spread the candidate fan-out (guide §2.5): the prefix table is
    # window output whose upstream partitioning AQE legitimately
    # coalesces to ~1 partition at this size — but the prefix x prefix
    # broadcast join below fans each prefix row out by its posting list
    # (12.6M rows from 26k at sf0.1), so an under-split stream side
    # serializes the join AND the pair-distinct on one core (measured
    # 8.5 s single-task vs 0.9 s spread). No-op when already well-split.
    pa = _ensure_parallelism(prefix).select(
        F.col("__id").alias("doc_a"),
        "__term",
        F.col("__rn").alias("__ra"),
        F.col("__sz").alias("__sza"),
    )
    pb = prefix.select(
        F.col("__id").alias("doc_b"),
        "__term",
        F.col("__rn").alias("__rb"),
        F.col("__sz").alias("__szb"),
    )
    # Pair-level required overlap ceil(t*(sza+szb)/(1+t)), integer.
    pair_req = F.expr(
        f"({t_num}L * (__sza + __szb) + {t_num + t_den - 1}L)"
        f" div {t_num + t_den}L"
    )
    cand = (
        pa.join(pb, "__term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # Length filter: J >= t forces t*max <= min.
        .filter(
            F.lit(t_num) * F.greatest("__sza", "__szb")
            <= F.lit(t_den) * F.least("__sza", "__szb")
        )
        # Positional filter: overlap <= 1 + min(remaining suffix) must
        # reach the pair's required overlap for SOME shared prefix
        # token; the globally-first shared token of a qualifying pair
        # always passes, so keeping any-pass candidates is complete.
        .filter(
            F.lit(1)
            + F.least(
                F.col("__sza") - F.col("__ra"),
                F.col("__szb") - F.col("__rb"),
            )
            >= pair_req
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Exact verification over materialized per-doc SETS: two id-keyed
    # joins, intersection sized per candidate ROW (no candidate x token
    # explode, no shuffle aggregate). Representation is dictionary-
    # tiered (r18: bitset / int array / string array — see
    # _set_reprs_int); persisted ONCE (r17, guide §2.4: collect_list
    # has no map-side reduction, so an un-persisted aggregate would be
    # recomputed — full token-payload shuffle and all — on BOTH verify
    # sides; one aggregate serves both joins).
    if n_vocab <= _VERIFY_DICT_MAX_TERMS:
        tok_sets, inter_fn = _set_reprs_int(toks_w, n_vocab)
        tok_sets = tok_sets.withColumnRenamed("__rep", "__set")
    else:
        tok_sets = persist(
            toks_w.groupBy("__id").agg(
                F.sort_array(F.collect_list("__term")).alias("__set"),
                F.count(F.lit(1)).cast("long").alias("__sz"),
            )
        )

        def inter_fn(a: Column, b: Column) -> Column:
            return F.size(F.array_intersect(a, b)).cast("long")

    sa = tok_sets.select(
        F.col("__id").alias("doc_a"),
        F.col("__set").alias("__seta"),
        F.col("__sz").alias("sz_a"),
    )
    sb = tok_sets.select(
        F.col("__id").alias("doc_b"),
        F.col("__set").alias("__setb"),
        F.col("__sz").alias("sz_b"),
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", inter_fn(F.col("__seta"), F.col("__setb")))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    # Membership decided by exact cross-multiplication, never a float.
    return scored.filter(
        F.lit(t_den) * F.col("n_inter") >= F.lit(t_num) * union
    ).select(
        "doc_a",
        "doc_b",
        "n_inter",
        "sz_a",
        "sz_b",
        F.round(F.col("n_inter").cast("double") / union.cast("double"), 6)
        .alias("jaccard"),
    )


def _containment_candidate_stages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    t_num: int,
    t_den: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared front half of the prefix-filtered containment join:
    returns ``(toks, sizes, cand, n_vocab)`` — the persisted shingle
    postings (dictionary-encoded to int ids when the shingle vocabulary
    is bounded — r18, see _VERIFY_BITSET_MAX_TERMS), the per-doc
    distinct-shingle sizes, the (doc_a, doc_b) candidate pairs from the
    A-prefix x B-full-postings join, and the measured vocabulary size
    (which tier the postings are in). Split out so the guardrail strain
    (strain.py) can count the candidate-join input the verify stage
    would have to pay for, without duplicating the pipeline or running
    the verify."""
    sh = F.array_distinct(word_shingles(F.lower(F.col(text_col)), k=ngram))
    # The postings frame feeds SIX consumers (df counts, sizes, ranks,
    # the candidate B side, both verify sides); without a persist each
    # re-runs the split+shingle explode over the corpus. Measured at
    # sf0.1: 5.5 -> ~3 s. At 100 TB the same reuse is a checkpointed
    # intermediate table rather than executor memory.
    # (r17 A/B: _ensure_parallelism on this explode LOST at sf0.1 —
    # 1.92 -> 2.53 s: the keyless repartition's text shipping + its
    # sort-before-repartition cost more than the single-task 3-gram
    # explode it parallelizes. The Jaccard twin's unigram explode WON
    # with the same spread — the discriminator is per-row Generate
    # compute vs repartition cost. Left un-spread deliberately.)
    toks = persist(
        df.select(F.col(id_col).alias("__id"), F.explode(sh).alias("__term"))
    )
    dfreq = toks.groupBy("__term").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    from pyspark.sql import Window as _W

    # Dictionary-encode when the shingle vocabulary is bounded (r18,
    # same tiering as the Jaccard twin — rationale above
    # _VERIFY_BITSET_MAX_TERMS): int join keys + int verify sets.
    n_vocab = dfreq.count()
    if n_vocab <= _VERIFY_DICT_MAX_TERMS:
        toks_w = persist(
            toks.join(_term_dictionary(dfreq), "__term").select(
                "__id", F.col("__tid").alias("__term")
            )
        )
    else:
        toks_w = toks
    sizes = toks_w.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("__sz")
    )
    if n_vocab <= _VERIFY_DICT_MAX_TERMS:
        rn = F.row_number().over(_W.partitionBy("__id").orderBy("__term"))
        ranked = toks_w.join(sizes, "__id").select(
            "__id", "__term", "__sz", rn.alias("__rn")
        )
    else:
        rn = F.row_number().over(
            _W.partitionBy("__id").orderBy("__df", "__term")
        )
        ranked = (
            toks_w.join(dfreq, "__term")
            .join(sizes, "__id")
            .select("__id", "__term", "__sz", rn.alias("__rn"))
        )
    # Integer `div` keeps ceil(t*sz) exact by construction (ADVICE
    # r12: floor of a double quotient is only exact below 2^53).
    req = F.expr(f"({t_num}L * __sz + {t_den - 1}L) div {t_den}L").cast(
        "long"
    )
    prefix = ranked.filter(
        F.col("__rn") <= F.col("__sz") - req + F.lit(1)
    ).select(F.col("__id").alias("doc_a"), "__term")

    # A-prefix × B-full candidate join (a != b; both directions kept —
    # containment is directional). The A side is spread first (guide
    # §2.5, same rationale as the Jaccard twin): window output AQE-
    # coalesces to ~1 partition at this size, which would serialize the
    # posting-list fan-out and the pair-distinct on one core.
    cand = (
        _ensure_parallelism(prefix).join(
            toks_w.select(F.col("__id").alias("doc_b"), "__term"), "__term"
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return toks_w, sizes, cand, n_vocab


def containment_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """The candidate-pair stage of
    :func:`prefix_filter_containment_pairs` alone — what the exact
    verify stage would have to process. The guardrail strain counts
    this on raw vs canonicalized corpora to show canonicalize-first
    shrinks the verify input, not just the final output. Construction
    runs one eager count job (``dfreq.count()`` in
    :func:`_containment_candidate_stages`) to pick the verify tier."""
    _, _, cand, _ = _containment_candidate_stages(
        df, id_col, text_col, ngram, t_num, t_den
    )
    return cand


def prefix_filter_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """Exact ASYMMETRIC containment self-join at C(a→b) >= t_num/t_den,
    where C(a→b) = |A∩B| / |A| over distinct word-``ngram`` shingle
    sets — the near-dup relation Jaccard misses: a short document
    quoted wholesale inside a long one has high containment but low
    Jaccard (the union is dominated by the long side). Training-data
    pipelines use this to drop subsumed fragments while keeping the
    superset document.

    Prefix filter, containment form: order shingles rarest-first
    (global (df, term) order). If |A∩B| >= ceil(t*|A|) then B must hit
    at least one of A's first |A| - ceil(t*|A|) + 1 shingles
    (pigeonhole) — so candidates come from joining A's PREFIX postings
    against B's FULL postings. Unlike the Jaccard variant there is no
    size bound on B, hence no prefix on the B side; completeness is
    exact, zero false negatives by construction.

    All membership arithmetic is integer: required overlap is
    ceil(t*|A|) = (t_num*|A| + t_den - 1) div t_den and the final test
    is cross-multiplied (t_den * inter >= t_num * |A|); the reported
    ``containment_milli`` is BIGINT `div` too.

    At 100 TB: same stage shape as :func:`prefix_filter_jaccard_pairs`
    — one shingle-distinct shuffle, one df aggregation, one per-doc
    window for prefix ranks, one term-keyed candidate join (fan-out
    bounded per RARE term), two id-keyed joins for exact verification.
    Output pairs are ordered (doc_a = the contained side), both
    directions emitted independently.

    Construction runs one eager count job (``dfreq.count()`` in
    :func:`_containment_candidate_stages`) to pick the verify tier.
    """
    toks, sizes, cand, n_vocab = _containment_candidate_stages(
        df, id_col, text_col, ngram, t_num, t_den
    )
    # Exact verification over materialized shingle SETS (round 14, same
    # move as the Jaccard variant): one set representation per doc, two
    # id-keyed joins, intersection sized per candidate ROW — replaces
    # the candidates x shingles explode through a shuffle aggregate,
    # which dominated the wall in the copy-inflated output-bound regime
    # (sf1.0 rung: 198 s direct). Representation is dictionary-tiered
    # (r18: bitset / int array / string array — see _set_reprs_int).
    # Persisted ONCE (r17 optimization, guide §2.4): collect_list has no
    # map-side reduction, so without the persist both verify sides
    # re-shuffle the full shingle payload and re-sort every array
    # (2 ObjectHashAggregate subtrees → 1; sf0.1 A/B in plans/r17/).
    if n_vocab <= _VERIFY_DICT_MAX_TERMS:
        shingle_sets, inter_fn = _set_reprs_int(toks, n_vocab)
        shingle_sets = shingle_sets.withColumnRenamed("__rep", "__set")
    else:
        shingle_sets = persist(
            toks.groupBy("__id").agg(
                F.sort_array(F.collect_list("__term")).alias("__set"),
                F.count(F.lit(1)).cast("long").alias("__sz"),
            )
        )

        def inter_fn(a: Column, b: Column) -> Column:
            return F.size(F.array_intersect(a, b)).cast("long")

    sa = shingle_sets.select(
        F.col("__id").alias("doc_a"),
        F.col("__set").alias("__seta"),
        F.col("__sz").alias("sz_a"),
    )
    sb = shingle_sets.select(
        F.col("__id").alias("doc_b"), F.col("__set").alias("__setb")
    )
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", inter_fn(F.col("__seta"), F.col("__setb")))
    )
    return (
        inter
        .filter(F.lit(t_den) * F.col("n_inter") >= F.lit(t_num) * F.col("sz_a"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "sz_a",
            (F.col("n_inter") * F.lit(1000)).cast("long").alias("__num"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "sz_a",
            F.expr("__num div sz_a").cast("long").alias("containment_milli"),
        )
    )


def canonicalize_near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rank_col: str = "n_chars",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """DataFrame-level near-dup cluster canonicalization: LSH candidate
    graph → connected components → ONE canonical survivor per cluster
    (largest ``rank_col``, ``id_col`` tie-break — the C4/RefinedWeb
    keep rule), singletons surviving as their own canonicals.

    Returns (component_id, canonical_doc_id, canonical_{rank_col},
    n_members). The registry entry ``dedup_cluster_canonicalize``
    composes the same stages with parquet-materialized labels; this
    function is the reusable building block for arbitrary frames —
    the guardrail strain runs it over synthetically inflated corpora
    to prove canonicalize-first collapses duplicate families BEFORE
    the pairwise containment join has to pay for them (SCALE.md §25b).

    Round 16 (SCALE.md §28): the connectivity graph is built with
    :func:`lsh_star_edges`, not the all-pairs candidate join — the
    pair table is quadratic in family size (the ONLY super-unit term
    of the whole guardrail pipeline under duplicate inflation) while
    star edges are bounded by docs x bands at ANY duplicate density;
    components, and therefore the manifest, are provably identical.

    At 100 TB: one banded group+join (star edges), the size-dispatched
    CC, one broadcast-size label join, one window over
    (component, rank) — no stage is all-pairs OR all-family-pairs.
    """
    edges = lsh_star_edges(df, id_col, text_col, num_hashes, bands)
    labels = connected_components(edges, "doc_a", "doc_b")
    full = (
        df.select(F.col(id_col), F.col(rank_col))
        .join(labels, df[id_col] == labels["node"], "left")
        .select(
            F.col(id_col),
            F.col(rank_col),
            F.coalesce(F.col("component_id"), F.col(id_col)).alias(
                "component_id"
            ),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("component_id").orderBy(
        F.col(rank_col).desc(), F.col(id_col)
    )
    members = full.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    canon = (
        full.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "component_id",
            F.col(id_col).alias("canonical_doc_id"),
            F.col(rank_col).cast("long").alias(f"canonical_{rank_col}"),
        )
    )
    return canon.join(members, "component_id")


def containment_probe_corpus(
    reps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    every: int = 10,
    min_tokens: int = 5,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Union ``reps`` with deterministic contained-fragment PROBE docs:
    for every ``every``-th doc (``id % every == 0``) with at least
    ``min_tokens`` whitespace tokens, a derived doc whose text is the
    token-prefix dropping the last two tokens, id shifted by
    ``id_offset``. Every distinct shingle of a token-prefix is a
    shingle of the full doc, so C(probe -> source) = 1.0 exactly — a
    guaranteed cross-doc containment pair regardless of corpus content.

    Why this exists (VERDICT r13 item 1a): at the synthetic smoke/driver
    scales the canonical-survivor corpus happens to contain NO pair at
    80% containment, so the canonicalize-then-containment entry returned
    0 rows and its oracle check was vacuously green. A production corpus
    HAS contained fragments (quotes, excerpts, boilerplate subsets) —
    the probe set deterministically stands in for that class so the
    entry's oracle hash compares non-empty results at every scale. The
    derivation is pure Column algebra (same trim/lower/split the
    containment join itself uses) with an exact DuckDB twin
    (:func:`containment_probe_corpus_sql`).

    At 100 TB: one narrow projection over the survivor frame — no
    shuffle, no UDF; the probe rows are a fixed ~1/``every`` fraction.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    probes = (
        reps.filter(F.col(id_col) % every == 0)
        .select(F.col(id_col), toks.alias("__t"))
        .filter(F.size("__t") >= min_tokens)
        .select(
            (F.col(id_col) + F.lit(id_offset)).alias(id_col),
            F.array_join(
                F.slice(F.col("__t"), 1, F.size("__t") - 2), " "
            ).alias(text_col),
        )
    )
    # A source id >= id_offset would silently ALIAS a probe id onto a
    # real doc, corrupting the pair set and the downstream probe
    # detection (ADVICE r14). Guard in-plan (no extra action): every
    # rep row flows through this projection, so one raise covers both
    # union branches.
    id_type = reps.schema[id_col].dataType.simpleString()
    guarded_id = F.when(
        F.col(id_col) >= F.lit(id_offset),
        F.raise_error(
            F.concat(
                F.lit(
                    f"containment_probe_corpus: source {id_col} >= "
                    f"id_offset {id_offset} would alias probe ids onto "
                    "real docs (raise id_offset): "
                ),
                F.col(id_col).cast("string"),
            )
        ).cast(id_type),
    ).otherwise(F.col(id_col))
    return reps.select(
        guarded_id.alias(id_col), F.col(text_col)
    ).unionByName(probes)


def containment_probe_corpus_sql(
    docs_cte: str = "docs",
    id_col: str = "doc_id",
    text_col: str = "text",
    every: int = 10,
    min_tokens: int = 5,
    id_offset: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`containment_probe_corpus` as a SELECT over
    an existing CTE/table named ``docs_cte`` with (id, text) columns —
    splice into a WITH chain. Same tokenization, same prefix rule, same
    id shift — and the same aliasing guard (ADVICE r14): a source id
    >= id_offset fails the query loudly in BOTH engines."""
    return f"""
      SELECT CASE WHEN {id_col} >= {id_offset}
                  THEN CAST(error('containment_probe_corpus: source id '
                       || {id_col} || ' >= id_offset {id_offset}') AS BIGINT)
                  ELSE {id_col} END AS {id_col},
             {text_col} FROM {docs_cte}
      UNION ALL
      SELECT {id_col} + {id_offset} AS {id_col},
             array_to_string(toks[1:len(toks)-2], ' ') AS {text_col}
      FROM (
        SELECT {id_col},
               regexp_split_to_array(trim(lower({text_col})), '\\s+') AS toks
        FROM {docs_cte}
        WHERE {id_col} % {every} = 0
      )
      WHERE len(toks) >= {min_tokens}
    """


def narrow_persisted(
    df: DataFrame,
    key: str,
    rows_per_partition: int = 2_000_000,
) -> DataFrame:
    """Persist ``df`` and, when it is small relative to the session's
    shuffle width, swap in a copy repartitioned on ``key`` to
    ~``rows_per_partition`` rows each (capped by
    ``spark.sql.shuffle.partitions`` so large inputs keep their
    parallelism).

    The connected-components lesson generalized: every downstream
    stage over a cached table launches one map task per cached
    partition, so a few-MB candidate-pair table inheriting a 32-64
    partition layout makes multi-join DAGs scheduling-bound. The
    extra count is served from the cache being built anyway; the
    pre-repartition copy is released once the narrow one is built.
    """
    cached = persist(df)
    n = cached.count()
    cap = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    parts = max(1, min(cap, int(n // rows_per_partition) + 1))
    if parts < cached.rdd.getNumPartitions():
        narrow = persist(cached.repartition(parts, key))
        narrow.count()
        release(cached)
        return narrow
    return cached


def minhash_signature_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_k: int = 8,
) -> str:
    """DuckDB twin of :func:`minhash_signature_df`: CTE text producing
    (id, sh, mh0..mh{n-1}) — the signature table plus the normalized
    shingle list, for oracles that audit the signatures themselves."""
    k = shingle_k
    norm = f"regexp_replace(lower({text_col}), '[^a-z0-9]', '', 'g')"
    sh = (
        f"list_transform(range(1, greatest(length(t) - {k - 1}, 1) + 1), "
        f"i -> substr(t, i, {k}))"
    )
    groups = (num_hashes + SLICES_PER_MD5 - 1) // SLICES_PER_MD5
    md5_cols = ", ".join(
        f"list_transform(sh, x -> md5(x || ':{g}')) AS md5_{g}"
        for g in range(groups)
    )
    mh_cols = ", ".join(
        f"list_min(list_transform(md5_{i // 4}, "
        f"h -> substr(h, {(i % 4) * 8 + 1}, 8))) AS mh{i}"
        for i in range(num_hashes)
    )
    return (
        f"WITH s AS (SELECT {id_col}, {sh} AS sh FROM "
        f"(SELECT {id_col}, {norm} AS t FROM {table})), "
        f"m AS (SELECT {id_col}, sh, {md5_cols} FROM s) "
        f"SELECT {id_col}, sh, {mh_cols} FROM m"
    )
