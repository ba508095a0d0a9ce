"""Graph primitives over candidate-pair edge lists.

The near-dup candidate graph (LSH band buckets -> distinct doc pairs)
is the one graph a curation pipeline actually materializes at corpus
scale, and the statistics it asks of that graph — degree profile,
connected components, triangle density — all reduce to joins over the
(doc_a, doc_b) edge table. This module holds the shared edge-table
algorithms so harness packs can compose them without importing each
other (the r12/r13 circular-import lesson).

Scale notes (100 TB): every algorithm here is bounded by the EDGE
table, never by node-degree^2 fan-out. Triangle counting uses the
degree-oriented wedge formulation (each edge points low->high
(degree, id), wedges form only at each edge's lower endpoint), which
caps per-node wedge fan-out at O(sqrt(|E|)) — the property that keeps
it runnable when boilerplate hub documents give the candidate graph a
heavy-tailed degree distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_tj_project_spark.cache import cache_scope, persist


def _closed_triangles(pairs: DataFrame) -> DataFrame:
    """The shared core of both triangle statistics: one row
    ``(u, a, b)`` per triangle of the undirected edge list, each
    triangle produced exactly once.

    ``pairs`` must be a canonical distinct edge table with columns
    ``doc_a < doc_b``. The standard MapReduce formulation: orient
    every edge from its lower (degree, id) endpoint to its higher one,
    form wedges only at the lower endpoint of each edge pair, then
    close them with a left-semi join against the edge set. Per-node
    wedge fan-out is bounded by O(sqrt(|E|)) instead of degree^2 — on
    a graph with hub nodes the difference between a runnable job and a
    combinatorial explosion. Wedges form only at the oriented-lowest
    vertex, so no triple is double-counted. Callers should pre-narrow/
    persist ``pairs`` (see ``dedup.narrow_persisted``): the four
    downstream joins each launch one map task per cached partition.

    Factored (ADVICE r15) so the total-count and per-node entries are
    thin aggregations over the SAME frame and can never drift.
    """
    ends = pairs.select(F.col("doc_a").alias("n")).unionAll(
        pairs.select(F.col("doc_b").alias("n"))
    )
    # NOT persisted (r18 A/B): caching the degree profile dedupes the
    # ends-union subtree for the two endpoint joins, but every
    # InMemoryRelation EMBEDS its child plan text — in the composed
    # lcc-second-pass pipeline (pairs cache -> deg cache -> lcc ->
    # high/he caches -> CC) the nested plan STRING grew past the 8g
    # heap inside AdaptiveSparkPlanExec.onUpdatePlan/explainString
    # (java.lang.OutOfMemoryError building the plan text, not the
    # data). The duplicated aggregate over the cached pair table is
    # ~50 ms; the plan-text blow-up is unbounded. Left duplicated.
    deg = ends.groupBy("n").agg(F.count(F.lit(1)).alias("degree"))
    p = (
        pairs.join(deg.withColumnRenamed("n", "doc_a"), "doc_a")
        .withColumnRenamed("degree", "deg_a")
        .join(
            deg.withColumnRenamed("n", "doc_b").withColumnRenamed(
                "degree", "deg_b"
            ),
            "doc_b",
        )
    )
    low_is_a = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = p.select(
        F.when(low_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("u"),
        F.when(low_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("v"),
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("a"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("b"))
    wedges = e1.join(e2, "u").filter(F.col("a") < F.col("b"))
    closing = pairs.select(
        F.col("doc_a").alias("ca"), F.col("doc_b").alias("cb")
    )
    return wedges.join(
        closing,
        (F.least("a", "b") == F.col("ca"))
        & (F.greatest("a", "b") == F.col("cb")),
        "left_semi",
    )


def triangle_count_oriented(pairs: DataFrame) -> DataFrame:
    """Count triangles of an undirected edge list via degree-oriented
    wedge counting (see :func:`_closed_triangles` for the shape and
    the O(sqrt(|E|)) bound).

    ``pairs`` must be a canonical distinct edge table with columns
    ``doc_a < doc_b``. Returns a single-row frame with one BIGINT
    column ``n_triangles``.
    """
    return _closed_triangles(pairs).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def local_clustering(pairs: DataFrame) -> DataFrame:
    """(node, degree, n_triangles, lcc_milli) for every node of the
    edge list — the per-node local clustering coefficient in exact
    integer arithmetic: lcc_milli = 2000 * tri(v) DIV (deg(v) *
    (deg(v) - 1)), 0 for degree-1 nodes, so the statistic never
    depends on float division (hash-stable across engines).

    Composes the degree profile with :func:`triangles_per_node` (the
    shared :func:`_closed_triangles` core). Factored in round 16 so
    the ``graph_residual_clustering_coefficient`` entry and the
    LCC-driven second dedup pass (:func:`lcc_second_pass_delta`)
    compute the statistic from ONE definition and can never drift."""
    ends = pairs.select(F.col("doc_a").alias("node")).unionAll(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = ends.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    tpn = triangles_per_node(pairs)
    out = deg.join(tpn, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("long")
        .alias("n_triangles"),
    )
    return out.select(
        "node",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.expr("2000 * n_triangles DIV (degree * (degree - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lcc_milli"),
    )


def lcc_second_pass_delta(
    docs: DataFrame,
    manifest: DataFrame,
    threshold_milli: int = 600,
    num_hashes: int = 8,
    bands: int = 8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The LCC diagnostic acted on (VERDICT r15 item 5): a second,
    looser dedup pass over the survivor residual graph, merging the
    near-miss template families the first-pass band threshold missed.

    ``graph_residual_clustering_coefficient`` motivates this operator:
    a survivor whose residual neighborhood is cliquish (lcc ~ 1000) is
    sitting inside a template family the bands=4 family definition did
    not collapse; a chain/hub survivor (lcc ~ 0) is a transitive
    accident a dedup pass must NOT merge. This pass makes that
    distinction executable: survivors with degree >= 2 and lcc_milli
    >= ``threshold_milli`` in the bands=``bands`` residual graph are
    merge CANDIDATES, residual edges whose BOTH endpoints are
    candidates are merge edges (chain/hub structure is excluded at the
    edge level, not just the node level), and connected components
    over those edges define the merged super-families. Output is the
    DELTA manifest — one row per member family of every merged group:

      (merged_component_id, component_id, survivor_doc_id,
       new_canonical_doc_id, n_families, n_docs_total)

    where merged_component_id is the minimum member survivor id (the
    CC convention), new_canonical_doc_id is the longest-doc /
    lowest-id member (the same C4/RefinedWeb keep rule as pass one),
    n_families counts the member families and n_docs_total sums their
    first-pass n_members — the delta carries everything a rewrite
    stage needs to re-label without touching untouched families.
    Empty when no residual structure clears the threshold. Pass
    ``pairs`` to reuse a precomputed survivor residual candidate table
    (the registered entry feeds the shared once-per-corpus artifact,
    harness_r12.shared_residual_pairs); left None, the table is built
    from ``docs``/``manifest`` — the path arbitrary-frame callers (the
    strain runner, the idempotency test) use.

    At 100 TB: the residual graph is survivor-sized (corpus minus
    duplicate mass), the LCC stage is the triangle guardrail's wedge
    machinery, and the merge-edge subgraph is a tiny high-lcc slice of
    it — the CC here runs on hundreds of edges per million survivors.
    Idempotence is pinned by test (tests/test_r16_entries.py): merged
    cliques collapse to one survivor, and the merge-edge definition
    (both endpoints high) cannot re-fire across group boundaries, so a
    second application is a measured no-op at both test scales.
    """
    from pyspark.sql import Window

    from etl_tj_project_spark.operators import dedup as dd

    if pairs is None:
        reps = docs.join(
            manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        pairs = dd.lsh_candidate_pairs(
            reps, "doc_id", "text", num_hashes, bands
        )
    pairs = dd.narrow_persisted(pairs, "doc_a")
    lcc = local_clustering(pairs)
    id_type = docs.schema["doc_id"].dataType
    # ``high`` and ``he`` have no reader once the CC labels are written
    # out; the scope releases them (he first) on both paths below.
    with cache_scope(docs.sparkSession):
        # Persisted ONCE (r17 optimization, guide §2.4): ``high`` feeds
        # BOTH endpoint joins of the merge-edge filter below; un-persisted,
        # the entire LCC subtree (degree profile + degree-oriented wedge
        # joins) executes twice inside ``he`` — the two renamed copies are
        # not exchange-reusable. The cached set is merge-candidate-sized
        # (tiny by construction: the high-lcc slice of the survivor graph).
        high = persist(
            lcc.filter(
                (F.col("degree") >= 2) & (F.col("lcc_milli") >= threshold_milli)
            ).select("node")
        )
        # Persisted ONCE: the emptiness probe below and the CC both read
        # this cache, so the two candidate-edge joins compute exactly one
        # time (the count that builds the cache IS the probe).
        he = persist(
            pairs.join(high.withColumnRenamed("node", "doc_a"), "doc_a")
            .join(high.withColumnRenamed("node", "doc_b"), "doc_b")
            .select("doc_a", "doc_b")
        )
        if he.count() == 0:
            # Fixpoint reached (the idempotency test's steady state):
            # return a typed empty delta rather than running CC on an
            # empty edge list.
            from pyspark.sql import types as T

            empty = T.StructType(
                [
                    T.StructField("merged_component_id", id_type),
                    T.StructField("component_id", id_type),
                    T.StructField("survivor_doc_id", id_type),
                    T.StructField("new_canonical_doc_id", id_type),
                    T.StructField("n_families", T.LongType()),
                    T.StructField("n_docs_total", T.LongType()),
                ]
            )
            return docs.sparkSession.createDataFrame([], empty)
        # Materialized labels (FileScan), not raw connected_components:
        # keeps the size-dispatched numpy CC an internal detail so the
        # registered entry's plan carries no Python stage (the JVM-purity
        # sweep), and releases the CC cache/checkpoint state eagerly.
        labels = dd.materialize_labels(
            dd.connected_components(he, "doc_a", "doc_b")
        )
    # Name-based USING joins throughout: `labels` derives from
    # `manifest` (survivors -> pairs -> merge edges), so qualified
    # df["col"] references across the re-join trip Spark's ambiguous
    # self-join detection; renamed key columns keep every attribute
    # unique instead.
    labels = labels.select(
        F.col("node").alias("survivor_doc_id"),
        F.col("component_id").alias("merged_component_id"),
    )
    mem = labels.join(
        manifest.withColumnRenamed("canonical_doc_id", "survivor_doc_id"),
        "survivor_doc_id",
    ).select(
        "merged_component_id",
        "component_id",
        "survivor_doc_id",
        "canonical_n_chars",
        "n_members",
    )
    grp = mem.groupBy("merged_component_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_families"),
        F.sum("n_members").cast("long").alias("n_docs_total"),
    )
    w = Window.partitionBy("merged_component_id").orderBy(
        F.col("canonical_n_chars").desc(), F.col("survivor_doc_id")
    )
    newc = (
        mem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "merged_component_id",
            F.col("survivor_doc_id").alias("new_canonical_doc_id"),
        )
    )
    return (
        mem.select(
            "merged_component_id",
            "component_id",
            "survivor_doc_id",
        )
        .join(newc, "merged_component_id")
        .join(grp, "merged_component_id")
        .select(
            "merged_component_id",
            "component_id",
            "survivor_doc_id",
            "new_canonical_doc_id",
            "n_families",
            "n_docs_total",
        )
    )


def apply_lcc_second_pass(
    manifest: DataFrame, delta: DataFrame
) -> DataFrame:
    """Apply a :func:`lcc_second_pass_delta` to its first-pass
    manifest: member families collapse into one row per merged group
    (component_id = merged_component_id, canonical = the delta's
    new_canonical_doc_id, n_members = the summed n_docs_total);
    untouched families pass through. The result has the SAME schema as
    the input manifest, so a pipeline can iterate the pass to a
    fixpoint — the idempotency test materializes this frame and proves
    one application IS the fixpoint at test scale. Callers composing
    further passes should parquet-materialize the result first (the
    production move; an unmaterialized second pass re-executes the
    whole first pass inside its lineage)."""
    merged = (
        delta.join(
            manifest.select(
                F.col("canonical_doc_id").alias("new_canonical_doc_id"),
                F.col("canonical_n_chars").alias("new_canonical_n_chars"),
            ),
            "new_canonical_doc_id",
        )
        .select(
            "merged_component_id",
            "new_canonical_doc_id",
            "new_canonical_n_chars",
            "n_docs_total",
        )
        .distinct()
        .select(
            F.col("merged_component_id").alias("component_id"),
            F.col("new_canonical_doc_id").alias("canonical_doc_id"),
            F.col("new_canonical_n_chars").alias("canonical_n_chars"),
            F.col("n_docs_total").alias("n_members"),
        )
    )
    untouched = manifest.join(
        delta.select("component_id").distinct(), "component_id", "left_anti"
    ).select(
        "component_id", "canonical_doc_id", "canonical_n_chars", "n_members"
    )
    return untouched.unionByName(merged)


def triangles_per_node(pairs: DataFrame) -> DataFrame:
    """(node, n_triangles) — how many triangles each node belongs to,
    for every node in at least one triangle.

    Same degree-oriented wedge core as :func:`triangle_count_oriented`
    (:func:`_closed_triangles` — each triangle formed exactly once);
    instead of counting closed wedges it explodes each closed triangle
    {u, a, b} to its three members and aggregates per node."""
    members = _closed_triangles(pairs).select(
        F.explode(F.array("u", "a", "b")).alias("node")
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
