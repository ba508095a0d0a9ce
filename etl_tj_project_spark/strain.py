"""Strain datasets: deterministic seeded expansions of the sf tables
that genuinely cross the size-dispatch budgets, so the DISTRIBUTED
strategies — the only code that runs at corpus scale — execute under
measurement instead of only inside equality tests (VERDICT r7 item 1).

Round 7's size dispatch was the right call at sf0.1 (every stage of the
iterative loops is job-barrier overhead below one partition of work),
but it removed the pointer-doubling connected-components loop and the
distributed Lloyd trainers from the bench entirely: their constants
could regress invisibly. ``/root/testdata`` is read-only and tops out
at sf0.1, so the strain inputs are derived IN-PLAN from the sf tables:

* :func:`strain_edges` — each ``doc_id`` expands into ``replicas``
  chained nodes (chains of ``chain`` nodes, so convergence needs
  ~log2(chain) pointer-doubling rounds, not 1). The cc runner
  auto-sizes replicas to 1.3x the single-task budget
  (``operators/dedup._CC_SINGLE_TASK_EDGES``; 16M symmetrized edges
  since the numpy single-task core landed — ~2,100 replicas / 20.8M
  sym edges at sf0.1) so auto dispatches to the distributed loop with
  no strategy forcing.
* :func:`strain_embeddings` — each vector expands into ``replicas``
  deterministically perturbed copies. At the default 40 replicas over
  sf0.1's 2,000 x 64-d vectors: 80,000 x 64 = 5,120,000 elements > the
  4M single-task budget (``operators/similarity.
  _KMEANS_SINGLE_TASK_ELEMENTS``) — auto trains distributed.

Everything is a pure column expression over the parquet scan (explode
of a literal sequence + integer/float arithmetic): no RNG, no driver
materialization, reproducible across runs — and because the expansion
is part of the plan, the measured runs include a realistic scan ->
expand -> iterate pipeline, not a pre-collected in-memory toy.

The runners assert the expansion crossed the budget (a strain bench
that silently fell back to the single-task branch would measure the
wrong code) and assert answer equality between the distributed result
and the local strategy on the same input (CC: full-graph label
comparison through a distributed join; trainers: codebook/centroid
agreement within float tolerance across the strategies, which differ
only in summation order).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_tj_project_spark.cache import cache_scope, persist
from etl_tj_project_spark.operators import dedup as dd
from etl_tj_project_spark.operators import similarity as sim
from etl_tj_project_spark.sources.testdata import load_table


def strain_edges(
    spark: SparkSession,
    sf_dir: str,
    replicas: int = 260,
    chain: int = 100,
) -> DataFrame:
    """(doc_a, doc_b) edge table: per document, ``replicas`` nodes
    ``doc_id*replicas + r`` linked ``r -> r+1`` except across ``chain``
    boundaries — components are chains of depth ``chain``, the
    adversarial shape for label propagation (an LSH graph over
    boilerplate-heavy corpora chains exactly like this)."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    node = F.col("doc_id") * replicas + F.col("r")
    return (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(replicas - 2))).alias("r"),
        )
        .filter((F.col("r") % chain) != (chain - 1))
        .select(node.alias("doc_a"), (node + 1).alias("doc_b"))
    )


def strain_embeddings(
    spark: SparkSession,
    sf_dir: str,
    replicas: int = 40,
) -> DataFrame:
    """(vec_id, embedding) with each source vector expanded into
    ``replicas`` copies, each deterministically perturbed per (replica,
    dimension) so centroids/codebooks are not degenerate duplicates."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = F.transform(
        "embedding",
        lambda x, i: x.cast("double")
        + ((F.col("r") * 31 + i) % 13).cast("double") * F.lit(0.01),
    )
    return e.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
    ).select(
        (F.col("vec_id") * replicas + F.col("r")).alias("vec_id"),
        pert.alias("embedding"),
    )


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def run_cc_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int | None = None,
    chain: int = 100,
    check_equality: bool = True,
) -> dict:
    """Auto-dispatched connected components over the strain graph —
    crosses the single-task budget, so this IS the pointer-doubling
    distributed loop. Labels are forced with a count; FULL-graph label
    equality vs the pinned single-task strategy is asserted through a
    distributed join (and timed, as the local-vs-distributed A/B)."""
    n_docs = load_table(spark, sf_dir, "documents").count()
    if replicas is None:
        # Auto-scale to the source table so the budget is crossed by
        # ~1.3x at ANY sf dir (smaller SFs get proportionally more
        # replicas, same total edge count).
        replicas = -(-13 * dd._CC_SINGLE_TASK_EDGES
                     // (20 * n_docs * (chain - 1) // chain))
    edges = strain_edges(spark, sf_dir, replicas, chain)
    per_doc = (replicas - 1) - (replicas - 1) // chain
    n_sym = 2 * n_docs * per_doc
    _require(
        n_sym > dd._CC_SINGLE_TASK_EDGES,
        f"strain graph too small to cross the dispatch budget: {n_sym}",
    )
    t0 = time.perf_counter()
    labels = dd.connected_components(edges, "doc_a", "doc_b", max_iter=40)
    n_labels = labels.count()
    sec_distributed = round(time.perf_counter() - t0, 4)
    _require(
        n_labels == n_docs * replicas,
        f"label count {n_labels} != node count {n_docs * replicas}",
    )
    result = {
        "edges_sym": n_sym,
        "nodes": n_labels,
        "sec_distributed": sec_distributed,
    }
    if check_equality:
        # FULL-graph equality vs a BLOCK-PARALLEL numpy reference,
        # compared distributively (join + mismatch count — never a
        # driver collect of the label tables). Doc blocks are
        # disconnected by construction, so running the same
        # numpy_min_label_components core per block (applyInPandas, 32
        # tasks) is exact — and ~6x cheaper than the single-task pin it
        # replaced, whose cost was the coalesce(1) Arrow transfer of
        # the whole edge table into one worker (33 s; the measured
        # single-task-vs-distributed A/B stays recorded in SCALE.md
        # §22, it doesn't need re-running every bench round).
        t0 = time.perf_counter()

        def per_block(pdf):
            import pandas as pd

            nodes, labs = dd.numpy_min_label_components(
                pdf["doc_a"].to_numpy(), pdf["doc_b"].to_numpy()
            )
            return pd.DataFrame({"node": nodes, "component_local": labs})

        ref = (
            edges.withColumn(
                "__b", (F.col("doc_a") / replicas).cast("long")
            )
            .groupBy("__b")
            .applyInPandas(per_block, schema="node long, component_local long")
        )
        mismatched = (
            labels.join(ref, "node", "full_outer")
            .filter(
                F.col("component_id").isNull()
                | F.col("component_local").isNull()
                | (F.col("component_id") != F.col("component_local"))
            )
            .count()
        )
        _require(
            mismatched == 0,
            f"distributed labels diverge from reference on {mismatched} nodes",
        )
        result["equality_checked_nodes"] = n_labels
        result["sec_equality_check"] = round(time.perf_counter() - t0, 4)
    dd.release_components(labels)
    return result


def run_ivf_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int | None = None,
    check_equality: bool = True,
) -> dict:
    """Auto-dispatched trained-IVF top-k over the strain vectors — the
    distributed per-iteration (cell, dim)-shuffle Lloyd loop feeding
    the same probe plan as ann_ivf_trained_topk. Centroid equality vs
    the local strategy (same data, same update rule, different float
    summation order) asserted within 1e-6."""
    n_src = load_table(spark, sf_dir, "embeddings").count()
    dim = 64
    if replicas is None:
        # ~1.25x over the element budget at any sf dir (sf0.1: 40
        # replicas -> 80k x 64 = 5.12M elements).
        replicas = -(-5 * sim._KMEANS_SINGLE_TASK_ELEMENTS
                     // (4 * n_src * dim))
    e = strain_embeddings(spark, sf_dir, replicas)
    _require(
        n_src * replicas * dim > sim._KMEANS_SINGLE_TASK_ELEMENTS,
        f"strain vectors too small: {n_src * replicas} x {dim}",
    )
    with cache_scope(spark):
        t0 = time.perf_counter()
        cents, train = sim.train_kmeans_with_cache(e, k=8, iters=2)
        q = train.filter(F.col("vec_id") == 0)
        top = sim.ivf_topk(train, q, k=10, centroids=cents, assign="arrow")
        n_top = top.count()
        result = {
            "vectors": n_src * replicas,
            "topk_rows": n_top,
            "sec_distributed": round(time.perf_counter() - t0, 4),
        }
        if check_equality:
            # The equality pass doubles as the local-vs-distributed A/B at
            # strain scale: same data, same update rule, single-task path.
            t0 = time.perf_counter()
            local_cents = sim.train_kmeans(
                e, k=8, iters=2, strategy="local"
            )
            worst = max(
                abs(a - b)
                for ca, cb in zip(cents, local_cents)
                for a, b in zip(ca, cb)
            )
            _require(
                worst < 1e-6,
                f"distributed/local centroid divergence {worst}",
            )
            result["centroid_max_abs_diff"] = worst
            result["sec_local_strategy"] = round(time.perf_counter() - t0, 4)
    return result


def run_pq_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int | None = None,
    check_equality: bool = True,
) -> dict:
    """Auto-dispatched trained-PQ top-k over the strain vectors — the
    distributed joint (subspace, codeword, dim)-shuffle Lloyd loop plus
    the ADC scan of ann_pq_trained_topk. Codebook equality vs the local
    strategy asserted within 1e-6."""
    n_src = load_table(spark, sf_dir, "embeddings").count()
    dim = 64
    if replicas is None:
        # ~1.25x over the element budget at any sf dir (sf0.1: 40
        # replicas -> 80k x 64 = 5.12M elements).
        replicas = -(-5 * sim._KMEANS_SINGLE_TASK_ELEMENTS
                     // (4 * n_src * dim))
    e = strain_embeddings(spark, sf_dir, replicas)
    _require(
        n_src * replicas * dim > sim._KMEANS_SINGLE_TASK_ELEMENTS,
        f"strain vectors too small: {n_src * replicas} x {dim}",
    )
    with cache_scope(spark):
        t0 = time.perf_counter()
        books, train = sim.train_pq_with_cache(e, m=8, ksub=16, iters=2)
        q = train.filter(F.col("vec_id") == 0)
        top = sim.pq_topk(
            train, q, k=10, codebooks=books, oversample=8, encode="arrow"
        )
        n_top = top.count()
        result = {
            "vectors": n_src * replicas,
            "topk_rows": n_top,
            "sec_distributed": round(time.perf_counter() - t0, 4),
        }
        if check_equality:
            t0 = time.perf_counter()
            local_books = sim.train_pq(
                e, m=8, ksub=16, iters=2, strategy="local"
            )
            worst = max(
                abs(a - b)
                for bj, lj in zip(books, local_books)
                for cb, cl in zip(bj, lj)
                for a, b in zip(cb, cl)
            )
            _require(
                worst < 1e-6,
                f"distributed/local codebook divergence {worst}",
            )
            result["codebook_max_abs_diff"] = worst
            result["sec_local_strategy"] = round(time.perf_counter() - t0, 4)
    return result


def run_daily_pipeline_strain(spark: SparkSession, sf_dir: str) -> dict:
    """End-to-end bench of the FLAGSHIP write path (VERDICT r7 item 8):
    the reference workload's actual daily shape — all-string raw
    transactions -> typed views (try_cast promotion) -> day+status
    filter -> persisted two-branch union -> three aggregates ->
    atomic day-partition commit to a temp lake — timed as one run, not
    just its query skeleton (u2/a1/a3 bench the read side only).

    Inputs are derived in-plan from the sf ``events`` table into the
    reference's raw staging schemas (every column STRING, exactly what
    the CSV loader produces); dims are built at reference scale (tiny,
    broadcast). The measured number includes the parquet writes
    (documented noop-sink caveat: headline queries discard rows, this
    row is the one that pays the sink)."""
    import shutil
    import tempfile

    from etl_tj_project_spark.functions.cleaning import norm_body
    from etl_tj_project_spark.plans.daily import Warehouse, run_daily

    ev = load_table(spark, sf_dir, "events")

    def common_cols():
        return [
            F.col("event_id").cast("string").alias("uuid"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias(
                "waktu_transaksi"
            ),
            F.col("user_id").cast("string").alias("card_number_var"),
            F.when(F.col("user_id") % 3 == 0, "EMONEY")
            .when(F.col("user_id") % 3 == 1, "flazz")
            .otherwise("Brizzi")
            .alias("card_type_var"),
            F.lit("0").alias("balance_before_int"),
            (F.col("value") * 100).cast("long").cast("string").alias(
                "fare_int"
            ),
            F.lit("0").alias("balance_after_int"),
            F.lit("T").alias("transcode_txt"),
            F.when(F.col("event_id") % 3 == 0, "true")
            .when(F.col("event_id") % 3 == 1, "0")
            .otherwise("YES")
            .alias("gate_in_boo"),
            F.lit("-6.2").alias("p_latitude_flo"),
            F.lit("106.8").alias("p_longitude_flo"),
            # ~9% failed transactions the status filter must drop; the
            # lowercase 's' exercises the upper() promotion.
            F.when(F.col("event_id") % 11 == 0, "f")
            .otherwise("s")
            .alias("status_var"),
            F.lit("false").alias("free_service_boo"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias(
                "insert_on_dtm"
            ),
        ]

    bus_raw = ev.filter(F.col("event_id") % 2 == 0).select(
        *common_cols(),
        F.concat(F.lit("TJ "), (F.col("user_id") % 500).cast("string"))
        .alias("no_body_var"),
    )
    halte_raw = ev.filter(F.col("event_id") % 2 == 1).select(
        *common_cols(),
        F.concat(
            F.lit("Shelter "), (F.col("user_id") % 74).cast("string")
        ).alias("shelter_name_var"),
    )
    # Dims at reference scale (21 routes / 74 shelters / 500 buses in
    # the real data) — tiny and explicitly broadcast by the operators.
    routes = spark.range(1, 21).select(
        F.col("id").cast("string").alias("route_code"),
        F.concat(F.lit("Route "), F.col("id")).alias("route_name"),
    )
    realisasi = spark.range(0, 500).select(
        F.lit("2024-01-02").cast("date").alias("tanggal_realisasi"),
        norm_body(F.concat(F.lit("TJ "), F.col("id").cast("string")))
        .alias("bus_body_no_norm"),
        ((F.col("id") % 20) + 1).cast("string").alias("rute_realisasi"),
    )
    shelters = spark.range(0, 74).select(
        F.concat(F.lit("Shelter "), F.col("id").cast("string")).alias(
            "shelter_name_var"
        ),
        ((F.col("id") % 20) + 1).cast("int").alias("corridor_code"),
        F.concat(F.lit("Corridor "), (F.col("id") % 20) + 1).alias(
            "corridor_name"
        ),
    )
    wh_dir = tempfile.mkdtemp(prefix="tj_daily_bench_")
    try:
        t0 = time.perf_counter()
        run_daily(
            spark,
            "2024-01-02",
            bus_raw=bus_raw,
            halte_raw=halte_raw,
            routes=routes,
            realisasi_bus=realisasi,
            shelter_corridor=shelters,
            wh=Warehouse(wh_dir),
        )
        sec = round(time.perf_counter() - t0, 4)
        counts = {
            name: spark.read.parquet(
                Warehouse(wh_dir).agg(name)
            ).count()
            for name in ("agg_by_card", "agg_by_route", "agg_by_tariff")
        }
        _require(
            all(v > 0 for v in counts.values()),
            f"daily pipeline produced an empty aggregate: {counts}",
        )
        return {"sec_pipeline": sec, **{f"rows_{k}": v for k, v in counts.items()}}
    finally:
        shutil.rmtree(wh_dir, ignore_errors=True)


def run_streaming_strain(
    spark: SparkSession,
    sf_dir: str,
    inflate: int = 1,
    files: int = 32,
    max_files_per_trigger: int = 32,
) -> dict:
    """Structured-Streaming throughput under measurement: the events
    table (optionally inflated ``inflate``x with disjoint event_id
    blocks — same window/group structure, counts scaled exactly) is
    staged as a ``files``-file parquet source, drained through the REAL
    streaming pipeline — file readStream (micro-batch size set by
    ``max_files_per_trigger``), watermarked tumbling daily window,
    update-mode ``foreachBatch`` exactly-once sink with group-granular
    dynamic partition overwrite (streaming/daily_stream.py) — and the
    final sink state is asserted equal to the batch twin through a
    distributed join (the availableNow-equality test's check, here run
    at bench scale every round). Measured seconds cover source listing,
    all micro-batches, state-store updates, and the partitioned sink
    writes: the number the headline's batch-shaped stream twin
    (stream_window_agg) deliberately excludes.

    Defaults: the round-9 batch-size sweep (SCALE.md §23) measured the
    drain as micro-batch-overhead-bound — each batch pays a fixed
    plan/state-commit/sink-overwrite cost and per-row work is small —
    so a CATCH-UP drain (availableNow semantics) defaults to the
    largest batch (one trigger for the whole backlog). Small triggers
    are for steady-state latency, not drains; pass
    ``max_files_per_trigger`` explicitly to measure that regime."""
    import os
    import shutil
    import tempfile

    from etl_tj_project_spark.streaming import daily_stream as ds

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    if inflate > 1:
        n_src = ev.count()
        ev = ev.select(
            F.explode(F.sequence(F.lit(0), F.lit(inflate - 1))).alias("r"),
            "*",
        ).select(
            (F.col("event_id") + F.col("r") * n_src).alias("event_id"),
            "ts",
            "user_id",
            "event_type",
            "value",
        )
    root = tempfile.mkdtemp(prefix="tj_stream_strain_")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    try:
        # Range-partitioned staging keeps per-file time locality, but
        # the parquet STREAM source batches files by modification time
        # (all equal here -> arbitrary order), so micro-batches are NOT
        # chronological and a short watermark drops real rows (measured:
        # ~90 of 150 groups diverged at 2h). The drain therefore runs
        # with a watermark wider than the staged horizon — this row
        # measures micro-batch/state/sink throughput and exactly-once
        # convergence; late-arrival semantics are pinned separately by
        # the streaming tests.
        ev.repartitionByRange(files, "ts").write.parquet(src)
        n_in = spark.read.parquet(src).count()
        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .format("parquet")
            .load(src)
            .withWatermark("ts", "90 days")
        )
        q = ds.write_daily_stream(ds._agg(stream, "1 day"), sink, ckpt)
        # availableNow terminates on its own; the bounded wait is a
        # backstop so a wedged stream fails the bench loudly instead of
        # hanging it (the strain runner's errors are recorded visibly).
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming drain did not finish in 600s")
        sec = round(time.perf_counter() - t0, 4)
        got = spark.read.parquet(sink).select(
            "window_start", "event_type", "event_count", "value_sum"
        )
        want = ds.windowed_event_agg(ev, "1 day")
        mismatched = (
            got.join(
                want.withColumnRenamed("event_count", "want_count")
                .withColumnRenamed("value_sum", "want_sum"),
                ["window_start", "event_type"],
                "full_outer",
            )
            .filter(
                F.col("event_count").isNull()
                | F.col("want_count").isNull()
                | (F.col("event_count") != F.col("want_count"))
                | (F.col("value_sum") != F.col("want_sum"))
            )
            .count()
        )
        _require(
            mismatched == 0,
            f"stream sink diverges from batch twin on {mismatched} groups",
        )
        n_groups = got.count()
        _require(n_groups > 0, "stream drained zero groups")
        return {
            "sec_drain": sec,
            "rows_in": n_in,
            "groups_out": n_groups,
            "rows_per_sec": round(n_in / sec, 1) if sec > 0 else None,
            "micro_batches": -(-files // max_files_per_trigger),
            "files": files,
            "max_files_per_trigger": max_files_per_trigger,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_lsh_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int = 8,
) -> dict:
    """MinHash-LSH candidate generation under boilerplate skew: every
    document is expanded into ``replicas`` byte-identical copies, so
    each band bucket holds whole replica families — the adversarial
    shape (template-heavy corpora) the band join's AQE skew handling
    exists for. Completeness is provable, not sampled: identical texts
    share every band hash, so the candidate set MUST contain all
    C(replicas, 2) within-family pairs for every doc — asserted
    exactly. Cross-family candidates scale ~replicas^2 over the base
    corpus's near-dup pairs, so the join output (~3.8M pairs at sf0.1)
    measures candidate-generation throughput at real skew."""
    from etl_tj_project_spark.operators import dedup as dd_ops

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = d.count()
    fam = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
    ).select(
        (F.col("doc_id") * replicas + F.col("r")).alias("doc_id"), "text"
    )
    t0 = time.perf_counter()
    pairs = dd_ops.lsh_candidate_pairs(fam, "doc_id", "text")
    n_pairs = pairs.count()
    sec = round(time.perf_counter() - t0, 4)
    # Exact completeness floor: all within-family pairs present.
    within = pairs.filter(
        (F.col("doc_a") / replicas).cast("long")
        == (F.col("doc_b") / replicas).cast("long")
    ).count()
    want_within = n_docs * replicas * (replicas - 1) // 2
    _require(
        within == want_within,
        f"LSH lost within-family pairs: {within} != {want_within}",
    )
    return {
        "docs": n_docs * replicas,
        "pairs": n_pairs,
        "within_family_pairs": within,
        "sec_candidates": sec,
    }


def _evict_page_cache(paths) -> None:
    """Drop the given parquet datasets (files or directories) from the
    OS page cache via posix_fadvise(DONTNEED) — the per-file cold-read
    setup the cold-IO strain uses instead of a global drop_caches (which
    needs privileges and punishes every other process on the host)."""
    import os

    def _one(f: str) -> None:
        try:
            fd = os.open(f, os.O_RDONLY)
        except OSError:
            return
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
        finally:
            os.close(fd)

    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    _one(os.path.join(root, f))
        else:
            _one(p)


class _NullCtx:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class _ReadThrottle:
    """Best-effort cgroup-v1 blkio read-bandwidth cap around the
    cold-IO measured runs, emulating slow object storage on local disk.
    Installs a throttle group for the device backing ``probe_path``,
    moves THIS process in on enter, and ALWAYS moves it back to its
    original blkio cgroup on exit (the strain runner orders itself last
    in bench.py so even a failed restore cannot slow another
    measurement; CPU calibration is unaffected by an IO cap). A host
    without writable cgroup-v1 blkio (unprivileged container, cgroup
    v2-only) degrades to a no-op with ``applied = False`` — the
    measurement then reflects native disk speed and says so."""

    _ROOT = "/sys/fs/cgroup/blkio"

    def __init__(self, bps: int, probe_path: str):
        self.bps = bps
        self.probe = probe_path
        self.applied = False
        self._group = None
        self._orig = None
        self._pids: list[int] = []

    @staticmethod
    def _spark_pids() -> list[int]:
        """This python process plus its direct JVM children — in local
        mode the parquet scans run entirely inside the gateway JVM (a
        child of the driver python), so throttling ONLY the python pid
        would cap nothing."""
        import os

        pids = [os.getpid()]
        me = str(os.getpid())
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parts = fh.read().rsplit(")", 1)[1].split()
                comm_open = open(f"/proc/{d}/comm").read().strip()
            except OSError:
                continue
            if parts[1] == me and comm_open == "java":
                pids.append(int(d))
        return pids

    def __enter__(self):
        import os

        try:
            st = os.stat(self.probe)
            dev = f"{os.major(st.st_dev)}:{os.minor(st.st_dev)}"
            for line in open("/proc/self/cgroup"):
                parts = line.strip().split(":")
                if "blkio" in parts[1].split(","):
                    self._orig = os.path.join(
                        self._ROOT, parts[2].lstrip("/")
                    )
                    break
            group = os.path.join(self._ROOT, f"tj_u2cold_{os.getpid()}")
            os.makedirs(group, exist_ok=True)
            with open(
                os.path.join(group, "blkio.throttle.read_bps_device"), "w"
            ) as fh:
                fh.write(f"{dev} {self.bps}")
            # Record each pid only AFTER its cgroup.procs write succeeds
            # and keep _group set from the first move on: if a later
            # write raises (a JVM pid vanished mid-loop), the except arm
            # below restores the partial set instead of leaving already-
            # moved processes read-capped for the rest of the bench run
            # while applied=False reports the throttle inactive
            # (ADVICE r9).
            self._group = group
            for pid in self._spark_pids():
                with open(os.path.join(group, "cgroup.procs"), "w") as fh:
                    fh.write(str(pid))
                self._pids.append(pid)
            self.applied = True
        except OSError:
            self._restore()
            self.applied = False
        return self

    def _restore(self):
        """Move every recorded pid back to its original blkio cgroup and
        drop the throttle group. Best-effort per pid: one unrestorable
        pid (e.g. exited) must not strand the others."""
        import os

        if not self._group:
            return
        target = self._orig or self._ROOT
        for pid in self._pids:
            try:
                with open(os.path.join(target, "cgroup.procs"), "w") as fh:
                    fh.write(str(pid))
            except OSError:
                continue  # pid gone — nothing left to uncap
        self._pids = []
        try:
            os.rmdir(self._group)
        except OSError:
            pass  # group leaks empty; throttle applies to no process
        self._group = None

    def __exit__(self, *exc):
        self._restore()
        return False


def run_u2_cold_io_strain(
    spark: SparkSession,
    sf_dir: str,
    inflate: int = 8,
    reps: int = 2,
    read_bps: int | None = 40_000_000,
) -> dict:
    """Cold-storage A/B of the flagship's two plans (VERDICT r8 item 4).

    At page-cache-resident sf0.1 the default two-branch plan beats the
    single-scan explode rewrite (1.23 vs 1.50 s — SCALE.md "u2 flagship
    scan-sharing A/Bs"): the second lineitem scan is nearly free from
    cache while Generate is not. On a cluster reading cold object
    storage the second scan pays FULL IO again — this runner recreates
    that regime on local disk: lineitem is inflated ``inflate``x into
    TWO distinct physical copies (distinct inodes — hardlinks would
    share page cache), branch 1 reads copy A and branch 2 copy B (so
    both of the default plan's scans are genuinely cold, exactly like
    two S3 GET sweeps), and every measured run is preceded by
    posix_fadvise eviction of all inputs. Interleaved best-of-``reps``
    per variant (house A/B rule); group-level value equality of the two
    variants' aggregates is asserted on the inflated data each run.

    The single-scan plan reads 5 fact columns once instead of 4+4
    (~40% less fact IO); whether that beats the Generate overhead is a
    storage-bandwidth question, which is why it is MEASURED under a
    cold cache per round instead of argued."""
    import os
    import shutil
    import tempfile

    from etl_tj_project_spark import harness as h
    from etl_tj_project_spark.sources.testdata import load_table as _lt

    src = os.path.join(sf_dir, "lineitem.parquet")
    work = tempfile.mkdtemp(prefix="tj_u2cold_")
    copy_a = os.path.join(work, "li_a.parquet")
    copy_b = os.path.join(work, "li_b.parquet")
    # Inflate by FILE duplication: a parquet dataset directory holding
    # `inflate` byte-level copies of the source file is an `inflate`x
    # row multiplication with zero plan-side tricks — the scans stay
    # plain file-source scans with pushdown/pruning intact.
    src_files = (
        [os.path.join(src, f) for f in os.listdir(src) if not f.startswith((".", "_"))]
        if os.path.isdir(src)
        else [src]
    )
    try:
        for copy in (copy_a, copy_b):
            os.makedirs(copy)
            i = 0
            for _ in range(inflate):
                for f in src_files:
                    dst = os.path.join(copy, f"part-{i:05d}.parquet")
                    shutil.copyfile(f, dst)
                    # fsync each copy NOW: freshly written pages are
                    # DIRTY, and posix_fadvise(DONTNEED) silently skips
                    # dirty pages — without this the "cold" runs of
                    # whichever variant ran before writeback kicked in
                    # read straight from page cache (observed: 0.2 MB
                    # of actual disk reads on an 86 MB "cold" scan).
                    fd = os.open(dst, os.O_RDONLY)
                    try:
                        os.fsync(fd)
                    finally:
                        os.close(fd)
                    i += 1
        bytes_fact = sum(
            os.path.getsize(os.path.join(copy_a, f)) for f in os.listdir(copy_a)
        )
        part = _lt(spark, sf_dir, "part")
        sup = _lt(spark, sf_dir, "supplier")
        li_a = spark.read.parquet(copy_a)
        li_b = spark.read.parquet(copy_b)
        evict = [copy_a, copy_b,
                 os.path.join(sf_dir, "part.parquet"),
                 os.path.join(sf_dir, "supplier.parquet")]

        def force(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        # Warm codegen/plan caches once (measured runs are IO-cold,
        # compile-warm — same discipline as bench.py's warmup pass).
        default_df = h.u2_plan(li_a, li_b, part, sup, single_scan=False)
        single_df = h.u2_plan(li_a, li_b, part, sup, single_scan=True)
        force(default_df)
        force(single_df)

        best = {"default": float("inf"), "single_scan": float("inf")}
        throttle = _ReadThrottle(read_bps or 0, work)
        with throttle if read_bps else _NullCtx():
            for _ in range(reps):
                for name, df in (
                    ("default", default_df),
                    ("single_scan", single_df),
                ):
                    _evict_page_cache(evict)
                    t0 = time.perf_counter()
                    force(df)
                    best[name] = min(
                        best[name], round(time.perf_counter() - t0, 4)
                    )

        # Multiset equality needs BOTH directions (ADVICE r9: one empty
        # exceptAll still passes when single_scan is a strict sub-
        # multiset of default). Equal cardinality + one empty exceptAll
        # implies full multiset equality, so the count we already take
        # doubles as the second direction.
        n_default = default_df.count()
        n_single = single_df.count()
        _require(
            n_single == n_default,
            f"single_scan row count diverged: {n_single} vs {n_default}",
        )
        diff = single_df.exceptAll(default_df).count()
        _require(diff == 0, f"single_scan diverged from default: {diff} rows")
        return {
            "sec_single_scan_cold": best["single_scan"],
            "sec_default_cold": best["default"],
            "single_scan_wins": best["single_scan"] < best["default"],
            "read_bps": read_bps,
            "throttle_applied": bool(read_bps) and throttle.applied,
            "inflate_x": inflate,
            "fact_mb_per_copy": round(bytes_fact / 1e6, 1),
            "agg_rows": n_default,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_containment_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int = 4,
) -> dict:
    """Prefix-filtered containment self-join at constant duplicate rate:
    the corpus is inflated ``replicas``x with per-copy Caesar rotations
    of the [a-z0-9] ring (SCALE.md §25's isolation method — a character
    bijection preserves every within-copy shingle-set relation exactly
    while cross-copy word-3-grams share nothing). Unlike minhash rows,
    containment computes on TRUE shingle strings (no hashing), so the
    completeness floor is fully deterministic: each copy's internal
    qualifying pair set is the base corpus's mapped by the id shift,
    and cross-copy pairs cannot even become candidates. Asserted
    exactly: total == replicas * base_pairs AND zero cross-copy pairs.
    The measured seconds are candidate join + exact verify at
    ``replicas``x the corpus with the dup RATE held fixed — the
    realistic 100 TB regime (§25b: near-dup inflation instead measures
    quadratic output density)."""
    from etl_tj_project_spark.operators import dedup as dd_ops

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_pairs = dd_ops.prefix_filter_containment_pairs(
        d, "doc_id", "text", ngram=3, t_num=4, t_den=5
    ).count()
    shift = d.agg(F.max("doc_id")).first()[0] + 1
    ring = "abcdefghijklmnopqrstuvwxyz0123456789"
    copies = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
    )
    # Rotate LOWERCASED text (ADVICE r12): the operator lowercases
    # before shingling, and lowercase commutes into the rotation, so
    # rotating lower(text) makes the bijection hold for ANY input
    # casing. Characters outside the [a-z0-9 ] ring would still pass
    # through unrotated and could leak cross-copy shingles, so the
    # assumption is now CHECKED, not assumed: any out-of-ring,
    # non-space character downgrades the hard cross==0 / floor
    # assertions to the (still-exact) >= direction.
    ring_clean = (
        d.filter(F.lower(F.col("text")).rlike("[^a-z0-9 ]"))
        .limit(1)
        .count()
        == 0
    )
    text = F.lower(F.col("text"))
    for i in range(1, replicas):
        rot = ring[i:] + ring[:i]
        text = F.when(
            F.col("r") == i, F.translate(F.lower(F.col("text")), ring, rot)
        ).otherwise(text)
    fam = copies.select(
        (F.col("doc_id") + F.col("r") * shift).alias("doc_id"),
        text.alias("text"),
    )
    with cache_scope(spark):
        t0 = time.perf_counter()
        pairs = dd_ops.prefix_filter_containment_pairs(
            fam, "doc_id", "text", ngram=3, t_num=4, t_den=5
        )
        # Persist before the two counts (ADVICE r12): without it the
        # cross-copy check re-executes the whole candidate join + verify a
        # second time outside the timed window.
        pairs = persist(pairs)
        n_pairs = pairs.count()
        sec = round(time.perf_counter() - t0, 4)
        cross = pairs.filter(
            F.expr(f"doc_a div {shift}") != F.expr(f"doc_b div {shift}")
        ).count()
        if ring_clean:
            _require(
                cross == 0, f"cross-copy containment pairs exist: {cross}"
            )
            _require(
                n_pairs == replicas * base_pairs,
                f"per-copy completeness broken: {n_pairs} != "
                f"{replicas} * {base_pairs}",
            )
        else:
            # Out-of-ring characters survive rotation unrotated, so copies
            # may share shingles: the floor direction is still exact (every
            # within-copy pair exists by bijection of the in-ring part
            # being a superset relation... conservatively: completeness can
            # only ADD candidate pairs), equality is not guaranteed.
            _require(
                n_pairs >= replicas * base_pairs,
                f"completeness floor broken: {n_pairs} < "
                f"{replicas} * {base_pairs}",
            )
        # "docs" is the true inflated row count (ADVICE r12: shift*replicas
        # over-reports when the id space is sparse); id_space is the
        # synthetic id range for reference.
    return {
        "docs": d.count() * replicas,
        "id_space": shift * replicas,
        "ring_clean": ring_clean,
        "base_pairs": base_pairs,
        "pairs": n_pairs,
        "sec_pairs": sec,
    }


def run_containment_guardrail_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int = 4,
) -> dict:
    """The §25b guardrail proven executable (VERDICT r12 item 3):
    canonicalize-first must shrink the containment CANDIDATE-JOIN INPUT
    — the quantity the verify stage pays for — by >= replicas^2 on a
    ``replicas``x exact-copy corpus, while leaving the final pair set
    IDENTICAL to the base corpus's canonical-first run.

    Corpus: every document duplicated ``replicas``x with shifted ids
    (byte-identical text — the adversarial copy-inflation regime where
    §25b measured direct containment at 32x). Why the assertions are
    deterministic, not probabilistic:

    * identical text -> identical MinHash signature -> every copy
      collides with its original in ALL bands, and a copy collides
      with a foreign doc iff its original does — so the inflated LSH
      graph is the base graph plus copy attachments, components map
      1:1, and the canonical survivor of each inflated component is
      the base component's survivor (same n_chars, lowest doc_id =
      the r=0 original). Canonical set of inflated == canonical set
      of base, hence identical final containment pairs.
    * every BASE-corpus candidate pair (a, b) lifts to replicas^2
      inflated candidate pairs (copies have the same shingle set, and
      global rarest-first prefix ORDER is preserved — all document
      frequencies scale uniformly by ``replicas``) — so cand_direct >=
      replicas^2 * cand_base is a theorem on ANY corpus, and that is
      the floor _require'd below. The drop vs the CANONICAL corpus
      (cand_drop_x, what the guardrail buys) is reported — and on this
      corpus also >= replicas^2, asserted by the driving test — but is
      EMPIRICAL, not deterministic: removing non-survivors reshuffles
      the global (df, term) prefix order, so canonical-corpus
      candidates are not in general a subset of base-corpus candidates
      (ADVICE r13).

    Final pairs on both sides run over the survivor corpus PLUS the
    deterministic contained-fragment probe set (the registry entry's
    exact composition) — probes derive from survivors with the same
    rule on both sides, and survivor sets are identical, so the
    identity assertion compares NON-EMPTY equal sets (n_base_pairs > 0
    is _require'd: an empty==empty identity proves nothing — VERDICT
    r13 item 3).
    """
    from etl_tj_project_spark.operators import dedup as dd_ops

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    n_docs = d.count()
    shift = d.agg(F.max("doc_id")).first()[0] + 1
    fam = d.select(
        "doc_id",
        "text",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
    ).select(
        (F.col("doc_id") + F.col("r") * shift).alias("doc_id"),
        "text",
        "n_chars",
    )

    with cache_scope(spark):
        # Direct path: what the verify stage WOULD have to process on the
        # inflated corpus. Candidates only — the full verify is the 32x
        # §25b row and is exactly what the guardrail exists to avoid.
        t0 = time.perf_counter()
        cand_direct = dd_ops.containment_candidate_pairs(
            fam, "doc_id", "text", ngram=3, t_num=4, t_den=5
        ).count()
        sec_direct_cand = round(time.perf_counter() - t0, 4)

        # Theorem floor input: candidates on the UNINFLATED base corpus
        # (every base pair lifts to replicas^2 inflated pairs).
        cand_base = dd_ops.containment_candidate_pairs(
            d, "doc_id", "text", ngram=3, t_num=4, t_den=5
        ).count()

        # Guardrail path: canonicalize (LSH -> CC -> longest-doc survivor)
        # then candidates + exact verify over survivors only.
        t0 = time.perf_counter()
        manifest = dd_ops.canonicalize_near_dup_clusters(
            fam, "doc_id", "text", "n_chars"
        )
        reps = persist(fam.join(
            manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        ))
        n_canonical = reps.count()
        cand_canon = dd_ops.containment_candidate_pairs(
            reps, "doc_id", "text", ngram=3, t_num=4, t_den=5
        ).count()
        pairs_canon = persist(dd_ops.prefix_filter_containment_pairs(
            dd_ops.containment_probe_corpus(reps, "doc_id", "text"),
            "doc_id", "text", ngram=3, t_num=4, t_den=5,
        ))
        n_pairs_canon = pairs_canon.count()
        sec_guardrail = round(time.perf_counter() - t0, 4)

        # Identity: the guardrail's final pairs on the INFLATED corpus must
        # equal the canonical-first pairs on the BASE corpus exactly (both
        # directions of exceptAll; counts already taken double as the
        # cardinality side).
        base_manifest = dd_ops.canonicalize_near_dup_clusters(
            d, "doc_id", "text", "n_chars"
        )
        base_reps = d.join(
            base_manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        base_pairs = persist(dd_ops.prefix_filter_containment_pairs(
            dd_ops.containment_probe_corpus(base_reps, "doc_id", "text"),
            "doc_id", "text", ngram=3, t_num=4, t_den=5,
        ))
        n_base_pairs = base_pairs.count()
        _require(
            n_base_pairs > 0,
            "identity check is vacuous: base canonical+probe corpus "
            "produced 0 containment pairs",
        )
        _require(
            n_pairs_canon == n_base_pairs,
            f"guardrail pair count diverged: {n_pairs_canon} inflated vs "
            f"{n_base_pairs} base",
        )
        diff = pairs_canon.exceptAll(base_pairs).count()
        _require(
            diff == 0,
            f"guardrail pairs diverge from base canonical pairs: {diff} rows",
        )
        floor = replicas * replicas * cand_base
        _require(
            cand_direct >= floor,
            f"copy-lift below the replicas^2 theorem floor: {cand_direct} < "
            f"{replicas}^2 * {cand_base} (base-corpus candidates)",
        )
    return {
        "docs": n_docs * replicas,
        "replicas": replicas,
        "n_canonical": n_canonical,
        "cand_direct": cand_direct,
        "cand_base": cand_base,
        "cand_canonical": cand_canon,
        "cand_drop_x": round(cand_direct / max(cand_canon, 1), 2),
        "pairs_canonical": n_pairs_canon,
        "sec_direct_candidates": sec_direct_cand,
        "sec_guardrail_e2e": sec_guardrail,
    }


def run_jaccard_guardrail_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int = 4,
) -> dict:
    """The §26 guardrail for the SYMMETRIC set-similarity join
    (VERDICT r14 item 4): on a ``replicas``x exact-copy corpus,
    ``dedup_jaccard_canonical``'s composition must produce a pair set
    IDENTICAL to the base corpus's canonical-first run, while the
    direct prefix-filtered Jaccard join's OUTPUT is lifted by at least
    replicas^2 — the §26-measured quadratic term (2.97M -> 197.6M
    pairs at 10x) removed at its source.

    Determinism mirrors :func:`run_containment_guardrail_strain`:
    byte-identical copies share every MinHash band with their
    original, so the inflated LSH graph is the base graph clique-
    lifted, components map 1:1, and each inflated component's
    longest-doc/lowest-id survivor is the base component's survivor —
    canonical sets are equal, hence identical final Jaccard pairs.
    The replicas^2 OUTPUT floor is a theorem on any corpus: exact
    copies have identical token sets, so every base qualifying pair
    (a, b) lifts to replicas^2 qualifying inflated pairs (same J), and
    every non-singleton-token doc additionally forms C(replicas, 2)
    within-family J=1 pairs.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    n_docs = d.count()
    shift = d.agg(F.max("doc_id")).first()[0] + 1
    fam = d.select(
        "doc_id",
        "text",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
    ).select(
        (F.col("doc_id") + F.col("r") * shift).alias("doc_id"),
        "text",
        "n_chars",
    )

    with cache_scope(spark):
        # Direct path on the inflated corpus: the §26 output-bound join.
        t0 = time.perf_counter()
        pairs_direct = dd.prefix_filter_jaccard_pairs(
            fam, "doc_id", "text", 4, 5
        ).count()
        sec_direct = round(time.perf_counter() - t0, 4)

        # Base-corpus direct pairs: the replicas^2 floor input.
        pairs_base_direct = dd.prefix_filter_jaccard_pairs(
            d, "doc_id", "text", 4, 5
        ).count()
        _require(
            pairs_direct >= replicas * replicas * pairs_base_direct,
            f"copy-lift below the replicas^2 output floor: {pairs_direct} "
            f"< {replicas}^2 * {pairs_base_direct}",
        )

        # Guardrail path: canonicalize the INFLATED corpus, then the exact
        # prefix-filtered join over survivors only (the registry entry's
        # composition).
        t0 = time.perf_counter()
        manifest = dd.canonicalize_near_dup_clusters(
            fam, "doc_id", "text", "n_chars"
        )
        reps = persist(fam.join(
            manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        ))
        n_canonical = reps.count()
        pairs_canon = persist(dd.prefix_filter_jaccard_pairs(
            reps, "doc_id", "text", 4, 5
        ))
        n_pairs_canon = pairs_canon.count()
        sec_guardrail = round(time.perf_counter() - t0, 4)

        # Identity vs the base corpus's canonical-first run (non-empty).
        base_manifest = dd.canonicalize_near_dup_clusters(
            d, "doc_id", "text", "n_chars"
        )
        base_reps = d.join(
            base_manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        base_pairs = persist(dd.prefix_filter_jaccard_pairs(
            base_reps, "doc_id", "text", 4, 5
        ))
        n_base_pairs = base_pairs.count()
        _require(
            n_base_pairs > 0,
            "identity check is vacuous: base canonical corpus produced 0 "
            "Jaccard pairs",
        )
        _require(
            n_pairs_canon == n_base_pairs,
            f"guardrail pair count diverged: {n_pairs_canon} inflated vs "
            f"{n_base_pairs} base",
        )
        diff = pairs_canon.exceptAll(base_pairs).count()
        _require(
            diff == 0,
            f"guardrail pairs diverge from base canonical pairs: {diff} rows",
        )
    return {
        "docs": n_docs * replicas,
        "replicas": replicas,
        "n_canonical": n_canonical,
        "pairs_direct": pairs_direct,
        "pairs_base_direct": pairs_base_direct,
        "pairs_canonical": n_pairs_canon,
        "pair_cut_x": round(pairs_direct / max(n_pairs_canon, 1), 2),
        "sec_direct": sec_direct,
        "sec_guardrail_e2e": sec_guardrail,
    }


def run_triangle_guardrail_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int = 4,
) -> dict:
    """The §26 guardrail for graph analytics (VERDICT r14 item 5): on
    a ``replicas``x exact-copy corpus the DIRECT triangle count pays
    the clique-factory lift — and because exact copies make the
    inflated candidate graph the base graph's exact clique lift, the
    lift is a closed form this runner asserts EXACTLY:

        T_direct = T_base * r^3  +  E_base * 2 * r * C(r, 2)
                   +  N_base * C(r, 3)

    (three groups pairwise adjacent / two nodes in one group + one in
    an adjacent group / three nodes in one replica group — every
    replica group is an r-clique because byte-identical copies share
    every band, and inter-group edges are complete bipartite iff the
    base edge exists).

    The guardrail composition (canonicalize -> RESIDUAL-graph
    triangles at the looser bands=8 threshold + analytic per-family
    C(k,3)) must instead return the BASE canonical corpus's residual
    triangle count (survivor sets are equal and residual edges depend
    only on survivor text), with its within-family term equal to
    sum C(k * r, 3) over base component sizes k — combinatorics moved
    into one aggregation over the family manifest instead of an
    enumerated join. The residual graph deliberately uses bands=8:
    at the family graph's own bands=4 the survivor graph is provably
    empty (an edge would have merged the components), which would
    make this identity vacuous (0 == 0).
    """
    from etl_tj_project_spark.operators.graph import triangle_count_oriented

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    n_docs = d.count()
    shift = d.agg(F.max("doc_id")).first()[0] + 1
    fam = d.select(
        "doc_id",
        "text",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
    ).select(
        (F.col("doc_id") + F.col("r") * shift).alias("doc_id"),
        "text",
        "n_chars",
    )

    with cache_scope(spark):
        # Base graph statistics for the closed-form lift.
        base_pairs = persist(dd.lsh_candidate_pairs(d, "doc_id", "text", 8, 4))
        e_base = base_pairs.count()
        t_base = triangle_count_oriented(base_pairs).first()[0]

        # Direct path on the inflated corpus.
        t0 = time.perf_counter()
        direct_pairs = dd.lsh_candidate_pairs(fam, "doc_id", "text", 8, 4)
        direct_pairs = dd.narrow_persisted(direct_pairs, "doc_a")
        t_direct = triangle_count_oriented(direct_pairs).first()[0]
        sec_direct = round(time.perf_counter() - t0, 4)

        r = replicas
        c_r2 = r * (r - 1) // 2
        c_r3 = r * (r - 1) * (r - 2) // 6
        expected_direct = t_base * r**3 + e_base * 2 * r * c_r2 + n_docs * c_r3
        _require(
            t_direct == expected_direct,
            f"clique-lift closed form broken: direct {t_direct} != "
            f"T*r^3 + E*2r*C(r,2) + N*C(r,3) = {expected_direct}",
        )

        # Guardrail path on the inflated corpus.
        t0 = time.perf_counter()
        manifest = persist(dd.canonicalize_near_dup_clusters(
            fam, "doc_id", "text", "n_chars"
        ))
        reps = fam.join(
            manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        surv_pairs = dd.lsh_candidate_pairs(reps, "doc_id", "text", 8, 8)
        surv_pairs = dd.narrow_persisted(surv_pairs, "doc_a")
        t_canon = triangle_count_oriented(surv_pairs).first()[0]
        fam_tri = manifest.agg(
            F.coalesce(
                F.sum(
                    F.expr("n_members * (n_members - 1) * (n_members - 2) DIV 6")
                ),
                F.lit(0),
            ).cast("long")
        ).first()[0]
        sec_guardrail = round(time.perf_counter() - t0, 4)

        # Survivor sets of inflated and base are equal, so the survivor
        # graph (and its triangles) must match the BASE canonical run; the
        # within-family term must equal sum C(k*r, 3) over base components.
        base_manifest = dd.canonicalize_near_dup_clusters(
            d, "doc_id", "text", "n_chars"
        )
        base_reps = d.join(
            base_manifest.select(F.col("canonical_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        base_surv_pairs = dd.lsh_candidate_pairs(
            base_reps, "doc_id", "text", 8, 8
        )
        t_canon_base = triangle_count_oriented(base_surv_pairs).first()[0]
        _require(
            t_canon == t_canon_base,
            f"survivor-graph triangles diverged: {t_canon} inflated vs "
            f"{t_canon_base} base",
        )
        expected_fam = (
            base_manifest.agg(
                F.coalesce(
                    F.sum(
                        F.expr(
                            f"(n_members * {r}) * (n_members * {r} - 1) "
                            f"* (n_members * {r} - 2) DIV 6"
                        )
                    ),
                    F.lit(0),
                ).cast("long")
            ).first()[0]
        )
        _require(
            fam_tri == expected_fam,
            f"within-family analytic count diverged: {fam_tri} != "
            f"sum C(k*{r}, 3) = {expected_fam}",
        )
    return {
        "docs": n_docs * replicas,
        "replicas": replicas,
        "e_base": e_base,
        "t_base": t_base,
        "t_direct": t_direct,
        "t_canonical_graph": t_canon,
        "t_within_family": fam_tri,
        "tri_lift_x": round(t_direct / max(t_base, 1), 2),
        "sec_direct": sec_direct,
        "sec_guardrail_e2e": sec_guardrail,
    }


def run_lcc_second_pass_strain(
    spark: SparkSession,
    sf_dir: str,
    replicas: int = 4,
    threshold_milli: int = 600,
) -> dict:
    """Exact-copy strain theorem for the round-16 second-pass operator
    (the same regime as the jaccard/triangle guardrail runners): on a
    ``replicas``x byte-identical-copy corpus, the LCC-driven second
    pass must emit a delta manifest IDENTICAL to the base corpus's.

    Why it is a theorem on this corpus: byte-identical copies share
    every MinHash band with their original, so pass one's bands=4 CC
    merges each copy group into its original's family; copies have the
    SAME n_chars and strictly larger doc ids (the key-shift
    construction), so the longest-doc/lowest-id survivor of every
    inflated family is the base family's survivor — the survivor SET
    equals the base corpus's. The bands=8 residual graph, the LCC
    statistic, the high-node set, the merge edges, the merged
    components (min survivor ids), the new canonicals, and n_families
    are all functions of the survivor set and text alone. The ONE
    column duplicate mass can touch is n_docs_total (summed pass-one
    n_members): each member family's count lifts exactly replicas-x,
    so the inflated delta equals the base delta with n_docs_total
    scaled by ``replicas`` — asserted row-for-row via exceptAll both
    ways on the rescaled frame, plus base-delta non-vacuity (no 0==0
    green) and the survivor-set equality itself.
    """
    from etl_tj_project_spark.operators.graph import lcc_second_pass_delta

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    n_docs = d.count()
    shift = d.agg(F.max("doc_id")).first()[0] + 1
    fam = d.select(
        "doc_id",
        "text",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
    ).select(
        (F.col("doc_id") + F.col("r") * shift).alias("doc_id"),
        "text",
        "n_chars",
    )

    with cache_scope(spark):
        base_manifest = persist(dd.canonicalize_near_dup_clusters(
            d, "doc_id", "text", "n_chars"
        ))
        t0 = time.perf_counter()
        infl_manifest = persist(dd.canonicalize_near_dup_clusters(
            fam, "doc_id", "text", "n_chars"
        ))
        n_surv_infl = infl_manifest.count()
        sec_canonicalize_infl = round(time.perf_counter() - t0, 4)

        # Survivor-set equality: the copy groups must vanish into their
        # originals' families, leaving exactly the base survivors.
        surv_base = base_manifest.select("canonical_doc_id")
        surv_infl = infl_manifest.select("canonical_doc_id")
        _require(
            surv_base.exceptAll(surv_infl).count() == 0
            and surv_infl.exceptAll(surv_base).count() == 0,
            "inflated survivor set diverged from base",
        )

        delta_base = persist(lcc_second_pass_delta(
            d, base_manifest, threshold_milli=threshold_milli
        ))
        n_base = delta_base.count()
        _require(
            n_base > 0,
            "strain is vacuous: base corpus produced an empty second-pass "
            "delta",
        )
        t0 = time.perf_counter()
        delta_infl = persist(lcc_second_pass_delta(
            fam, infl_manifest, threshold_milli=threshold_milli
        ))
        n_infl = delta_infl.count()
        sec_second_pass_infl = round(time.perf_counter() - t0, 4)

        # Row-for-row identity after rescaling the one mass column.
        # Divisibility is itself part of the theorem (ADVICE r16): float
        # division + cast('long') TRUNCATES, so an inflated n_docs_total
        # wrong by a non-multiple (10 instead of 9 at replicas=3) would
        # rescale to the base value and the exceptAll identity would pass
        # on exactly the divergence this strain exists to catch. Assert
        # exact divisibility first, then rescale with integer DIV.
        n_indivisible = delta_infl.filter(
            F.col("n_docs_total") % replicas != 0
        ).count()
        _require(
            n_indivisible == 0,
            f"inflated n_docs_total not divisible by replicas={replicas} "
            f"on {n_indivisible} delta rows — mass did not scale linearly",
        )
        rescaled = delta_infl.withColumn(
            "n_docs_total",
            F.expr(f"n_docs_total DIV {int(replicas)}"),
        )
        diff = (
            delta_base.exceptAll(rescaled).count()
            + rescaled.exceptAll(delta_base).count()
        )
        _require(
            diff == 0,
            f"second-pass delta diverged from base after /{replicas} "
            f"n_docs_total rescale: {diff} rows",
        )
    return {
        "docs": n_docs * replicas,
        "replicas": replicas,
        "n_survivors": n_surv_infl,
        "delta_rows": n_infl,
        "delta_rows_base": n_base,
        "sec_canonicalize_infl": sec_canonicalize_infl,
        "sec_second_pass_infl": sec_second_pass_infl,
    }
