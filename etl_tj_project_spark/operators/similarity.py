"""Similarity search over embedding columns (array<float>).

Two paths:

* brute_force_topk — exact cosine top-k against a broadcast query vector.
  At 100 TB this is one fully-parallel scan + TakeOrderedAndProject (a
  per-partition heap of k, then a k-sized merge on the driver) — no
  global sort, no shuffle of the payload.
* lsh_topk — random-hyperplane LSH: docs and query hash to sign-bit
  buckets; only the query's bucket (or its Hamming-1 neighborhood) is
  scored. The bucket id is a per-row expression, so building the index
  is one projection; a production pipeline would write it out
  partitioned by bucket for partition-pruned probes.

Hyperplanes are derived from a fixed seed so results are deterministic
and reproducible across engines/runs.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_tj_project_spark.cache import cache_scope, persist
from etl_tj_project_spark.functions.vectors import cosine_similarity, expr_once
from etl_tj_project_spark.operators.dedup import _ensure_parallelism


def brute_force_topk(
    df: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``df`` against a single-row ``query_vec``.

    The query side is crossJoin(broadcast(...)) — one row, so the "join"
    is a free per-partition constant. Ties broken by id for determinism.
    """
    q = F.broadcast(query_vec.select(F.col(qvec_col).alias("__qv")))
    scored = _ensure_parallelism(df).crossJoin(q).select(
        F.col(id_col),
        cosine_similarity(vec_col, "__qv").alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _doubles_sql(xs: list[float]) -> str:
    """SQL text for array(<double literals>). ``repr`` of a Python float
    is the shortest decimal that round-trips through correctly-rounded
    parsing, and the ``D``-suffixed SQL double literal parses through
    Java ``Double.parseDouble`` (correctly rounded) — bit-identical to
    the ``F.lit`` form (property-tested over gauss/uniform/subnormal
    values in tests/test_parity.py::test_doubles_sql_bit_exact)."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in xs) + ")"


def _plane_col(plane: list[float]) -> Column:
    # One F.expr round trip instead of len(plane) F.lit py4j calls: the
    # resulting expression tree (CreateArray of Literal doubles) is
    # identical — this changes CONSTRUCTION cost only (r18, guide §1:
    # ann_pq_trained_topk spent ~1.0 s/run building its 1024-literal
    # codebook column through py4j, vs ~0.25 s executing it).
    return F.expr(_doubles_sql(plane))


def _planes_col(planes: list[list[float]]) -> Column:
    """All planes/centroids as ONE 2-D literal array. Expression-size
    matters: inlining the scoring machinery once per plane (the naive
    form) makes the AST grow linearly in n_planes and Catalyst
    analysis + codegen dominate wall-clock on small inputs; a single
    ``transform`` lambda over this 2-D literal keeps one copy of the
    machinery regardless of n_planes, with identical per-element math.
    Built in ONE F.expr parse (see :func:`_plane_col`) — n_planes x dim
    F.lit py4j round trips were the dominant plan-construction cost."""
    return F.expr(
        "array(" + ",".join(_doubles_sql(p) for p in planes) + ")"
    )


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit p set iff dot(vec, plane_p) > 0.

    One transform lambda over the 2-D plane literal (see
    :func:`_planes_col`); bit p contributes ``1 << p`` exactly as the
    unrolled form did, summed in ascending-p order. For a column NAME
    the constructed tree is memoized (functions.vectors.expr_once,
    r18) — it is identical for every (name, planes) pair and costs
    ~50 py4j round trips to build."""
    if isinstance(vec_col, str):
        key = (
            "lsh_bucket",
            vec_col,
            tuple(tuple(p) for p in planes),
        )
        return expr_once(key, lambda: _lsh_bucket_col(F.col(vec_col), planes))
    return _lsh_bucket_col(vec_col, planes)


def _lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    bits = F.transform(
        _planes_col(planes),
        lambda plane, p: F.when(
            F.aggregate(
                F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            # 1 << p with a Column exponent (F.shiftleft needs a Python
            # int); pow is exact for p << 53 so the cast is lossless.
            F.pow(F.lit(2.0), p.cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, b: a + b)


def lsh_topk(
    df: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only rows in the query's LSH bucket
    neighborhood (multi-probe).

    ``probe_hamming`` sets the probe radius: buckets whose sign-bit id is
    within that Hamming distance of the query's are scanned — radius 1
    probes 1 + n_planes of the 2^n_planes buckets, the standard
    multi-probe recall lever (measured on the 500-vector sf0.01
    embeddings with 8 planes: recall@10 0.04 single-probe → 0.16 at
    radius 1, scanning 9/256 of the data; IVF n_probe=2/8 reaches 0.56
    scanning 1/4). The real sizing rule: pick n_planes so
    2^n_planes ≈ corpus_size / target_bucket_size — 8 planes suits
    ~10^5+ vectors, and recall climbs as buckets fill. The bucket id is
    a per-row expression — at scale it becomes a partition column and
    probing is partition pruning, with exact cosine ranking inside the
    probed buckets.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    q = F.broadcast(
        query_vec.select(
            F.col(qvec_col).alias("__qv"),
            lsh_bucket(qvec_col, planes).alias("__qbucket"),
        )
    )
    bucketed = _ensure_parallelism(df).select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(vec_col, planes).alias("__bucket"),
    )
    return (
        bucketed.crossJoin(q)
        .filter(
            F.bit_count(
                F.col("__bucket").bitwiseXOR(F.col("__qbucket"))
            )
            <= probe_hamming
        )
        .select(
            F.col(id_col),
            cosine_similarity(vec_col, "__qv").alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# --- DuckDB oracle twins ---------------------------------------------------

def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def brute_force_topk_sql(
    table: str, query_id: int, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    dot = _dot_sql(vec_col, "q.__qv")
    na = f"sqrt({_dot_sql(vec_col, vec_col)})"
    nb = "sqrt(" + _dot_sql("q.__qv", "q.__qv") + ")"
    return f"""
    WITH q AS (SELECT {vec_col} AS __qv FROM {table} WHERE {id_col} = {query_id})
    SELECT {id_col},
           CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) END AS cosine
    FROM {table}, q
    ORDER BY cosine DESC, {id_col} LIMIT {k}
    """


def lsh_bucket_sql(vec_col: str, planes: list[list[float]]) -> str:
    parts = []
    for p, plane in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in plane)
        dot = _dot_sql(vec_col, f"[{lits}]")
        parts.append(
            f"CASE WHEN {dot} > 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END"
        )
    return "(" + " + ".join(parts) + ")"


def lsh_topk_sql(
    table: str, query_id: int, k: int = 10, n_planes: int = 8,
    dim: int = 64, seed: int = 7, probe_hamming: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    planes = _hyperplanes(dim, n_planes, seed)
    dot = _dot_sql(vec_col, "q.__qv")
    na = f"sqrt({_dot_sql(vec_col, vec_col)})"
    nb = "sqrt(" + _dot_sql("q.__qv", "q.__qv") + ")"
    bcol = lsh_bucket_sql(vec_col, planes)
    qb = lsh_bucket_sql("q.__qv", planes)
    return f"""
    WITH q AS (SELECT {vec_col} AS __qv FROM {table} WHERE {id_col} = {query_id})
    SELECT {id_col},
           CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) END AS cosine
    FROM {table}, q
    WHERE bit_count(xor({bcol}, {qb})) <= {probe_hamming}
    ORDER BY cosine DESC, {id_col} LIMIT {k}
    """


# --- IVF (inverted-file) ANN ----------------------------------------------

def _scored_cells(
    vec: Column, centroids: list[list[float]] | Column
) -> Column:
    """array< struct(cosine, cell) > over all centroids, via ONE
    transform lambda (identical math and struct ordering to the unrolled
    per-centroid form, ~n_cells× less expression for Catalyst to
    analyze/codegen — the unrolled form made plan compilation, not data,
    the cost on benched inputs). ``centroids`` may be a literal list OR
    an ``array<array<double>>`` Column (e.g. a broadcast-joined training
    table — see :func:`train_kmeans` for why that matters)."""
    cents = (
        centroids
        if isinstance(centroids, Column)
        else _planes_col(centroids)
    )
    return F.transform(
        cents,
        lambda c, i: F.struct(
            cosine_similarity(vec, c).alias("c"), i.alias("cell")
        ),
    )


def _cell_expr(vec: Column, centroids: list[list[float]] | Column) -> Column:
    """argmax_i cosine(vec, centroid_i) as a pure column expression.

    array_max over struct(cosine, cell): struct ordering compares cosine
    first, then cell id — deterministic tie-break, no join, no shuffle.
    """
    return F.array_max(_scored_cells(vec, centroids)).getField("cell")


def _assign_cells_arrow(
    df: DataFrame,
    cents: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, __cell) in one Arrow batch pass — the numpy twin of
    ``_cell_expr`` (argmax cosine, ties to the LARGER cell, zero-norm
    rows fall to the last cell) for callers that don't need bit-stable
    assignment numerics: numpy's pairwise summation can flip argmax on
    near-ties vs the expression's sequential accumulation, so the
    hash-checked oracle entries keep the expression path while the
    rows-only trained entries and the strain bench take this one
    (measured: the HOF assignment was the dominant probe cost).
    Input contract: non-null, fixed-dimension vectors (what the
    trainer's cached projection provides); the expression path is the
    one that null-propagates."""
    import numpy as np

    from pyspark.sql import types as T

    books = np.asarray([cents], dtype=np.float64)
    base = df.select(id_col, vec_col)
    schema = T.StructType(
        list(base.schema.fields)
        + [T.StructField("__cell", T.IntegerType(), False)]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cell = _cosine_codes(_stack_vectors(pdf, vec_col), books)[:, 0]
            out = pdf[[id_col, vec_col]].copy()
            out["__cell"] = cell.astype("int32")
            yield out
        # Empty partitions: an empty generator is valid mapInPandas
        # output — no sentinel frame needed.

    return base.mapInPandas(run, schema=schema)


def ivf_topk(
    df: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assign: str = "expr",
) -> DataFrame:
    """IVF-Flat approximate top-k: every vector is assigned to its
    nearest of ``n_cells`` centroid cells; the query probes its
    ``n_probe`` nearest cells and ranks exactly (cosine) inside them.

    Default centroids are the first ``n_cells`` vectors by id — a
    deterministic stand-in for trained centroids that keeps the operator
    oracle-checkable; pass ``centroids`` (e.g. from
    :func:`train_kmeans`) for trained cells — that changes recall, not
    the plan. The centroid collect is ``n_cells`` rows — constant-size
    driver traffic at any data scale. At 100 TB the cell id becomes a
    partition column: probing ``n_probe`` cells reads
    ``n_probe/n_cells`` of the data, and inside a cell the scan is the
    brute-force path (no shuffle, TakeOrderedAndProject).
    """
    if centroids is not None:
        cents = centroids
    else:
        cents = [
            [float(x) for x in r[1]]
            for r in sorted(
                df.filter(F.col(id_col) < n_cells)
                .select(id_col, vec_col)
                .collect(),
                key=lambda r: r[0],
            )
        ]
    # Centroids enter through a broadcast one-row table, not literals:
    # 8x64 literal arrays make a ~512-node AST that Catalyst re-analyzes
    # and re-JITs per call (the train_kmeans lesson; measured ~0.5 s/run
    # at sf0.1), while the broadcast-column form keeps one compact
    # expression whatever n_cells x dim is.
    cents_df = df.sparkSession.createDataFrame(
        [(cents,)], schema="__cents array<array<double>>"
    )
    # _ensure_parallelism: the assignment is the per-row hot path; an
    # under-split source would run it on one core (no-op when df is
    # already well-partitioned, e.g. the trainer's cache).
    # ``assign``: "expr" (default) keeps the pure column expression —
    # bit-stable sequential numerics mirrored exactly by the DuckDB
    # oracle of the hash-checked entries; "arrow" runs the numpy batch
    # twin (identical tie rule, pairwise-summation numerics) for the
    # rows-only trained entries and the strain bench, where the HOF
    # assignment dominated probe wall-clock.
    if assign not in ("expr", "arrow"):
        raise ValueError(f"unknown ivf_topk assign {assign!r}")
    if assign == "arrow":
        bucketed = _assign_cells_arrow(
            _ensure_parallelism(df), cents, id_col, vec_col
        )
    else:
        bucketed = _ensure_parallelism(df).crossJoin(
            F.broadcast(cents_df)
        ).select(
            F.col(id_col),
            F.col(vec_col),
            expr_once(
                ("ivf_cell", vec_col),
                lambda: _cell_expr(F.col(vec_col), F.col("__cents")),
            ).alias("__cell"),
        )
    # Query side: rank ALL cells by cosine, keep the top n_probe.
    probes = expr_once(
        ("ivf_probes", qvec_col, n_probe),
        lambda: F.slice(
            F.reverse(
                F.array_sort(
                    _scored_cells(F.col(qvec_col), F.col("__cents"))
                )
            ),
            1,
            n_probe,
        ),
    )
    q = F.broadcast(
        query_vec.crossJoin(F.broadcast(cents_df)).select(
            F.col(qvec_col).alias("__qv"),
            F.transform(probes, lambda s: s.getField("cell")).alias("__probe"),
        )
    )
    return (
        bucketed.crossJoin(q)
        .filter(F.array_contains(F.col("__probe"), F.col("__cell")))
        .select(
            F.col(id_col),
            cosine_similarity(vec_col, "__qv").alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# --- Lloyd training: k-means centroids and PQ codebooks --------------------

# Vector-elements budget (n_vectors x dim) at or below which training
# runs as ONE executor-side task instead of the iterative distributed
# loop: ~30 MB of float64 — trivially one task's memory, and below it
# every distributed Lloyd stage is barrier overhead around
# sub-millisecond numpy work (the connected-components §16 lesson
# applied to the trainer).
_KMEANS_SINGLE_TASK_ELEMENTS = 4_000_000


def _cosine_codes(x, books):
    """(n, 1) cell ids against the single book ``books[0]``: argmax
    cosine with ties to the LARGER cell (the struct-max ordering of
    :func:`_cell_expr`); zero-norm rows fall to the last cell."""
    import numpy as np

    c = books[0]
    k = len(c)
    denom = np.outer(np.linalg.norm(x, axis=1), np.linalg.norm(c, axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        scores = np.where(denom > 0, (x @ c.T) / denom, -np.inf)
    return (k - 1 - np.argmax(scores[:, ::-1], axis=1))[:, None]


def _l2_codes(x, books):
    """(n, m) codeword ids: per subspace the L2-nearest codeword, ties
    to the SMALLER id (the array_min ordering of :func:`_pq_codes`)."""
    import numpy as np

    dsub = books.shape[2]
    codes = np.empty((len(x), len(books)), dtype=np.int64)
    for j, b in enumerate(books):
        s = x[:, j * dsub : (j + 1) * dsub]
        d2 = (
            (s * s).sum(axis=1)[:, None]
            - 2.0 * (s @ b.T)
            + (b * b).sum(axis=1)[None, :]
        )
        codes[:, j] = np.argmin(d2, axis=1)
    return codes


def _lloyd_sums(x, books, codes_fn):
    """The Lloyd step: assign every row of ``x`` with ``codes_fn`` and
    return the per-(subspace, codeword) member sums (m x k x dsub) and
    member counts (m x k)."""
    import numpy as np

    m, k, dsub = books.shape
    sums = np.zeros(books.shape)
    counts = np.zeros((m, k), dtype=np.int64)
    codes = codes_fn(x, books)
    for j in range(m):
        s = x[:, j * dsub : (j + 1) * dsub]
        for c in np.unique(codes[:, j]):
            mask = codes[:, j] == c
            sums[j, c] = s[mask].sum(axis=0)
            counts[j, c] = mask.sum()
    return sums, counts


def _lloyd_update(books, sums, counts):
    """(new books, largest per-coordinate movement): each codeword moves
    to sums / counts (bitwise the member mean); empty ones stay put."""
    import numpy as np

    n = counts[..., None]
    new = np.divide(sums, n, out=books.copy(), where=n > 0)
    return new, float(np.max(np.abs(new - books)))


def _stack_vectors(pdf, vec_col: str):
    import numpy as np

    return np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])


def _train_lloyd(
    df: DataFrame,
    k: int,
    m: int,
    iters: int,
    id_col: str,
    vec_col: str,
    tol: float,
    strategy: str,
    codes_fn,
):
    """(books m x k x dsub, persisted training projection): Lloyd over
    ``df`` from init = the first ``k`` vectors by id, split into ``m``
    subspaces. k-means is m = 1 with ``_cosine_codes``; PQ is m books
    with ``_l2_codes``. Only the assignment differs; the update, the
    empty-codeword rule and the ``tol`` early exit are shared.

    ``strategy``: ``"auto"`` trains in ONE executor task when
    n_vectors x dim fits ``_KMEANS_SINGLE_TASK_ELEMENTS`` (at that size
    every distributed stage is job-barrier overhead — measured at
    sf0.1's 2,000x64 embeddings the whole trainer is barriers), else the
    distributed loop that scales to 10^10 vectors; ``"local"`` /
    ``"distributed"`` pin it. Both run :func:`_lloyd_sums` and
    :func:`_lloyd_update` and differ only in float summation order.

    Distributed iteration = Arrow-batched PARTIAL SUMS: each task runs
    the numpy step over its cached partition and emits m*k rows of
    (subspace, codeword, count, per-dim sum); one (j, code, dim) shuffle
    of those partials combines them and the driver divides. Arrow
    batches, not column expressions: higher-order lambdas evaluate per
    ELEMENT with no whole-stage codegen, while the batch does the same
    arithmetic as one numpy matmul (interleaved A/B on the 80k x 64-d
    strain set: 3.4 s -> 0.5 s per iteration, SCALE.md §22). Shuffle
    volume is m*k*partitions rows, independent of the table size;
    driver traffic is m*k*dsub doubles per iteration."""
    import numpy as np
    import pandas as pd

    if strategy not in ("auto", "local", "distributed"):
        raise ValueError(f"unknown Lloyd strategy {strategy!r}")
    # The init collect doubles as the cache materialization: TakeOrdered
    # over the to-be-persisted projection scans the source exactly once.
    # _ensure_parallelism: a small parquet source scans as ONE split,
    # which would run every Lloyd assignment + the caller's probe scan
    # on a single core (measured at sf0.1: each iteration ~1.2 s on one
    # task); at lake scale the input is already well-split and this is
    # a no-op.
    train = persist(_ensure_parallelism(df.select(id_col, vec_col)))
    first = train.orderBy(id_col).select(vec_col).limit(k).collect()
    if len(first) < k:
        raise ValueError(f"need at least {k} vectors, found {len(first)}")
    dim = len(first[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    books = np.asarray([r[0] for r in first], dtype=np.float64)
    books = np.ascontiguousarray(books.reshape(k, m, dim // m).swapaxes(0, 1))
    if strategy == "auto":
        # count() runs over the just-materialized cache — cheap, and the
        # honest size signal (row width comes from the init vectors).
        fits = train.count() * dim <= _KMEANS_SINGLE_TASK_ELEMENTS
        strategy = "local" if fits else "distributed"
    if strategy == "local":
        # ONE executor task (coalesce(1) + mapInPandas) over every row
        # stacked in id order; driver traffic is the trained books'
        # collect, same as one distributed iteration.
        def run(batches, b=books):
            pdfs = [pdf for pdf in batches if len(pdf)]
            ids = np.concatenate([pdf[id_col].to_numpy() for pdf in pdfs])
            x = np.vstack([_stack_vectors(pdf, vec_col) for pdf in pdfs])
            x = x[np.argsort(ids, kind="stable")]
            for _ in range(iters):
                b, moved = _lloyd_update(b, *_lloyd_sums(x, b, codes_fn))
                if moved < tol:
                    break
            yield pd.DataFrame(
                {"j": range(len(b)), "book": [bj.tolist() for bj in b]}
            )

        rows = (
            train.coalesce(1)
            .mapInPandas(run, schema="j long, book array<array<double>>")
            .collect()
        )
        rows.sort(key=lambda r: r["j"])
        return np.asarray([r["book"] for r in rows]), train

    for _ in range(iters):

        def partials(batches, _b=books):
            sums = np.zeros(_b.shape)
            counts = np.zeros(_b.shape[:2], dtype=np.int64)
            for pdf in batches:
                if len(pdf):  # empty Arrow batch: vstack would raise
                    x = _stack_vectors(pdf, vec_col)
                    s, c = _lloyd_sums(x, _b, codes_fn)
                    sums += s
                    counts += c
            j, code = np.indices(counts.shape)
            yield pd.DataFrame(
                {
                    "j": j.ravel(),
                    "code": code.ravel(),
                    "cnt": counts.ravel(),
                    "s": [r.tolist() for r in sums.reshape(-1, _b.shape[2])],
                }
            )

        rows = (
            train.mapInPandas(
                partials, schema="j long, code long, cnt long, s array<double>"
            )
            .select("j", "code", "cnt", F.posexplode("s").alias("dim", "v"))
            .groupBy("j", "code", "dim")
            .agg(F.sum("v").alias("sv"), F.sum("cnt").alias("cn"))
            .collect()
        )
        sums = np.zeros(books.shape)
        counts = np.zeros(books.shape[:2], dtype=np.int64)
        for r in rows:
            sums[r["j"], r["code"], r["dim"]] = r["sv"]
            counts[r["j"], r["code"]] = r["cn"]
        books, moved = _lloyd_update(books, sums, counts)
        if moved < tol:
            break
    return books, train


def train_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-4,
    strategy: str = "auto",
) -> list[list[float]]:
    """Lloyd's k-means over an embedding column; returns the trained
    centroids (feed them to :func:`ivf_topk` for trained IVF cells).

    Assignment is argmax cosine with ties to the larger cell (the rule
    of :func:`_cell_expr`), evaluated by numpy over Arrow batches; the
    update is the member mean (strategies: :func:`_train_lloyd`).
    Deterministic: init = first k vectors by id; empty cells keep their
    previous centroid. The distributed strategy's sums are shuffle-order
    dependent in the last ulp, so its centroids are reproducible in
    value but not bitwise — callers needing bitwise stability should
    round.

    ``iters`` is a CAP, not a count: the loop exits as soon as the
    largest per-coordinate centroid movement drops below ``tol``;
    Lloyd's movement shrinks geometrically on clustered data, so the cap
    is rarely reached.
    """
    with cache_scope(df.sparkSession):
        cents, _ = train_kmeans_with_cache(
            df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, tol=tol,
            strategy=strategy,
        )
    return cents


def train_kmeans_with_cache(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-4,
    strategy: str = "auto",
) -> tuple[list[list[float]], DataFrame]:
    """:func:`train_kmeans`, but also returns the STILL-PERSISTED
    ``(id, vec)`` training projection so the caller can run the
    search/probe phase (``ivf_topk``'s assignment scan, the query-vector
    pull) over the same cache instead of re-scanning the source — the
    trained-ANN entries went from four source scans per run (init, cache
    materialization, query pull, probe scan) to ONE. The cache belongs to
    the caller's ``cache_scope`` (or the session). MEMORY_AND_DISK via
    the default persist(): at 10^10 vectors the working set spills
    rather than recomputes, and partially-cached partitions stay correct.
    """
    books, train = _train_lloyd(
        df, k, 1, iters, id_col, vec_col, tol, strategy, _cosine_codes
    )
    return books[0].tolist(), train


# --- PQ (product quantization) ANN ----------------------------------------

def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, accumulated in array order (JVM-side)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _pq_codes(vec: Column, codebooks_col: Column, dsub: int) -> Column:
    """array<int> of length m: per subspace, the id of the L2-nearest
    codeword. One transform lambda over the 3-D codebook literal/column
    (array<m> of array<ksub> of array<dsub>) — expression size is
    constant in m and ksub (the per-centroid unrolled form would make
    Catalyst analysis the dominant cost; see _planes_col). array_min
    over struct(dist, cell) breaks ties toward the smaller codeword id.
    """
    return F.transform(
        codebooks_col,
        lambda book, j: F.array_min(
            F.transform(
                book,
                lambda c, i: F.struct(
                    _l2sq(F.slice(vec, j * dsub + 1, dsub), c).alias("d"),
                    i.alias("cell"),
                ),
            )
        ).getField("cell"),
    )


def train_pq(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-4,
    strategy: str = "auto",
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector is split into
    ``m`` contiguous subspaces and each gets its own ``ksub``-codeword
    L2 k-means codebook. Returns ``codebooks[j][i] = centroid i of
    subspace j`` (list of m lists of ksub vectors of dim/m doubles).

    All m subspaces train JOINTLY in the one Lloyd loop of
    :func:`_train_lloyd` — one scan per iteration encodes every row
    (per-subspace L2 argmin, ties to the smaller codeword, the rule of
    :func:`_pq_codes`), so the cost per iteration is independent of m.
    Deterministic init: subspace j seeds from the first ksub vectors by
    id, so retrains reproduce. ``iters`` is a cap with a
    movement-threshold early exit like train_kmeans.
    """
    with cache_scope(df.sparkSession):
        books, _ = train_pq_with_cache(
            df, m=m, ksub=ksub, iters=iters,
            id_col=id_col, vec_col=vec_col, tol=tol, strategy=strategy,
        )
    return books


def train_pq_with_cache(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-4,
    strategy: str = "auto",
) -> tuple[list[list[list[float]]], DataFrame]:
    """:func:`train_pq`, but also returns the STILL-PERSISTED
    ``(id, vec)`` training projection for the caller's encode/ADC scan —
    same single-source-scan contract as :func:`train_kmeans_with_cache`;
    the cache belongs to the caller's ``cache_scope`` (or the session)."""
    books, train = _train_lloyd(
        df, ksub, m, iters, id_col, vec_col, tol, strategy, _l2_codes
    )
    return books.tolist(), train


def _pq_encode_arrow(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, __codes) in one Arrow batch pass — the numpy twin of
    ``_pq_codes`` (per-subspace L2 argmin, ties to the SMALLER
    codeword). Same stability caveat as :func:`_assign_cells_arrow`:
    rows-only callers only."""
    import numpy as np

    from pyspark.sql import types as T

    books = np.asarray(codebooks, dtype=np.float64)
    base = df.select(id_col, vec_col)
    schema = T.StructType(
        list(base.schema.fields)
        + [T.StructField("__codes", T.ArrayType(T.IntegerType()), False)]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _l2_codes(_stack_vectors(pdf, vec_col), books)
            out = pdf[[id_col, vec_col]].copy()
            out["__codes"] = [row.tolist() for row in codes]
            yield out

    return base.mapInPandas(run, schema=schema)


def pq_topk(
    df: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    iters: int = 5,
    encode: str = "expr",
) -> DataFrame:
    """PQ-ADC approximate top-k with exact rerank.

    Scan path (the point of PQ at 100 TB: the scan touches m bytes of
    code per vector, not dim floats — at scale the codes are
    precomputed into a ``array<tinyint>`` column ~dim*4/m× smaller than
    the embeddings, and this operator's encode step becomes a column
    read): every row's m codewords are looked up in the query's
    asymmetric-distance table (ADC LUT: ||q_j - c_ji||² for all m*ksub
    codewords, computed ONCE on the broadcast one-row query side), so
    per-row work is m adds. The ``k * oversample`` best ADC candidates
    (TakeOrderedAndProject — per-partition heaps, no global sort) are
    reranked by EXACT cosine; ties break by id. Returns
    (id, approx_l2sq, cosine) — scalar columns only.
    """
    if codebooks is None:
        codebooks = train_pq(
            df, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col
        )
    dsub = len(codebooks[0][0])
    # Codebooks enter through a broadcast one-row table, not literals —
    # the same move ivf_topk already makes for its centroids (and for
    # the same reason): the m*ksub*dsub literal tree (1024 doubles at
    # the default shape) cost ~1.0 s/run just to CONSTRUCT through py4j
    # and made Catalyst re-analyze/re-JIT a fresh giant AST per call,
    # while the broadcast-column form keeps one compact expression
    # whatever m x ksub x dsub is (r18; measured 1.77 -> ~0.9 s on the
    # trained entry). Identical per-element math: the column holds the
    # exact trained doubles.
    books_df = df.sparkSession.createDataFrame(
        [(codebooks,)], schema="__books array<array<array<double>>>"
    )
    # Query side: the ADC lookup table, evaluated once per query row
    # (broadcast single-row build side), not per scanned row. The tree
    # depends only on (qvec_col, dsub) — memoized (expr_once, r18).
    lut = expr_once(
        ("pq_lut", qvec_col, dsub),
        lambda: F.transform(
            F.col("__books"),
            lambda book, j: F.transform(
                book,
                lambda c: _l2sq(
                    F.slice(F.col(qvec_col), j * dsub + 1, dsub), c
                ),
            ),
        ),
    )
    q = F.broadcast(
        query_vec.crossJoin(F.broadcast(books_df)).select(
            F.col(qvec_col).alias("__qv"), lut.alias("__lut")
        )
    )
    # _ensure_parallelism: the m-subspace encode is the per-row hot path
    # (no-op when df is already well-partitioned, e.g. the trainer's
    # cache). ``encode``: "expr" keeps the pure column expression;
    # "arrow" runs the numpy batch twin (identical smaller-codeword tie
    # rule) for the rows-only trained entry and the strain bench — the
    # m*ksub*dsub distance evaluations per row were the dominant ADC
    # scan cost under the HOF expression.
    if encode not in ("expr", "arrow"):
        raise ValueError(f"unknown pq_topk encode {encode!r}")
    if encode == "arrow":
        encoded = _pq_encode_arrow(
            _ensure_parallelism(df), codebooks, id_col, vec_col
        )
    else:
        encoded = (
            _ensure_parallelism(df)
            .crossJoin(F.broadcast(books_df))
            .select(
                F.col(id_col),
                F.col(vec_col),
                expr_once(
                    ("pq_codes", vec_col, dsub),
                    lambda: _pq_codes(
                        F.col(vec_col), F.col("__books"), dsub
                    ),
                ).alias("__codes"),
            )
        )
    adc = expr_once(
        ("pq_adc",),
        lambda: F.aggregate(
            F.zip_with(
                F.col("__codes"),
                F.col("__lut"),
                lambda code, row: F.element_at(row, code + 1),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    cands = (
        encoded.crossJoin(q)
        .select(
            F.col(id_col), F.col(vec_col), F.col("__qv"),
            adc.alias("approx_l2sq"),
        )
        .orderBy(F.col("approx_l2sq"), F.col(id_col))
        .limit(k * oversample)
    )
    return (
        cands.select(
            F.col(id_col),
            "approx_l2sq",
            cosine_similarity(vec_col, "__qv").alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """(id, pq_code array<int>) — the stored-codes form of the index.

    Production PQ writes this ONCE at ingest (dim*4 bytes -> m small
    ints per vector) and the ANN scan then reads codes instead of
    embeddings; :func:`pq_topk` encodes on the fly only because the
    registry entry must be self-contained. Encoding is a pure column
    expression (one transform over the 3-D codebook literal), so the
    write is a fully parallel projection.
    """
    dsub = len(codebooks[0][0])
    books_lit = F.array(*[
        F.array(*[_plane_col(c) for c in book]) for book in codebooks
    ])
    return df.select(
        F.col(id_col), _pq_codes(F.col(vec_col), books_lit, dsub).alias(code_col)
    )


# --- k-NN JOIN (batch ANN: every query row gets its top-k) -----------------

def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN JOIN: for EVERY query row, the top-``k`` data
    rows by cosine among its LSH probe buckets — the batch form of ANN
    (single-query ``lsh_topk`` broadcast one vector; a training-data
    pipeline needs neighbors for millions of rows at once).

    The Hamming-radius probe is rewritten as an EQUI-join: each query
    replicates to its ``1 + n_planes`` probe buckets (own bucket + each
    single bit flipped — exactly the Hamming<=1 ball) via an in-row
    explode, and candidates meet on the bucket id. That makes the join
    shuffle-partitionable on the bucket key — at 100 TB the data side is
    WRITTEN partitioned by bucket, so each probe reads only its
    buckets; a distance-predicate theta-join would be a cross product.
    Ranking is one (query)-keyed window over candidates with a
    deterministic (cosine DESC, id) order.

    Scale shape: one projection per side, one bucket-keyed shuffle
    join (bucket skew = ordinary equi-join skew, AQE splits it), one
    query-keyed window. No driver-side state of any size.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    b_data = data.select(
        F.col(id_col).alias("__nid"),
        F.col(vec_col).alias("__nv"),
        lsh_bucket(vec_col, planes).alias("__bucket"),
    )
    qb = lsh_bucket(vec_col, planes)
    probes = F.array(
        *([qb] + [qb.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)])
    )
    b_q = queries.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).alias("__qv"),
        F.explode(probes).alias("__bucket"),
    )
    from pyspark.sql import Window as _W

    cand = b_q.join(b_data, "__bucket").select(
        "__qid",
        "__nid",
        cosine_similarity("__qv", "__nv").alias("__cos"),
    )
    rn = F.row_number().over(
        _W.partitionBy("__qid").orderBy(F.col("__cos").desc(), "__nid")
    )
    return (
        cand.withColumn("__rn", rn)
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__nid").alias("neighbor_id"),
            F.col("__rn").cast("int").alias("rank"),
            F.round("__cos", 9).alias("cosine"),
        )
    )
