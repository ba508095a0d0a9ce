"""Unit tests for UD1/UD2 semantics against the measured values in
SURVEY §5 (norm_body lossy cases) and the reference's case table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_tj_project_spark.functions.cleaning import norm_body, to_bool_safe

NORM_CASES = [
    # (raw, expected) — measured from the reference's own examples
    ("KLG4590", "KLG-459"),       # >3-digit run truncates to 3 (lossy)
    ("BRT53_A", "BRT-053"),       # short digit run zero-pads; suffix dropped
    ("BRT367", "BRT-367"),
    ("LGS4315-", "LGS-431"),
    ("KLG1916A", "KLG-191"),
    ("BRT1000_A", "BRT-100"),
    ("BRT322-B", "BRT-322"),
    ("brt12", "BRT-012"),          # lowercase letters uppercased
    ("  ", None),                  # stripped-empty → NULL
    ("", None),
    (None, None),
    ("1234", None),                # no 3 consecutive letters → NULL concat
    ("AB12CD", None),              # letters never 3-consecutive → NULL
    ("ABCDEF", None),              # no digits → NULL
    ("--a1b2c3--", None),          # alnum 'a1b2c3' has no 3-letter run
]

BOOL_CASES = [
    ("True", True), ("TRUE", True), ("t", True), ("1", True),
    ("y", True), ("YES", True), ("yes", True),
    ("False", False), ("f", False), ("0", False), ("n", False),
    ("NO", False), ("no", False),
    ("", None), (None, None), ("junk", None), ("2", None),
]


def _run(spark, cases, expr_builder, out_type):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], "id long, s string"
    )
    rows = (
        df.select("id", expr_builder(F.col("s")).alias("out"))
        .orderBy("id")
        .collect()
    )
    got = [r["out"] for r in rows]
    want = [exp for _, exp in cases]
    assert got == want


def test_norm_body_semantics(spark):
    _run(spark, NORM_CASES, norm_body, "string")


def test_to_bool_safe_semantics(spark):
    _run(spark, BOOL_CASES, to_bool_safe, "boolean")


def test_to_bool_safe_on_non_string_input(spark):
    # anyelement semantics: ints coerce via text form
    df = spark.createDataFrame([(1,), (0,), (7,)], "x int")
    got = [
        r["b"]
        for r in df.select(to_bool_safe(F.col("x")).alias("b")).collect()
    ]
    assert got == [True, False, None]


def test_norm_body_distinct_key_compression(spark):
    """Different raw bodies that normalize to the same key (the fan-out
    mechanism: 515 raw → 487 keys in the reference data)."""
    raws = ["KLG4590", "KLG-4591", "klg459x9"]
    df = spark.createDataFrame([(r,) for r in raws], "s string")
    keys = {
        r["k"] for r in df.select(norm_body(F.col("s")).alias("k")).collect()
    }
    assert keys == {"KLG-459"}


# --------------------------------------------------------------------------
# Curation-pack semantic properties (the parts an oracle hash can't state)
# --------------------------------------------------------------------------

def test_split_fractions_near_nominal(spark):
    """The MD5 split must land near 80/10/10 and be disjoint+total."""
    from etl_tj_project_spark import harness
    from tests.conftest import SF_SMOKE

    rows = (
        harness.REGISTRY["corpus_split_assign"]
        .spark(spark, SF_SMOKE)
        .groupBy("split")
        .count()
        .collect()
    )
    got = {r["split"]: r["count"] for r in rows}
    total = sum(got.values())
    assert set(got) <= {"train", "val", "test"}
    # 50 docs at sf0.001 — loose bounds, but a broken bucketing (all-train
    # or uniform thirds) fails decisively.
    assert got.get("train", 0) / total > 0.6
    assert got.get("train", 0) / total < 0.95


def test_split_is_stable_under_reexecution(spark):
    from etl_tj_project_spark import harness
    from tests.conftest import SF_SMOKE

    q = harness.REGISTRY["corpus_split_assign"].spark
    a = sorted(map(tuple, q(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, q(spark, SF_SMOKE).collect()))
    assert a == b


def test_pack_sequences_monotone_within_source(spark):
    """pack_id must be non-decreasing in doc_id within each source and
    start at 0 — the invariant the fixed-offset binning guarantees."""
    from etl_tj_project_spark import harness
    from tests.conftest import SF_SMOKE

    rows = (
        harness.REGISTRY["corpus_pack_sequences"]
        .spark(spark, SF_SMOKE)
        .collect()
    )
    by_source: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append((r["doc_id"], r["pack_id"]))
    for source, pairs in by_source.items():
        pairs.sort()
        packs = [p for _, p in pairs]
        assert packs[0] == 0, source
        assert all(a <= b for a, b in zip(packs, packs[1:])), source


def test_connected_components_are_consistent_with_pairs(spark):
    """Every candidate pair must land in one component, and every
    component id must be the minimum doc_id of its member set."""
    from etl_tj_project_spark import harness
    from tests.conftest import SF_SMOKE

    pairs = harness.REGISTRY["dedup_minhash_lsh"].spark(spark, SF_SMOKE).collect()
    comp = {
        r["node"]: r["component_id"]
        for r in harness.REGISTRY["dedup_connected_components"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    for r in pairs:
        assert comp[r["doc_a"]] == comp[r["doc_b"]]
    members: dict[int, list[int]] = {}
    for node, c in comp.items():
        members.setdefault(c, []).append(node)
    for c, nodes in members.items():
        assert c == min(nodes)


def test_connected_components_raises_when_unconverged(spark):
    """A chain deeper than max_iter hops must raise, not silently return
    labels that violate the min-reachable-node invariant."""
    import pytest

    from etl_tj_project_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, strategy="distributed")
    # and a sufficient max_iter resolves the same chain to component 0
    out = connected_components(
        chain, max_iter=10, strategy="distributed"
    ).collect()
    assert {r.component_id for r in out} == {0}


def test_connected_components_strategies_and_dials_equivalent(spark):
    """All execution shapes must produce identical labels: the local
    single-task union-find (auto's pick for small graphs), the
    distributed loop, and its reliable-checkpoint cluster regime —
    strategy and checkpoint regime are performance/fault-tolerance
    knobs, never semantic ones."""
    from etl_tj_project_spark.operators.dedup import (
        connected_components,
        release_components,
    )

    graphs = [
        # two chains + an isolated pair: multi-round convergence
        [(i, i + 1) for i in range(6)] + [(10, 11), (11, 12), (20, 21)],
        # a long chain (many doubling rounds) + a triangle + a pair
        [(i, i + 1) for i in range(1, 60)]
        + [(200, 201), (201, 202), (200, 202), (500, 999)],
    ]
    firsts = []
    for graph in graphs:
        edges = spark.createDataFrame(graph, "doc_a long, doc_b long")
        results = []
        for kwargs in (
            {"strategy": "local"},
            {"strategy": "distributed"},
            {"strategy": "distributed", "reliable": True},
        ):
            labels = connected_components(edges, **kwargs)
            results.append(
                sorted((r.node, r.component_id) for r in labels.collect())
            )
            release_components(labels)
        assert all(r == results[0] for r in results[1:])
        firsts.append(dict(results[0]))
    comp, chain = firsts
    assert comp[5] == 0 and comp[12] == 10 and comp[21] == 20
    assert chain[60] == 1 and chain[202] == 200 and chain[999] == 500
    assert len(set(chain.values())) == 3
    with pytest.raises(ValueError, match="strategy"):
        connected_components(edges, strategy="star")


def test_connected_components_releases_all_caches(spark):
    """Repeated collect+release cycles must not grow the JVM's
    persistent-RDD set, in EITHER strategy: DataFrame.unpersist() is a
    no-op for local-checkpoint blocks, so the distributed loop frees
    stale rounds by RDD id and hands the final round's blocks (local
    strategy: the symmetrized-edge cache) to release_components."""
    from etl_tj_project_spark.operators.dedup import (
        _persistent_rdd_ids,
        connected_components,
        release_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(9, 10)], ["doc_a", "doc_b"]
    )
    sc = spark.sparkContext
    baseline = _persistent_rdd_ids(sc)
    for strategy in ("local", "distributed"):
        for _ in range(2):
            labels = connected_components(edges, strategy=strategy)
            labels.collect()
            release_components(labels)
        leaked = _persistent_rdd_ids(sc) - baseline
        assert not leaked, f"{strategy}: leaked persistent RDD ids: {leaked}"


def test_release_components_rejects_transformed_frame(spark):
    """Transformations drop the cache-ownership markers, so releasing a
    derived frame would silently leak the blocks — it must raise, not
    no-op (ADVICE r7)."""
    import pytest

    from etl_tj_project_spark.operators.dedup import (
        connected_components,
        release_components,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    labels = connected_components(edges)
    with pytest.raises(ValueError, match="exact DataFrame"):
        release_components(labels.select("node"))
    release_components(labels)  # the exact frame still releases fine


def test_reliable_checkpoint_files_are_cleaned(spark, tmp_path):
    """The reliable regime must not accrete one checkpoint-file set per
    probe round for the life of the machine (ADVICE r7): superseded
    rounds' rdd-* dirs are deleted as each probe completes, and
    release_components removes the final round's files."""
    from etl_tj_project_spark.operators.dedup import (
        _ckpt_child_dirs,
        connected_components,
        release_components,
    )

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ck"))
    # A 7-chain needs several pointer-doubling rounds -> several probes.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], ["doc_a", "doc_b"]
    )
    labels = connected_components(
        edges, strategy="distributed", reliable=True
    )
    got = sorted((r.node, r.component_id) for r in labels.collect())
    assert got == [(i, 0) for i in range(8)]
    # Only the final round's checkpoint files may remain live.
    live = _ckpt_child_dirs(sc)
    assert len(live) <= 1, f"superseded checkpoint dirs leaked: {live}"
    release_components(labels)
    assert not _ckpt_child_dirs(sc), "final checkpoint files leaked"


def test_connected_components_string_ids_single_task(spark):
    """Doc ids are not always integers; the numpy single-task core maps
    ids to sorted-order indices, so 'min node' must mean lexicographic
    min for strings — end-to-end through the local strategy."""
    import numpy as np

    from etl_tj_project_spark.operators.dedup import (
        connected_components,
        numpy_min_label_components,
        release_components,
    )

    nodes, labs = numpy_min_label_components(
        np.array(["b", "c", "x"]), np.array(["a", "b", "y"])
    )
    assert dict(zip(nodes.tolist(), labs.tolist())) == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x"
    }
    edges = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-c", "doc-b"), ("doc-z", "doc-y")],
        ["doc_a", "doc_b"],
    )
    labels = connected_components(edges, strategy="local")
    got = {r["node"]: r["component_id"] for r in labels.collect()}
    release_components(labels)
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "doc-y": "doc-y", "doc-z": "doc-y",
    }


def test_resize_thumbnail_clamps_longer_side(spark):
    """Portrait media (h > w) must clamp height to max_side, not scale it
    off the width — the round-1 clamp-width-only bug."""
    from pyspark.sql import functions as F

    from etl_tj_project_spark.operators import multimodal as mm

    rows = [
        (1, b"x" * 32, 32, 1000),   # portrait: 32x1000 -> 2x64
        (2, b"x" * 200, 200, 50),   # landscape: 200x50 -> 64x16
        (3, b"x" * 10, 10, 8),      # small: untouched
        (4, b"", 0, 100),           # degenerate zero width -> >=1
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "media_bytes", "w", "h"]
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "media_bytes",
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("fake").alias("format"),
            F.col("w").cast("int").alias("width"),
            F.col("h").cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media_meta"),
    )
    got = {
        r.doc_id: (r.thumb_w, r.thumb_h)
        for r in mm.resize_thumbnail(df, max_side=64).collect()
    }
    assert got[1] == (2, 64)
    assert got[2] == (64, 16)
    assert got[3] == (10, 8)
    assert got[4][0] >= 1 and got[4][1] == 64
    assert all(tw <= 64 and th <= 64 for tw, th in got.values())


def test_union_find_labels_property_random_graphs():
    """Pure-Python property check of the local strategy's core: on 300
    random graphs, union_find_labels AND the vectorized
    numpy_min_label_components (the single-task implementation since
    round 8) must equal a brute-force BFS min-reachable-node labeling
    (the Spark-level strategy equality test covers the plumbing; this
    covers both algorithms at volume)."""
    import random

    import numpy as np

    from etl_tj_project_spark.operators.dedup import (
        numpy_min_label_components,
        union_find_labels,
    )

    rng = random.Random(20260814)
    for _ in range(300):
        n_nodes = rng.randint(1, 25)
        n_edges = rng.randint(0, 40)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        sym = edges + [(b, a) for a, b in edges]
        got = union_find_labels(sym)
        if sym:
            nodes_np, labs_np = numpy_min_label_components(
                np.array([a for a, _ in sym]),
                np.array([b for _, b in sym]),
            )
            got_np = dict(zip(nodes_np.tolist(), labs_np.tolist()))
            assert got_np == got, (edges, got_np, got)
        # brute-force BFS reference
        adj: dict[int, set[int]] = {}
        for a, b in sym:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        seen: set[int] = set()
        for start in adj:
            if start in seen:
                continue
            comp, frontier = {start}, [start]
            while frontier:
                x = frontier.pop()
                for y in adj[x]:
                    if y not in comp:
                        comp.add(y)
                        frontier.append(y)
            seen |= comp
            rep = min(comp)
            for x in comp:
                want[x] = rep
        assert got == want, (edges, got, want)
