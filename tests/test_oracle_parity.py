"""The local correctness gate: every query in the harness registry must
hash-match its DuckDB oracle at sf0.001 (the driver repeats this at
sf0.01). A query without an oracle gets a rows-run smoke check.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_tj_project_spark import harness
from tests.conftest import SF_SMOKE
from tests.oracle_compare import (
    compare,
    driver_canonicalize_check,
    duck_connection,
)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="module")
def pinned_pairs():
    # Exactly what the driver sees: pinned builders + pinned oracle SQL,
    # in driver-window order.
    return harness.queries(), harness.oracle_sql()


# Queries that legitimately return 0 rows at sf0.001 (the smoke scale is
# too small to populate their predicate). Each must still be non-vacuous
# at the driver's sf0.01 — keep this list empty unless a query PROVES it
# has rows at sf0.01 and genuinely cannot at sf0.001.
NONEMPTY_EXEMPT: set[str] = set()


@pytest.mark.parametrize("name", sorted(harness.REGISTRY))
def test_query_matches_oracle(spark, duck, name, pinned_pairs):
    qs, oracles = pinned_pairs
    df = qs[name](spark, SF_SMOKE)
    if name not in oracles:
        # Non-SQL-expressible: execute and require a stable schema + rows.
        # The driver still pandas-canonicalizes rows-only results for its
        # row-count record, so they must survive that path too.
        rows = [tuple(r) for r in df.collect()]
        assert df.columns, name
        assert rows, f"{name}: rows-only entry returned 0 rows (vacuous)"
        driver_canonicalize_check(df.columns, rows)
        return
    # Non-vacuity (the tpch_q22ish lesson): a hash match on an empty
    # result proves nothing — require rows unless explicitly exempted.
    if name not in NONEMPTY_EXEMPT:
        assert df.limit(1).count() == 1, (
            f"{name}: 0 rows at sf0.001 — vacuous oracle check"
        )
    compare(df, duck, oracles[name])


def test_driver_window_is_first_50():
    window = harness.driver_window()
    ordered = list(harness.ordered_registry())
    assert ordered[:50] == window
    assert len(window) == 50
    assert set(ordered) == set(harness.REGISTRY)
    assert all(harness.REGISTRY[n].oracle for n in harness.REATTEST)


_CORE = [
    "p1_typed_projection",
    "j1_inner_join_fanout",
    "a1_agg_by_card",
    "u2_two_branch_union_agg",
]


def test_driver_window_rule_on_synthetic_ledger(tmp_path, monkeypatch):
    """The window rule on a three-round ledger: core, never-green in
    registration order, pending re-attests, then oldest green by
    (round, record position); rows-only entries never get a slot."""
    import json

    cohort = [f"c{i:02d}" for i in range(60)]
    names = _CORE + ["never_a", "redone_old", "redone_done", "never_b",
                     "stale_x", "stale_y", "rows_only", *reversed(cohort)]
    registry = {n: harness.Entry(spark=None, oracle="SELECT 1") for n in names}
    registry["rows_only"].oracle = None
    monkeypatch.setattr(harness, "REGISTRY", registry)
    monkeypatch.setattr(
        harness,
        "REATTEST",
        {"redone_old": 3, "rows_only": 3, "redone_done": 3},
    )

    def green(**kw):
        return {"rows_match": True, "err": None, **kw}

    rounds = {
        1: {**{n: green() for n in _CORE}, "redone_old": green(),
            "redone_done": green(), "stale_y": green(), "stale_x": green()},
        # A red row (err set, or rows_match False) is not a green.
        2: {"never_a": green(err="boom"), "never_b": green(rows_match=False),
            "rows_only": green(),
            **{n: green() for n in cohort[:30]}},
        3: {**{n: green() for n in cohort[30:]}, "redone_done": green()},
    }
    for rnd, rec in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rec))

    window = harness.driver_window(str(tmp_path))
    assert len(window) == 50
    assert window[:4] == _CORE
    assert window[4:6] == ["never_a", "never_b"]
    # redone_old's newest green (r1) is below its round: it is placed;
    # redone_done has a green at r3 and falls back into the rotation.
    assert window[6] == "redone_old"
    assert "rows_only" not in window
    # Rotation: the r1 greens first, then r2 (record order, not
    # registration order), then r3, cut at 50.
    assert window[7:] == ["stale_y", "stale_x", *cohort[:41]]

    # Once the ledger shows redone_old green at its round, the
    # re-attest slot expires by itself.
    (tmp_path / "CORRECTNESS_r04.json").write_text(
        json.dumps({"redone_old": green()})
    )
    assert "redone_old" not in harness.driver_window(str(tmp_path))


def test_driver_window_on_committed_ledger(tmp_path, monkeypatch):
    """The r19 window from the committed CORRECTNESS_r01..r18 ledger:
    the core, the three re-attests, the four r12-cohort entries the r18
    window deferred, then 39 of the r13 cohort in its record order.
    Later records and REATTEST edits change the live window, not this."""
    import json
    import shutil
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    for rnd in range(1, 19):
        shutil.copy(root / f"CORRECTNESS_r{rnd:02d}.json", tmp_path)
    monkeypatch.setattr(harness, "REATTEST", {
        "dedup_prefix_filter_jaccard": 19,
        "dedup_containment_ngram": 19,
        "decontaminate_13gram": 19,
    })
    window = harness.driver_window(str(tmp_path))
    assert window[:11] == _CORE + list(harness.REATTEST) + [
        "assoc_rules_support_lift",
        "interval_prorate_weekly",
        "winsorize_price_p05_p95",
        "running_max_drawdown",
    ]
    r13 = json.loads((root / "CORRECTNESS_r13.json").read_text())
    assert window[11:] == [n for n in r13 if n in window[11:]]
    assert len(window[11:]) == 39


def test_driver_window_has_no_rows_only_slots(monkeypatch):
    """A window slot spent on a rows-only entry (err=no_oracle) proves
    nothing, so the live window holds oracle-backed entries only — and
    a rows-only entry stays out even when it has never been green and
    is named in REATTEST, the two steps that otherwise jump the queue."""
    window = harness.driver_window()
    assert window
    assert all(harness.REGISTRY[n].oracle is not None for n in window)

    registry = dict(harness.REGISTRY)
    registry["rows_only_new"] = harness.Entry(spark=None, oracle=None)
    monkeypatch.setattr(harness, "REGISTRY", registry)
    monkeypatch.setattr(
        harness, "REATTEST", {**harness.REATTEST, "rows_only_new": 99}
    )
    assert "rows_only_new" not in harness.driver_window()


def test_driver_window_leads_with_never_attested_entries(monkeypatch):
    """Entries registered after the newest ledger record have no green
    yet; on the committed ledger they take the slots right after the
    stability core, in registration order, ahead of the REATTEST names
    and the oldest-green rotation."""
    registry = dict(harness.REGISTRY)
    fresh = ["zz_new_second", "aa_new_first"]
    for n in fresh:
        registry[n] = harness.Entry(spark=None, oracle="SELECT 1")
    monkeypatch.setattr(harness, "REGISTRY", registry)

    window = harness.driver_window()
    assert window[:4] == _CORE
    assert window[4:6] == fresh
    pending = [n for n in window[6:] if n in harness.REATTEST]
    assert window[6:6 + len(pending)] == pending
    assert len(window) == 50


def test_canonicalizer_rejects_array_cells():
    """Regression for the r4 array_agg_sorted driver crash: a raw array
    column must be REJECTED by the local gate (the driver's pandas
    canonicalizer dies on unhashable cells; the local gate must be at
    least as strict)."""
    import numpy as np

    with pytest.raises(AssertionError, match="driver canonicalizer"):
        driver_canonicalize_check(
            ["k", "vals"], [(1, [1, 2]), (2, [3])]
        )
    with pytest.raises(AssertionError, match="driver canonicalizer"):
        driver_canonicalize_check(
            ["k", "vals"], [(1, np.array([1.0, 2.0])), (2, np.array([3.0]))]
        )
    # Scalar shapes (incl. None/NaN) must keep passing.
    driver_canonicalize_check(
        ["a", "b"], [(1, "x"), (None, "y"), (2, None)]
    )


# ---------------------------------------------------------------------------
# The two rows-only-by-policy entries still get VALUE constraints locally:
# "rows-only" exempts them from bit-equality with the oracle, not from
# being right.
# ---------------------------------------------------------------------------

def test_approx_count_distinct_within_5pct_of_exact(spark):
    """HLL++ at rsd=0.02 must land within ±5% of the exact distinct count
    per group (measured: ≤1% at sf0.001/sf0.01 — 5% leaves sketch noise
    headroom without ever accepting a wrong-shape estimate)."""
    approx = {
        r.l_linestatus: r.approx_parts
        for r in harness.REGISTRY["approx_count_distinct"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    exact = {
        r.l_linestatus: r.n_parts
        for r in harness.REGISTRY["count_distinct_by_group"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    assert set(approx) == set(exact) and exact
    for grp, n in exact.items():
        assert abs(approx[grp] - n) <= 0.05 * n, (grp, approx[grp], n)


def test_trained_ivf_recall_floor(spark):
    """Trained-centroid IVF top-10 must keep recall ≥ 0.8 against exact
    brute-force cosine top-10 (measured: 1.0 at sf0.001, 0.9 at sf0.01 —
    2-probe of 8 trained cells can drop a boundary neighbor, but an
    implementation bug drops most of them)."""
    from pyspark.sql import functions as F

    from etl_tj_project_spark.operators import similarity as sim
    from etl_tj_project_spark.sources.testdata import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    exact_ids = {r.vec_id for r in sim.brute_force_topk(e, q, k=10).collect()}
    trained_ids = {
        r.vec_id
        for r in harness.REGISTRY["ann_ivf_trained_topk"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    assert len(exact_ids) == 10
    assert len(trained_ids & exact_ids) / 10 >= 0.8


def test_kmv_estimate_within_30pct_of_exact(spark):
    """The KMV (k=64) estimate must land within ±30% of the exact
    distinct count per group (theoretical relative stderr is
    1/sqrt(k-2) ~= 12.7%; 30% leaves two-sigma-plus headroom without
    accepting a wrong-shape estimate). Unlike HLL this sketch is
    oracle-hash-checked too — this test pins VALUE quality, the hash
    pins determinism."""
    est = {
        r.l_linestatus: r.est_distinct
        for r in harness.REGISTRY["approx_distinct_kmv"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    from pyspark.sql import functions as F

    from etl_tj_project_spark.sources.testdata import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    exact = {
        r.l_linestatus: r.n
        for r in li.groupBy("l_linestatus")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact) and exact
    for grp, n in exact.items():
        assert abs(est[grp] - n) <= 0.30 * n, (grp, est[grp], n)


def test_pq_recall_floor(spark):
    """PQ-ADC top-10 with 4x oversample + exact rerank must keep recall
    >= 0.8 against exact brute-force cosine top-10 (the embeddings are
    planted-cluster data — see the kmeans recovery test — so a correct
    PQ keeps most true neighbors in the 40-candidate ADC set; an
    encode/LUT indexing bug drops nearly all of them)."""
    from pyspark.sql import functions as F

    from etl_tj_project_spark.operators import similarity as sim
    from etl_tj_project_spark.sources.testdata import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    exact_ids = {r.vec_id for r in sim.brute_force_topk(e, q, k=10).collect()}
    pq_ids = {
        r.vec_id
        for r in harness.REGISTRY["ann_pq_trained_topk"]
        .spark(spark, SF_SMOKE)
        .collect()
    }
    assert len(exact_ids) == 10
    assert len(pq_ids & exact_ids) / 10 >= 0.8


def test_approx_percentile_rank_error_bounded(spark):
    """approx_percentile(accuracy=1e4) guarantees rank error <= n/1e4;
    assert each estimate's true rank is within that bound (+1 for
    discreteness) of the target rank — a VALUE constraint for the
    rows-only sketch entry, like the HLL/IVF bounds above."""
    rows = (
        harness.REGISTRY["approx_percentile_profile"]
        .spark(spark, SF_SMOKE)
        .collect()
    )
    assert rows
    from pyspark.sql import functions as F

    from etl_tj_project_spark.sources.testdata import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    by_status = {
        r.l_linestatus: sorted(r.vals)
        for r in li.groupBy("l_linestatus")
        .agg(
            F.collect_list(
                F.col("l_extendedprice").cast("double")
            ).alias("vals")
        )
        .collect()
    }
    import bisect

    for r in rows:
        vals = by_status[r.l_linestatus]
        n = len(vals)
        assert n == r.n_rows
        tol = n / 10_000 + 1
        ests = (r.approx_p50, r.approx_p90, r.approx_p99)
        for target, est in zip((0.5, 0.9, 0.99), ests):
            lo = bisect.bisect_left(vals, est)
            hi = bisect.bisect_right(vals, est)
            target_rank = target * (n - 1)
            # est's occupied rank interval must overlap the target ± tol.
            assert lo - tol <= target_rank <= hi + tol, (
                r.l_linestatus, target, est, lo, hi, n
            )


def test_systematic_sample_point_budget_invariant(spark):
    """corpus_systematic_weighted_sample (round 9): per source, the
    selected multiplicities must sum EXACTLY to floor(total_chars /
    stride) — the systematic sampler's defining budget property (one
    point per full stride of cumulative mass, never more, never
    fewer)."""
    from etl_tj_project_spark.sources.testdata import load_table

    out = harness.REGISTRY["corpus_systematic_weighted_sample"].spark(
        spark, SF_SMOKE
    )
    got = {
        r["source"]: r["pts"]
        for r in out.groupBy("source")
        .agg(F.sum("n_points").alias("pts"))
        .collect()
    }
    want = {
        r["source"]: int(r["total"]) // 4096
        for r in load_table(spark, SF_SMOKE, "documents")
        .groupBy("source")
        .agg(F.sum(F.col("n_chars").cast("long")).alias("total"))
        .collect()
    }
    assert got == {s: v for s, v in want.items() if v > 0} or got == want


def test_paragraph_dedup_keeps_each_distinct_chunk_once(spark):
    """dedup_paragraph_chunks: across the corpus, the kept-chunk count
    must equal the number of DISTINCT chunk texts — first-occurrence
    dedup keeps exactly one copy of every distinct chunk, and document
    reassembly must not drop or duplicate any survivor."""
    from etl_tj_project_spark.sources.testdata import load_table

    out = harness.REGISTRY["dedup_paragraph_chunks"].spark(spark, SF_SMOKE)
    total_kept = out.agg(F.sum("n_kept")).collect()[0][0]
    d = load_table(spark, SF_SMOKE, "documents")
    ws = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(ws) / F.lit(12.0)).cast("int")
    distinct_chunks = (
        d.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(F.slice(ws, i * 12 + 1, 12), " "),
                )
            ).alias("c")
        )
        .select("c")
        .distinct()
        .count()
    )
    assert total_kept == distinct_chunks


def test_cdc_apply_latest_deletes_win(spark):
    """cdc_apply_latest: a user whose LATEST event is an 'error'
    (mapped to op D) must be absent from the applied state; every
    other user with events must be present exactly once."""
    from etl_tj_project_spark.sources.testdata import load_table

    out = harness.REGISTRY["cdc_apply_latest"].spark(spark, SF_SMOKE)
    assert out.groupBy("user_id").count().filter("count > 1").count() == 0
    ev = load_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_type")
    )
    deleted = {r["user_id"] for r in latest.filter("event_type = 'error'").collect()}
    surviving = {r["user_id"] for r in out.select("user_id").collect()}
    assert deleted.isdisjoint(surviving)
    kept = {r["user_id"] for r in latest.filter("event_type <> 'error'").collect()}
    assert surviving == kept


def test_partition_checksum_detects_single_row_change(spark):
    """partition_content_checksum: flipping ONE row's content in one
    partition must change THAT partition's checksum and no other —
    the anti-entropy property the op exists for."""
    from etl_tj_project_spark.sources.testdata import load_table

    base = harness.REGISTRY["partition_content_checksum"].spark(
        spark, SF_SMOKE
    )
    ev = load_table(spark, SF_SMOKE, "events")
    first_id = ev.agg(F.min("event_id")).collect()[0][0]
    mutated = ev.withColumn(
        "event_type",
        F.when(F.col("event_id") == first_id, F.lit("__tampered__"))
        .otherwise(F.col("event_type")),
    )
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.col("user_id").cast("string"),
    )
    h32 = F.conv(
        F.substring(F.md5(canon.cast("binary")), 1, 8), 16, 10
    ).cast("long")
    mut = mutated.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(h32).alias("content_checksum")
    )
    diff = (
        base.select("day", "content_checksum")
        .join(mut.withColumnRenamed("content_checksum", "mut_sum"), "day")
        .filter(F.col("content_checksum") != F.col("mut_sum"))
        .count()
    )
    assert diff == 1
