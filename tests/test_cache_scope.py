"""The cache lifecycle rule of etl_tj_project_spark/cache.py: a frame
persisted inside ``cache_scope`` is released when the innermost scope of
its session exits, newest first and on every exit path; a scope never
frees a cache it did not create."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import textwrap

import pytest
from pyspark import StorageLevel

from etl_tj_project_spark.cache import cache_scope, persist, release


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _frame(spark, tag: int):
    """A fresh plan per call site: ids shifted by ``tag``."""
    return spark.range(50).selectExpr(f"id + {tag} AS x")


def test_nested_scope_keeps_outer_and_session_caches(spark):
    session_df = persist(_frame(spark, 1_000))  # no scope: the session's
    try:
        with cache_scope(spark):
            outer = persist(_frame(spark, 2_000))
            with cache_scope(spark):
                # Same plans as the outer and session caches: skipped, so
                # the inner scope does not own them.
                persist(_frame(spark, 2_000)).count()
                persist(_frame(spark, 1_000)).count()
                inner = persist(_frame(spark, 3_000))
                assert _cached(inner)
            assert not _cached(inner)
            assert _cached(outer) and _cached(session_df)
            # A frame of another session is not this scope's.
            other = persist(_frame(spark.newSession(), 4_000))
        assert not _cached(outer)
        assert _cached(session_df) and _cached(other)
        release(other)
        assert not _cached(other)
    finally:
        release(session_df)
    assert not _cached(session_df)


def test_release_is_newest_first(spark, monkeypatch):
    cls = type(spark.range(1))
    real = cls.unpersist
    order: list = []

    def unpersist(self, *args, **kwargs):
        order.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "unpersist", unpersist)
    with cache_scope(spark):
        a = persist(_frame(spark, 5_000))
        b = persist(a.selectExpr("x * 2 AS y"))
        c = persist(b.selectExpr("y + 1 AS z"))
        early = persist(_frame(spark, 6_000))
        release(early)  # freed now, not again at exit
        assert order == [early]
    assert order == [early, c, b, a]
    assert not any(map(_cached, (a, b, c, early)))


def test_exception_inside_scope_still_releases(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with cache_scope(spark):
            df = persist(_frame(spark, 7_000))
            df.count()
            raise RuntimeError("boom")
    assert not _cached(df)


def test_release_of_a_skipped_persist_keeps_the_cache(spark):
    with cache_scope(spark):
        owner = persist(_frame(spark, 8_000))
        reader = persist(_frame(spark, 8_000))  # plan already cached
        release(reader)
        assert _cached(owner)
    assert not _cached(owner)


_SESSIONS = textwrap.dedent(
    """
    import json, sys
    from etl_tj_project_spark import harness
    from etl_tj_project_spark.functions.vectors import _EXPR_MEMO
    from etl_tj_project_spark.session import get_spark

    runs = []
    for _ in range(2):
        spark = get_spark("cache_scope_sessions", master="local[2]",
                          shuffle_partitions=2)
        runs.append({
            name: sorted(map(repr, harness.REGISTRY[name]
                             .spark(spark, sys.argv[1]).collect()))
            for name in sys.argv[2:]
        })
        spark.stop()
    counts = {n: [len(r[n]) for r in runs] for n in runs[0]}
    print("ROWS", len(_EXPR_MEMO), json.dumps(counts), runs[0] == runs[1])
    """
)


def test_second_session_in_process_gives_the_same_rows(tmp_path):
    """Queries built and collected in session A give the same rows in a
    new session B of the same process after A stopped. No cache or count
    of A serves B, and the Column expressions memoized in A (band and
    cosine columns) still build correct plans in B. The entries cover
    persisted postings and the vocabulary count (prefix-filter Jaccard),
    the persisted band table (MinHash LSH) and cosine scoring (IVF)."""
    from tests.conftest import SF_SMOKE

    repo = pathlib.Path(__file__).resolve().parents[1]
    script = tmp_path / "sessions.py"
    script.write_text(_SESSIONS)
    names = [
        "dedup_prefix_filter_jaccard", "dedup_minhash_lsh", "ann_ivf_topk"
    ]
    res = subprocess.run(
        [sys.executable, str(script), SF_SMOKE, *names],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "PYTHONPATH": str(repo)},
    )
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("ROWS ")]
    assert line, res.stderr[-2000:]
    n_memo, rest = line[0][len("ROWS "):].split(" ", 1)
    counts, same = rest.rsplit(" ", 1)
    assert int(n_memo) > 0  # session B reused columns built in session A
    assert all(n > 0 for pair in json.loads(counts).values() for n in pair)
    assert same == "True", counts
