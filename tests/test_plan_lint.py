"""Exhaustive physical-plan lint over EVERY registry entry.

test_scale_plans.py pins the scale properties of chosen plans; this
sweep pins two structural scale-killers across the whole 250+ entry
registry so no future entry can reintroduce them silently:

* **CartesianProduct** — a non-broadcast cartesian join is quadratic in
  rows; at 100 TB it never finishes. (Broadcast nested-loop joins
  against one-row/KB frames are a different node and remain legal.)
* **Exchange SinglePartition over unreduced input** — funneling a fact
  stream into one task serializes the cluster. A single-partition
  exchange is legal ONLY above an already-reduced stream: an aggregate
  (group count ~ KB), a TakeOrdered/Limit, or a broadcast-built
  one-row frame. The lint walks the plan tree and demands such a
  reducer somewhere in the exchange's SUBTREE.
* **Outer-column subtree inside a lambda** — Spark evaluates a
  higher-order-function lambda body once per array ELEMENT, so a body
  that reads e.g. ``regexp_replace(lower(text))`` instead of a lambda
  variable re-runs it per element: quadratic in document length for
  the shingle builders. Such values are bound once with
  ``functions.text.let``.

One source lint rides along: every DataFrame cache in the package goes
through ``etl_tj_project_spark/cache.py``, so each one has an owner.

Planning all entries costs ~1.5 min at sf0.001 (a handful of entries
run bounded construction-time jobs); it is the price of making "no
scale-killers, plan-asserted" a registry-wide invariant instead of a
per-query promise.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from etl_tj_project_spark import harness
from tests.conftest import SF_SMOKE

# Node names that prove the stream feeding an Exchange SinglePartition
# was already reduced to aggregate/limit scale.
_REDUCERS = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|"
    r"TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit|"
    r"BroadcastExchange|Expand"
)


def _subtree(lines: list[str], idx: int) -> list[str]:
    """Lines of the plan subtree rooted at ``lines[idx]``, using the
    tree-drawing prefix depth (position of the node marker)."""

    def depth(ln: str) -> int:
        m = re.search(r"[+*][- ]|:-", ln)
        return m.start() if m else 0

    d0 = depth(lines[idx])
    out = []
    for ln in lines[idx + 1:]:
        if ln.strip() and depth(ln) <= d0 and re.search(r"[+*][- ]|:-", ln):
            break
        out.append(ln)
    return out


def _lambda_captures(plan) -> list[str]:
    """Non-leaf subtrees of lambda bodies in a physical plan that read a
    column (AttributeReference) but no lambda variable
    (NamedLambdaVariable); only the largest such subtree is reported,
    not its parts. Descends into cached (``InMemoryRelation.cachedPlan``)
    and adaptive (``AdaptiveSparkPlanExec.inputPlan``) plans."""
    found: list[str] = []

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    def kind(o) -> str:
        return o.getClass().getSimpleName()

    def flags(e) -> tuple[bool, bool]:
        # (reads a column, reads a lambda variable); a node that reads a
        # variable records its children that read only columns.
        k = kind(e)
        if k == "NamedLambdaVariable":
            return False, True
        if k == "AttributeReference":
            return True, False
        kids = seq(e.children())
        kid_flags = [flags(c) for c in kids]
        col = any(c for c, _ in kid_flags)
        var = any(v for _, v in kid_flags)
        if var:
            found.extend(
                c.toString()
                for c, (c_col, c_var) in zip(kids, kid_flags)
                if c_col and not c_var and c.children().size()
            )
        return col, var

    def lambdas(e) -> None:
        if "lambdafunction" not in e.toString():
            return
        if kind(e) == "LambdaFunction":
            body = e.function()
            col, var = flags(body)
            if col and not var and body.children().size():
                found.append(body.toString())
            return
        for c in seq(e.children()):
            lambdas(c)

    def walk(p) -> None:
        k = kind(p)
        if k == "AdaptiveSparkPlanExec":
            return walk(p.inputPlan())
        if k == "InMemoryTableScanExec":
            walk(p.relation().cachedPlan())
        for e in seq(p.expressions()):
            lambdas(e)
        for c in seq(p.children()):
            walk(c)

    walk(plan)
    return found


@pytest.fixture(scope="module")
def swept(spark) -> tuple[dict[str, str], dict[str, list[str]]]:
    """Every entry planned ONCE: (plan strings, lambda captures). The
    capture walk runs only where the plan string, which prints cached
    and adaptive subplans, holds a lambda."""
    plans: dict[str, str] = {}
    captures: dict[str, list[str]] = {}
    for name, e in harness.REGISTRY.items():
        plan = e.spark(spark, SF_SMOKE)._jdf.queryExecution().executedPlan()
        plans[name] = plan.toString()
        if "lambdafunction" in plans[name]:
            captures[name] = _lambda_captures(plan)
    return plans, captures


@pytest.fixture(scope="module")
def all_plans(swept) -> dict[str, str]:
    return swept[0]


def test_no_cartesian_product_anywhere(all_plans):
    offenders = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


# Entries whose single-partition exchange is legal WITHOUT a reducer in
# its subtree, each with the reason the lint can't see textually.
_SINGLE_PARTITION_ALLOW = {
    # operators/dedup.narrow_persisted: the few-MB cached candidate-pair
    # table is repartitioned to ceil(rows / 2M) partitions (capped by
    # shuffle width) so downstream multi-join stages aren't
    # scheduling-bound; 1 partition is the SMOKE-SF value of a
    # size-dispatched formula, not a fixed funnel — at scale the same
    # call yields rows/2M partitions.
    "graph_triangle_count",
    # Same narrow_persisted size dispatch, applied to both the
    # canonicalize manifest and the survivor pair table.
    "graph_triangle_count_canonical",
    "graph_residual_clustering_coefficient",
    # Round 16: same narrow_persisted size dispatch on the residual
    # pair table feeding the LCC + merge-edge stages (1 partition is
    # the smoke-SF value of the rows/2M formula, not a fixed funnel).
    "dedup_lcc_second_pass",
}


def test_single_partition_exchanges_sit_above_reducers(all_plans):
    offenders: list[tuple[str, str]] = []
    for name, plan in all_plans.items():
        if name in _SINGLE_PARTITION_ALLOW:
            continue
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            sub = "\n".join(_subtree(lines, i))
            if not _REDUCERS.search(sub):
                offenders.append((name, ln.strip()[:80]))
    assert not offenders, offenders


def test_no_full_table_sort_without_range_partitioning(all_plans):
    """A global Sort must ride a rangepartitioning exchange (distributed
    sort) — a Sort directly above Exchange SinglePartition over a fact
    scan would serialize the corpus through one task. (Sorts inside a
    single partition after aggregation are fine and common.)"""
    offenders = []
    for name, plan in all_plans.items():
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            # The PARENT chain right above the exchange: a global Sort
            # consuming the single partition.
            above = lines[max(0, i - 1)]
            if re.search(r"\bSort\b", above):
                sub = "\n".join(_subtree(lines, i))
                if not _REDUCERS.search(sub):
                    offenders.append((name, above.strip()[:80]))
    assert not offenders, offenders


def test_no_lambda_reads_an_outer_column_subtree(swept):
    offenders = {n: c for n, c in swept[1].items() if c}
    assert not offenders, offenders


def test_lambda_capture_walk_sees_cached_and_bound_forms(spark):
    """The walk flags a capture inside a CACHED plan and passes the same
    computation once the value is let-bound."""
    from pyspark.sql import functions as F

    from etl_tj_project_spark.functions.text import let

    df = spark.createDataFrame([("Ab Cd",)], "text string")
    seq = F.sequence(F.lit(1), F.lit(3))
    norm = F.lower(F.col("text"))
    captured = df.select(
        F.transform(seq, lambda i: norm.substr(i, F.lit(1))).alias("a")
    ).persist()
    try:
        plan = captured.select("a")._jdf.queryExecution().executedPlan()
        assert "InMemoryTableScan" in plan.toString()
        caps = _lambda_captures(plan)
        assert len(caps) == 1 and caps[0].startswith("lower(text#"), caps
    finally:
        captured.unpersist()
    bound = df.select(
        let(norm, lambda s: F.transform(seq, lambda i: s.substr(i, F.lit(1))))
    )
    plan = bound._jdf.queryExecution().executedPlan()
    assert "lambdafunction" in plan.toString()
    assert _lambda_captures(plan) == []
    assert bound.first()[0] == captured.first()[0] == ["a", "b", " "]


# Connected components' checkpoint blocks are not recomputable, so they
# are freed by RDD id, not through the cache module.
_CACHE_CALL_ALLOWED = {("operators/dedup.py", "_unpersist_rdd_ids")}


def test_dataframe_caches_go_through_cache_module():
    """No ``.persist(``, ``.unpersist(`` or ``.cache()`` call in the
    package outside ``cache.py``, except the CC checkpoint release."""
    import etl_tj_project_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found: list[tuple[str, str, int]] = []

    def walk(node, rel: str, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            elif (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("persist", "unpersist", "cache")
            ):
                found.append((rel, fn, child.lineno))
            walk(child, rel, name)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel != "cache.py":
            walk(ast.parse(path.read_text()), rel, "")
    bad = [f for f in found if f[:2] not in _CACHE_CALL_ALLOWED]
    assert not bad, bad
    # The exemption is live, not stale.
    assert {f[:2] for f in found} == _CACHE_CALL_ALLOWED
