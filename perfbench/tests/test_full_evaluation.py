"""The benchmark times full evaluation: the as-of workload's timed plan
keeps each Window, ArrowEvalPython, FlatMapCoGroupsInPandas, Join,
Aggregate, Generate, Expand and Sort node of the join's own optimized
plan, ``count()`` would drop nodes the timed plan keeps, and no benchmark
code uses ``count()`` as an action. The job workload's timed action is
``write_resumable``'s partitioned parquet write of every column."""

from __future__ import annotations

import ast
import os
from collections import Counter

import pytest

import harness
import inputs
import wl_asof

CENSUS = (
    "Window", "ArrowEvalPython", "FlatMapCoGroupsInPandas", "Join",
    "Aggregate", "Generate", "Expand", "Sort",
)


def _census(df) -> Counter:
    """Node-type counts of ``df``'s optimized logical plan (tree walk)."""
    counts: Counter = Counter()
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        counts[node.nodeName()] += 1
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return Counter({k: counts[k] for k in CENSUS})


@pytest.fixture(scope="module")
def asof_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("asof"))
    inputs.write_hot_features(d, 3000, 40, 500, seed=3, files=2)
    return d


@pytest.fixture(scope="module")
def job_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("job"))
    inputs.write_job_inputs(d, 200, 100, seed=3, files=2)
    return d


def test_asof_timed_plan_keeps_every_operator(spark, asof_dir):
    df = wl_asof._join(spark, asof_dir)
    want = _census(df)
    assert want["FlatMapCoGroupsInPandas"] > 0
    got = _census(harness.timed_plan(df))
    lost = {k: want[k] - got[k] for k in CENSUS if got[k] < want[k]}
    assert not lost, f"timed plan drops {lost}"


def test_census_sees_what_count_prunes(spark, job_dir):
    """The census has teeth: on the job's feature plan, count() drops
    operators (the decode UDF among them) that a full sink keeps."""
    from query_cost_feature_engineering_spark.jobs.run_pipeline import (
        build_features,
    )

    df = build_features(spark, os.path.join(job_dir, "images"), None)
    want = _census(df)
    assert want["ArrowEvalPython"] > 0
    pruned = _census(df.groupBy().count())
    assert any(pruned[k] < want[k] for k in CENSUS if k != "Aggregate")
    assert _census(harness.timed_plan(df)) == want


def _count_actions(path) -> list[int]:
    tree = ast.parse(path.read_text())
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "count"
        and not n.args
        and not n.keywords
    ]


def test_no_count_action_in_benchmark():
    from conftest import BENCH

    offenders = {
        p.name: lines
        for p in sorted(BENCH.glob("*.py"))
        if (lines := _count_actions(p))
    }
    assert not offenders, f"count() used as an action: {offenders}"
