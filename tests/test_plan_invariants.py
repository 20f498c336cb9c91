"""Global plan-shape regression gate: NO query may plan a
row-at-a-time Python UDF (BatchEvalPython) or an unconstrained
CartesianProduct — the two patterns that silently kill a 100 TB run.
Python is allowed only Arrow-batched (ArrowEvalPython / MapInPandas /
FlatMapGroupsInPandas); cross joins only as BroadcastNestedLoopJoin
with a broadcast side small by construction (query sets, centroids)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SMOKE_SF = "/root/testdata/sf0.001"

_ALL = list(entry_mod.queries())
_BATCH_QUERIES = [name for name in _ALL if not name.startswith("stream_")]
_STREAM_QUERIES = [name for name in _ALL if name.startswith("stream_")]

FORBIDDEN = ("BatchEvalPython", "CartesianProduct")


@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_no_forbidden_plan_nodes(spark, name):
    df = entry_mod.queries()[name](spark, SMOKE_SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in FORBIDDEN:
        assert bad not in plan, f"{name} plans a {bad}:\n{plan[:2000]}"


@pytest.mark.parametrize("name", _STREAM_QUERIES)
def test_no_forbidden_plan_nodes_streaming(spark, name):
    """Streaming twin of the gate: the query builders run their replay
    to completion inside the call, and core.record_plan keeps each
    finished run's EXECUTED plan (explainInternal) — assert the same
    forbidden nodes never appear in any plan the call executed. The
    ring is cleared first: it is trimmed to a fixed size, so a slice
    from its length before the call is empty once the ring is full."""
    from map_reduce_rpc_spark.streaming import core

    core.EXECUTED_PLANS.clear()
    entry_mod.queries()[name](spark, SMOKE_SF)
    plans = list(core.EXECUTED_PLANS)
    assert plans, f"{name} executed no streaming query the gate could inspect"
    for qname, plan in plans:
        for bad in FORBIDDEN:
            assert bad not in plan, f"{name} ({qname}) executed a {bad}:\n{plan[:2000]}"
