"""Global plan-shape regression gate: NO query may plan a
row-at-a-time Python UDF (BatchEvalPython) or an unconstrained
CartesianProduct in any SQL execution it runs (``tests/oracle.FORBIDDEN``).

Each query is built once per session (``tests/oracle.registry_run``,
shared with its oracle test); these ids report that run's gate."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from tests.oracle import registry_run

_ALL = list(entry_mod.queries())
_BATCH_QUERIES = [name for name in _ALL if not name.startswith("stream_")]
_STREAM_QUERIES = [name for name in _ALL if name.startswith("stream_")]


@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_no_forbidden_plan_nodes(spark, duck, sf_dir, name):
    registry_run(spark, duck, sf_dir, name).assert_plans_clean()


@pytest.mark.parametrize("name", _STREAM_QUERIES)
def test_no_forbidden_plan_nodes_streaming(spark, duck, sf_dir, name):
    """Streaming queries run their replay to completion inside the
    build, so every micro-batch is among the gated executions."""
    registry_run(spark, duck, sf_dir, name).assert_plans_clean()
