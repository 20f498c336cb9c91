"""Local replica of the driver's Spark-vs-DuckDB compare: row count,
column names, and order-insensitive value comparison. Catch mismatches
before the driver does."""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd

import __spark_entry__ as entry_mod
from map_reduce_rpc_spark.session import executions_since, last_execution_id

# The plan-shape gate: NO SQL execution a query runs may plan a
# row-at-a-time Python UDF (BatchEvalPython) or an unconstrained
# CartesianProduct, the two patterns that silently kill a 100 TB run.
# Python is allowed only Arrow-batched (ArrowEvalPython / MapInPandas /
# FlatMapGroupsInPandas); cross joins only as BroadcastNestedLoopJoin
# with a broadcast side small by construction (query sets, centroids).
FORBIDDEN = ("BatchEvalPython", "CartesianProduct")


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df.reset_index(drop=True)
    # canonical row order: sort by every column's string form
    key = df.astype(str).apply(lambda r: "\x00".join(r), axis=1)
    return df.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def assert_matches(spark_df, duck_rel, float_tol: float = 1e-9) -> None:
    left = _normalize(spark_df.toPandas())
    right = _normalize(duck_rel.fetchdf())
    assert list(left.columns) == list(right.columns), (
        f"column mismatch: spark={list(left.columns)} duck={list(right.columns)}"
    )
    assert len(left) == len(right), f"row count: spark={len(left)} duck={len(right)}"
    for col in left.columns:
        ls, rs = left[col], right[col]
        # a dtype-KIND split (one side integer, the other float) is a
        # driver failure even when values are numerically equal: the
        # driver hashes astype(str), so '1815764' != '1815764.0'.
        # Round-8 find: DuckDB sums BIGINT into HUGEINT, which lands
        # as float64 in pandas — cast the oracle's aggregate instead.
        li, ri = (
            pd.api.types.is_integer_dtype(ls),
            pd.api.types.is_integer_dtype(rs),
        )
        lf, rf = (
            pd.api.types.is_float_dtype(ls),
            pd.api.types.is_float_dtype(rs),
        )
        assert not ((li and rf) or (lf and ri)), (
            f"{col}: dtype kind split (spark={ls.dtype}, duck={rs.dtype})"
            " — the driver's stringified hash WILL reject this; CAST the"
            " oracle column (HUGEINT sums need CAST(... AS BIGINT))"
        )
        if pd.api.types.is_float_dtype(ls) or pd.api.types.is_float_dtype(rs):
            for i, (a, b) in enumerate(zip(ls, rs)):
                if pd.isna(a) and pd.isna(b):
                    continue
                assert math.isclose(float(a), float(b), rel_tol=float_tol, abs_tol=float_tol), (
                    f"{col}[{i}]: spark={a!r} duck={b!r}"
                )
        else:
            la, ra = ls.astype(str).tolist(), rs.astype(str).tolist()
            if la != ra:
                diffs = [(i, a, b) for i, (a, b) in enumerate(zip(la, ra)) if a != b][:5]
                raise AssertionError(f"{col} differs, first diffs: {diffs}")


@dataclass(frozen=True)
class GatedRun:
    """One gated run: the oracle compare's failure (None when it
    matched), how many SQL executions ran, and one message per
    forbidden node found in them."""

    mismatch: AssertionError | None
    executions: int
    forbidden: tuple[str, ...]

    def assert_plans_clean(self) -> None:
        assert self.executions, "ran no SQL execution the gate could inspect"
        assert not self.forbidden, "\n".join(self.forbidden)

    def assert_ok(self) -> None:
        if self.mismatch is not None:
            raise self.mismatch
        self.assert_plans_clean()


def gated_run(spark, build, duck_rel) -> GatedRun:
    """``assert_matches(build(), duck_rel)``, then gate every SQL
    execution since the call began: intermediate actions, derived-cache
    builds and streaming micro-batches, not just the final frame."""
    mark = last_execution_id(spark)
    mismatch = None
    try:
        assert_matches(build(), duck_rel)
    except AssertionError as e:
        mismatch = e
    ran = executions_since(spark, mark)
    forbidden = tuple(
        f"execution {eid} ({desc}) plans a {bad}:\n{plan[:2000]}"
        for eid, desc, plan in ran
        for bad in FORBIDDEN
        if bad in plan
    )
    return GatedRun(mismatch, len(ran), forbidden)


def assert_gated(spark, build, duck_rel) -> None:
    gated_run(spark, build, duck_rel).assert_ok()


_REGISTRY_RUNS: dict[str, GatedRun] = {}


def registry_run(spark, duck, sf_dir, name: str) -> GatedRun:
    """The one gated run of registry query ``name`` per test session.
    Several test modules report on the same query (the oracle compare,
    the plan invariants, a family's own oracle test); they share this
    run instead of building the query again."""
    if name not in _REGISTRY_RUNS:
        q = entry_mod.queries()[name]
        sql = entry_mod.oracle_sql()[name]
        _REGISTRY_RUNS[name] = gated_run(spark, lambda: q(spark, sf_dir), duck.sql(sql))
    return _REGISTRY_RUNS[name]
