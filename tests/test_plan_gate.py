"""The plan gate (``tests/oracle.assert_gated``) reads every SQL execution
a query runs from Spark's SQL status store: an intermediate action and a
streaming micro-batch are gated, not just the final frame's plan."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from map_reduce_rpc_spark.session import _executions_after
from map_reduce_rpc_spark.streaming import core
from tests.oracle import assert_gated

_ROW_UDF = F.udf(lambda x: x + 1, LongType(), useArrow=False)


def test_intermediate_collect_is_gated(spark, duck):
    final = spark.range(1)

    def build():
        spark.range(3).select(_ROW_UDF("id")).collect()
        return final

    with pytest.raises(AssertionError, match="plans a BatchEvalPython"):
        assert_gated(spark, build, duck.sql("SELECT 0::BIGINT AS id"))
    # a gate on the final frame's plan alone would have passed it
    assert "BatchEvalPython" not in final._jdf.queryExecution().executedPlan().toString()


def test_stream_micro_batch_is_gated(spark, duck, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}), str(src / "part0.parquet"))

    def build():
        sdf = spark.readStream.schema("x long").parquet(str(src))
        return core.run_available_now(sdf.select(_ROW_UDF("x").alias("y")), spark)

    with pytest.raises(AssertionError, match="plans a BatchEvalPython"):
        assert_gated(spark, build, duck.sql("SELECT 2::BIGINT AS y"))


class _Exec:
    def __init__(self, eid: int):
        self.eid = eid

    def executionId(self):
        return self.eid

    def description(self):
        return f"collect {self.eid}"

    def physicalPlanDescription(self):
        return f"plan {self.eid}"


class _Seq(list):
    def head(self):
        return self[0]

    def isEmpty(self):
        return not self


class _Store:
    """Stand-in for Spark's SQLAppStatusStore: retained executions, in
    id order, after the earliest ones were trimmed."""

    def __init__(self, ids):
        self.rows = [_Exec(i) for i in ids]

    def executionsCount(self):
        return len(self.rows)

    def executionsList(self, offset, length):
        return _Seq(self.rows[offset : offset + length])

    def execution(self, eid):
        return _Seq(e for e in self.rows if e.eid == eid)


def test_reader_returns_executions_after_mark():
    store = _Store(range(40, 60))
    assert [e[0] for e in _executions_after(store, 55)] == [56, 57, 58, 59]
    assert _executions_after(store, 59) == []
    assert _executions_after(store, 57)[0] == (58, "collect 58", "plan 58")
    assert [e[0] for e in _executions_after(_Store(range(3)), -1)] == [0, 1, 2]


def test_reader_refuses_a_mark_trimmed_from_the_store():
    with pytest.raises(RuntimeError, match="trimmed past the mark"):
        _executions_after(_Store(range(40, 60)), 12)
