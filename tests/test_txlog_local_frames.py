"""txlog's driver-side frames and change-feed tasks stay off the
per-job Python-worker path.

- Every frame txlog builds on the driver (deletion-vector victim pairs,
  history, the empty change feed) comes from an Arrow table, so Spark
  plans a ``LocalRelation``, never a pickled-RDD ``Scan ExistingRDD``.
  An AST guard keeps list-built frames out of both txlog modules.
- The change-feed readers pack their per-file parts into byte-sized
  tasks, in plan order."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_rpc_spark.sources import txlog
from map_reduce_rpc_spark.sources.txlog_source import (
    _PACK_MAX_BYTES,
    _PACK_OPEN_COST,
    TxLogDataSource,
    _pack_by_bytes,
    _plan_change_partitions,
)

SOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "map_reduce_rpc_spark",
    "sources",
)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def dv_table(spark, tmp_path_factory):
    """v0 create (4 files), v1 append, v2 dv delete across files, v3
    add_constraint (metadata only), v4 optimize."""
    root = str(tmp_path_factory.mktemp("local_frames") / "tx")
    rows = spark.range(0, 400).select("id", (F.col("id") % 10).alias("bucket"))
    txlog.create_table(spark, root, rows.repartition(4))
    txlog.append(spark, root, spark.range(400, 450).select("id", F.lit(1).alias("bucket")))
    txlog.delete_where(spark, root, "bucket = 3", mode="dv")
    txlog.add_constraint(spark, root, "pos", "id >= 0")
    txlog.optimize(spark, root)
    return root


def test_dv_reads_plan_no_existing_rdd(spark, dv_table):
    snap = txlog.read_table(spark, dv_table, version=2)
    assert snap.count() == 450 - 40
    assert "ExistingRDD" not in _executed_plan(snap)
    feed = txlog.read_changes(spark, dv_table, 1, 2)
    assert feed.count() == 40
    assert "ExistingRDD" not in _executed_plan(feed)


def test_change_free_ranges_are_empty_local_frames(spark, dv_table):
    cdf_types = [
        ("id", "bigint"),
        ("bucket", "bigint"),
        ("_change_type", "string"),
        ("_commit_version", "bigint"),
    ]
    # v4 is an optimize: its rewrite nets to zero rows
    opt = txlog.read_changes(spark, dv_table, 3, 4)
    # v3 only adds a constraint: no file changes at all
    meta = txlog.read_changes(spark, dv_table, 2, 3)
    for feed in (opt, meta):
        assert [(f.name, f.dataType.simpleString()) for f in feed.schema] == cdf_types
        assert feed.count() == 0
        assert "ExistingRDD" not in _executed_plan(feed)


def test_history_is_a_local_frame(spark, dv_table):
    h = txlog.history(spark, dv_table)
    assert [r["op"] for r in h.orderBy("version").collect()] == [
        "create",
        "append",
        "delete",
        "add_constraint",
        "optimize",
    ]
    assert "ExistingRDD" not in _executed_plan(h)


def test_cdf_reader_packs_the_planned_parts_in_order(dv_table):
    ds = TxLogDataSource({"path": dv_table, "change_feed": "true", "to_version": "2"})
    reader = ds.reader(None)
    packs = reader.partitions()
    planned = _plan_change_partitions(
        dv_table, -1, 2, 2, reader.schema_json, reader.mapping, True
    )
    assert len(planned) > 1 and len(packs) == 1
    assert [vars(p) for pack in packs for p in pack.value] == [vars(p) for p in planned]


def test_pack_by_bytes():
    mb = 1 << 20
    assert _PACK_MAX_BYTES == 128 * mb and _PACK_OPEN_COST == 4 * mb
    items = list(range(40))
    # 40 tiny files charge 40 open costs (160 MB): two packs, in order
    tiny = _pack_by_bytes(items, [1024] * 40)
    assert [x for pack in tiny for x in pack] == items
    assert [len(p) for p in tiny] == [32, 8]
    assert _pack_by_bytes(items[:12], [10 * 1024] * 12) == [items[:12]]
    # sizes past the bound split; an oversized file stands alone
    big = _pack_by_bytes(["a", "b", "c", "d"], [100 * mb, 100 * mb, 300 * mb, mb])
    assert big == [["a"], ["b"], ["c"], ["d"]]
    assert _pack_by_bytes(["a", "b"], [60 * mb, 60 * mb]) == [["a", "b"]]
    assert _pack_by_bytes([], []) == []


def _is_arrow_arg(node) -> bool:
    """``_arrow_table(...)`` or a ``pa.*`` constructor call."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Name):
        return f.id == "_arrow_table"
    while isinstance(f, ast.Attribute):
        f = f.value
    return isinstance(f, ast.Name) and f.id == "pa"


def test_create_dataframe_takes_arrow_or_empty_limit0():
    """A list-built frame plans as ``Scan ExistingRDD`` and launches a
    Python-worker job per execution; the ``[]`` form is allowed only
    when ``.limit(0)`` folds it into an empty LocalRelation."""
    offenders, seen = [], 0
    for name in ("txlog.py", "txlog_source.py"):
        tree = ast.parse(open(os.path.join(SOURCES, name)).read())
        limited = {
            id(n.func.value)
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "limit"
            and [getattr(a, "value", None) for a in n.args] == [0]
        }
        for n in ast.walk(tree):
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
            ):
                continue
            seen += 1
            arg = n.args[0] if n.args else None
            empty = isinstance(arg, ast.List) and not arg.elts
            if not (_is_arrow_arg(arg) or (empty and id(n) in limited)):
                offenders.append(f"{name}:{n.lineno}")
    assert seen, "no createDataFrame call found: the guard is looking at the wrong files"
    assert not offenders, offenders
