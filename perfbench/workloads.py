"""The benchmark's workloads, run by one closed-loop client.

Each operation starts when the previous one returns; no thread is
added. An operation has a construction phase (the call into the engine
that returns a DataFrame or commits) and, when it returns a DataFrame,
an action phase that writes the whole result through the ``noop``
sink. ``count()`` is never used: it lets Catalyst prune the columns and
aggregates the result does not need.

- ``analytics``: read-only registered queries, one per read layer:
  two TPC-H shapes (plans.relational, tables, Spark planning; q9 runs
  jobs while it is being built), a graph loop (operators.graph, ~20
  eager jobs), the reference's map -> shuffle -> reduce jobs
  (``wordcount``; ``kv_pipeline`` through operators.mapreduce) and one
  dedup and one similarity operator.
- ``lakehouse``: every txlog commit verb beside a snapshot read, a
  change-feed read and a stateful change-feed stream over the same
  table. Each pass starts from a fresh table.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from map_reduce_rpc_spark.sources import txlog, txlog_source
from map_reduce_rpc_spark.streaming import core
from map_reduce_rpc_spark import tables

ANALYTICS_OPS = (
    "q1_pricing_summary",
    "q9_product_profit",
    "label_prop_communities",
    "wordcount",
    "kv_pipeline",
    "dedup_exact",
    "similarity_topk",
)

COMMIT_KINDS = ("create", "merge_cow", "delete_cow", "append", "merge_dv", "update_dv", "optimize")


class OpFailed(Exception):
    pass


class Client:
    """Runs operations one at a time and records, per operation, its
    latency and the wall-clock interval of each phase."""

    def __init__(self, spark, inputs: str, work: str, recorder, streams, oracles):
        self.spark = spark
        self.sc = spark.sparkContext
        self.inputs = inputs
        self.work = work
        self.rec = recorder
        self.streams = streams
        self.oracles = oracles
        self.ops: list[dict] = []
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0
        self.paused = 0.0

    def op(self, name: str, build, write: bool = True, check=None):
        """Run one operation; return its result. A failure is recorded
        and raised as ``OpFailed``; a failed check is recorded only."""
        self.attempted += 1
        traced = self.rec.enabled
        rec = {"name": name, "phases": {}}
        t0, w0 = time.perf_counter(), time.time()
        try:
            with self.rec.operation(name):
                self.sc.setJobGroup(name, "construct")
                with self.rec.span("construct"):
                    out = build()
                rec["phases"]["construct"] = (w0, time.time())
                if write:
                    if traced:
                        wp = time.time()
                        with self.rec.span("plan"):
                            out._jdf.queryExecution().executedPlan()
                        rec["phases"]["plan"] = (wp, time.time())
                    wa = time.time()
                    self.sc.setJobGroup(name, "action")
                    with self.rec.span("action"):
                        out.write.format("noop").mode("overwrite").save()
                    rec["phases"]["action"] = (wa, time.time())
        except Exception as exc:  # an operation's failure is a result
            self.failures.append((name, f"{type(exc).__name__}: {exc}"[:500]))
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(name) from exc
        finally:
            rec["latency_s"] = time.perf_counter() - t0
            rec["interval"] = (w0, time.time())
            self.ops.append(rec)
        if check is not None:
            self._check(name, check, out)
        return out

    def _check(self, name: str, check, out) -> None:
        try:
            self.pause(lambda: check(out))
        except Exception as exc:  # a wrong result is a failed operation
            msg = f"check failed: {type(exc).__name__}: {exc}"[:500]
            self.failures.append((name, msg))
            print(f"[perfbench] {name}: {msg}", file=sys.stderr)

    def pause(self, fn):
        """Run ``fn`` outside the pass clock and untraced: checks and
        measurement bookkeeping."""
        t, traced = time.perf_counter(), self.rec.enabled
        self.rec.enabled = False
        try:
            return fn()
        finally:
            self.rec.enabled = traced
            self.paused += time.perf_counter() - t


# -- analytics ---------------------------------------------------------------


def analytics_pass(c: Client, index: int, check: bool) -> dict:
    import __spark_entry__

    queries = __spark_entry__.queries()
    for name in ANALYTICS_OPS:
        fn = queries[name]
        try:
            c.op(
                name,
                lambda fn=fn: fn(c.spark, c.inputs),
                check=(lambda df, name=name: c.oracles.check(name, df)) if check else None,
            )
        except OpFailed:
            continue
    return {}


# -- lakehouse ---------------------------------------------------------------


def _cdf_stream(c: Client, root: str, after_version: int):
    """The table's change feed as a stream, run to completion by the
    engine's availableNow runner. The stream counts each distinct change
    row, so every change is a row of its state store, and emits the
    whole state."""
    txlog_source.register(c.spark)
    changes = (
        c.spark.readStream.format("txlog")
        .option("path", root)
        .option("change_feed", "true")
        .option("starting_version", str(after_version))
        .load()
    )
    return core.run_available_now(changes.groupBy(*changes.columns).count(), c.spark, "complete")


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files)


def _files_changed(root: str, versions: list[int]) -> dict:
    """Data files each commit added and removed, and every byte the
    pass wrote under the table root (nothing is vacuumed)."""
    added = removed = 0
    prev: set[str] = set()
    for v in versions:
        files = set(txlog.snapshot_info(root, v)["files"])
        added += len(files - prev)
        removed += len(prev - files)
        prev = files
    return {"files_added": added, "files_removed": removed, "bytes_written": _tree_bytes(root)}


def _stored_ratio(c: Client, root: str) -> float:
    """Bytes under the table root per byte of its live rows written
    once as plain parquet."""
    plain = os.path.join(c.work, f"plain_{os.path.basename(root)}")
    txlog.read_table(c.spark, root).write.parquet(plain)
    user = sum(os.path.getsize(os.path.join(plain, f)) for f in os.listdir(plain) if f.endswith(".parquet"))
    return _tree_bytes(root) / user


def lakehouse_pass(c: Client, index: int, check: bool) -> dict:
    """create, then per round: cow merge, cow delete, a change-feed read
    since the previous one (the first: since the create), append, dv
    merge, dv update and a snapshot read; then optimize and a change-feed
    stream. The batch feed spans the cow commits, whose carried rows it
    nets; the txlog stream source refuses cow rewrites, so the stream
    starts after the last cow commit and spans the append, dv and
    optimize commits. The checked pass compares every read, the stream
    and the final table with ``LakeReplay``."""
    from checks import LakeReplay, assert_matches

    spark = c.spark
    lake = os.path.join(c.inputs, "lakehouse")
    with open(os.path.join(lake, "plan.json")) as fh:
        plan = json.load(fh)
    root = os.path.join(c.work, f"table_{index}")
    replay = LakeReplay(c.oracles.con) if check else None
    versions: list[int] = []

    def commit(verb: str, build, replay_fn, check_fn=None) -> int:
        v = c.op(verb, build, write=False, check=check_fn if check else None)
        versions.append(v)
        if check:
            c.pause(lambda: replay_fn(v))
        return v

    def read(verb: str, build, expected):
        c.op(verb, build, check=(lambda df: assert_matches(df, expected())) if check else None)

    orders = os.path.join(c.inputs, "orders.parquet")
    try:
        v = commit(
            "create",
            lambda: txlog.create_table(
                spark, root, tables.load_table(spark, c.inputs, "orders").repartition(4, "o_orderkey")
            ),
            lambda v: replay.create(v, f"SELECT * FROM read_parquet('{orders}')"),
        )
        last_cow = since = v
        for step in plan["rounds"]:
            mc, md, ap = (os.path.join(lake, step[k]) for k in ("merge_cow", "merge_dv", "append"))
            upd = step["update_dv"]
            commit(
                "merge_cow",
                lambda: txlog.merge(spark, root, spark.read.parquet(mc), ("o_orderkey",), mode="cow"),
                lambda v: replay.merge(v, mc),
            )
            last_cow = commit(
                "delete_cow",
                lambda: txlog.delete_where(spark, root, step["delete_cow"], mode="cow"),
                lambda v: replay.delete(v, step["delete_cow"]),
            )
            read(
                "read_changes",
                lambda lo=since, hi=last_cow: txlog.read_changes(spark, root, lo, hi),
                lambda lo=since, hi=last_cow: replay.changes(lo, hi),
            )
            c.ops[-1]["versions"] = last_cow - since
            since = last_cow
            commit("append", lambda: txlog.append(spark, root, spark.read.parquet(ap)), lambda v: replay.append(v, ap))
            commit(
                "merge_dv",
                lambda: txlog.merge(spark, root, spark.read.parquet(md), ("o_orderkey",), mode="dv"),
                lambda v: replay.merge(v, md),
            )
            v = commit(
                "update_dv",
                lambda: txlog.update_where(spark, root, set=upd["set"], predicate=upd["where"], mode="dv"),
                lambda v: replay.update(v, upd["set"], upd["where"]),
            )
            read("read_table", lambda: txlog.read_table(spark, root), lambda v=v: replay.snapshot(v))
        v = commit(
            "optimize",
            lambda: txlog.optimize(spark, root),
            lambda v: replay.unchanged(v),
            lambda _: assert_matches(txlog.read_table(spark, root), replay.snapshot(replay.versions[-1])),
        )
        c.op(
            "cdf_stream",
            lambda: _cdf_stream(c, root, last_cow),
            write=False,
            check=(lambda df: assert_matches(df, replay.change_counts(last_cow, v))) if check else None,
        )
    except OpFailed:
        pass
    out = c.pause(lambda: _files_changed(root, versions))
    if check:
        out["stored_bytes_per_user_byte"] = c.pause(lambda: _stored_ratio(c, root))
    return out


WORKLOADS = {"analytics": analytics_pass, "lakehouse": lakehouse_pass}
