"""Spans and Spark counters, recorded from outside the engine.

The recorder wraps public engine functions in place (every module that
bound the function by name is patched too), keeps one span per call in
memory and reads Spark's own ``AppStatusStore`` for the jobs and stages
each phase launched. Nothing here changes what the engine computes: a
wrapper calls the original function with the same arguments and
returns its result.

A span is ``(name, start, end, parent, op)``. Jobs are attributed to the
span whose interval holds the job's submission time, so jobs launched
on other threads (broadcasts, stream micro-batches) still land on the
operation that caused them.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from map_reduce_rpc_spark.sources.logstore import LogStore

# Public functions per traced layer. ``None`` means every public
# function the module defines.
LAYER_FUNCTIONS = {
    "graph": (
        "map_reduce_rpc_spark.operators.graph",
        (
            "pagerank_directed",
            "pagerank_personalized",
            "label_propagation",
            "kcore_truncated",
            "bfs_hops",
            "connected_components_star",
        ),
    ),
    "dedup": ("map_reduce_rpc_spark.operators.dedup", None),
    "similarity": ("map_reduce_rpc_spark.operators.similarity", None),
    "mapreduce": ("map_reduce_rpc_spark.operators.mapreduce", None),
    "tables": ("map_reduce_rpc_spark.tables", ("load_table",)),
    # manifest reads and log listings; commits go through TracedLogStore
    "logstore": ("map_reduce_rpc_spark.sources.txlog", ("_read_manifest", "current_version")),
}

STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Recorder:
    """One run's spans and Spark job/stage records, kept in memory.

    ``enabled`` switches recording on and off between passes, so one
    process can alternate untraced and traced passes; the wrappers stay
    installed and cost one flag test when off.
    """

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._next_job = 0

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield
            return
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def operation(self, op: str):
        """Mark every span opened inside as belonging to ``op``."""
        prev, self._op = self._op, op
        try:
            with self.span("op"):
                yield
        finally:
            self._op = prev

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap each function of ``LAYER_FUNCTIONS`` and rebind every
        reference to it in the loaded engine modules (``from x import f``
        copies included)."""
        originals: dict[int, tuple[object, object]] = {}
        for layer, (modname, names) in LAYER_FUNCTIONS.items():
            mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
            if names is None:
                names = tuple(
                    n
                    for n, f in vars(mod).items()
                    if not n.startswith("_")
                    and inspect.isfunction(f)
                    and f.__module__ == modname
                )
            for n in names:
                fn = getattr(mod, n)
                originals[id(fn)] = (fn, self._wrap(fn, f"{layer}.{n}"))
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "")
            if not (modname.startswith("map_reduce_rpc_spark") or modname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    # -- Spark status store ------------------------------------------------

    def collect_jobs(self) -> None:
        """Read every job (and its stages) finished since the last call.
        Waits for Spark's listener bus first, so the store is complete."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        tracker = sc.statusTracker()
        while tracker.getJobInfo(self._next_job) is not None:
            jd = store.job(self._next_job)
            sub, end = jd.submissionTime(), jd.completionTime()
            stage_ids = [int(s) for s in conv.asJava(jd.stageIds())]
            self.jobs[self._next_job] = {
                "submit": sub.get().getTime() / 1000 if sub.isDefined() else 0.0,
                "end": end.get().getTime() / 1000 if end.isDefined() else 0.0,
                "stages": stage_ids,
            }
            for sid in stage_ids:
                if sid not in self.stages:
                    self.stages[sid] = self._stage(store, sid)
            self._next_job += 1

    @staticmethod
    def _stage(store, sid: int) -> dict:
        sd = store.lastStageAttempt(sid)
        sub, end = sd.submissionTime(), sd.completionTime()
        ran = sd.status().toString() != "SKIPPED" and sub.isDefined()
        return {
            "ran": ran,
            "start": sub.get().getTime() / 1000 if ran else 0.0,
            "end": end.get().getTime() / 1000 if ran and end.isDefined() else 0.0,
            "tasks": sd.numCompleteTasks() + sd.numFailedTasks() if ran else 0,
            "failed_tasks": sd.numFailedTasks(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "input_bytes": sd.inputBytes(),
            "executor_run_s": sd.executorRunTime() / 1000,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1000,
        }

    def jobs_within(self, intervals) -> list[int]:
        """Job ids submitted inside any of ``intervals``."""
        ivs = sorted(intervals)
        return [
            jid
            for jid, j in self.jobs.items()
            if any(s <= j["submit"] <= e for s, e in ivs)
        ]

    def execution(self, intervals, cores: int) -> dict:
        """Spark execution counters of the jobs launched in ``intervals``.
        ``stage_busy_s`` is the union of the stages' run intervals inside
        them; ``driver_gap_s`` the rest of the wall."""
        jids = self.jobs_within(intervals)
        sids = sorted({s for j in jids for s in self.jobs[j]["stages"]})
        ran = [self.stages[s] for s in sids if self.stages[s]["ran"]]
        out = {"jobs": len(jids), "stages": len(ran)}
        for f in STAGE_FIELDS:
            out[f] = sum(st[f] for st in ran)
        busy_ivs = []
        for lo, hi in intervals:
            busy_ivs += _clip([(st["start"], st["end"]) for st in ran], lo, hi)
        wall = union_length(intervals)
        busy = union_length(busy_ivs)
        out["stage_busy_s"] = busy
        out["driver_gap_s"] = max(0.0, wall - busy)
        out["slot_utilization"] = out["executor_run_s"] / (busy * cores) if busy else 0.0
        return out


class TracedLogStore(LogStore):
    """Delegates every storage primitive of the txlog commit protocol to
    ``inner``, one span per call."""

    def __init__(self, rec: Recorder, inner: LogStore):
        self.rec = rec
        self.inner = inner

    def put_if_absent(self, path: str, data: bytes) -> bool:
        with self.rec.span("logstore.put_if_absent"):
            return self.inner.put_if_absent(path, data)

    def fsync_dir(self, path: str) -> None:
        with self.rec.span("logstore.fsync_dir"):
            self.inner.fsync_dir(path)

    def fsync_file(self, path: str) -> None:
        with self.rec.span("logstore.fsync_file"):
            self.inner.fsync_file(path)

    def link_or_copy(self, src: str, dst: str) -> None:
        with self.rec.span("logstore.link_or_copy"):
            self.inner.link_or_copy(src, dst)


class StreamRecorder(StreamingQueryListener):
    """Keeps every micro-batch's progress. Events arrive on a callback
    thread; ``wait_idle`` blocks until every started query has reported
    its termination, so a caller sees all of a finished query's
    batches."""

    def __init__(self):
        self.progress: list[dict] = []
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self._started.add(str(event.id))

    def onQueryProgress(self, event):
        p = event.progress
        state = p.stateOperators or []
        with self._cv:
            self.progress.append(
                {
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "state_commit_ms": sum(s.commitTimeMs for s in state),
                }
            )

    def onQueryTerminated(self, event):
        with self._cv:
            self._terminated.add(str(event.id))
            self._cv.notify_all()

    def wait_idle(self, timeout: float = 30.0) -> bool:
        with self._cv:
            return self._cv.wait_for(lambda: self._started <= self._terminated, timeout)

    def take(self) -> list[dict]:
        with self._cv:
            out, self.progress = self.progress, []
        return out
