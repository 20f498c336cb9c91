"""SparkSession factory.

Local test mode runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
configs below are chosen so the same code scales to a multi-executor
cluster at ~100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join-strategy switch) — replaces the reference's fixed nReduce=10
  (``/root/reference/mr_coordinator.go:17``) with runtime-sized shuffles.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is the AQE *initial* partition count and should be set
  to ~2-3x total executor cores (AQE coalesces down, never up past it,
  so err high at 100 TB: e.g. 8000 for a 1000-executor fleet).
- Arrow enabled so any Pandas-UDF slow path is batch-vectorized.
- UTC session timezone so timestamp results hash-match the DuckDB
  oracle (DuckDB timestamps are TZ-naive UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_mem() -> str:
    """min(24g, ~half of MemAvailable), floor 2g. /proc is Linux-only;
    anywhere it's missing, fall back to the 24g the target box uses."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, avail_gb // 2))}g"
    except OSError:
        pass
    return "24g"


def get_spark(app_name: str = "map_reduce_rpc_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no nanos
        # timestamp — read as long and convert in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode puts driver + all 32 executor threads in ONE JVM:
        # an 8g heap showed multi-second GC stalls that randomly spiked
        # individual bench queries ~10s late in an 80-query run. Size
        # the default to the HOST (min(24g, ~half of MemAvailable)) so
        # the same default neither GC-thrashes this 128 GiB box nor
        # invites OOM kills on a small laptop; on a real cluster this
        # maps to per-executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _sql_store(spark: SparkSession):
    """Spark's record of every SQL execution, micro-batches included,
    once the listener bus drains. Reading it runs no Spark job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark: SparkSession) -> int:
    """Id of the latest SQL execution (-1 before any): a mark."""
    store = _sql_store(spark)
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def executions_since(spark: SparkSession, mark: int) -> list[tuple[int, str, str]]:
    """``(id, description, physicalPlanDescription)`` of every SQL
    execution after ``mark``, oldest first.

    The store keeps only ``spark.sql.ui.retainedExecutions`` entries
    (default 1000) and drops the earliest finished ones first, so the
    mark is an execution id, not a count. If the mark's own execution
    is gone the store was trimmed past it, and this raises rather than
    return a partial list. The most executions one registry query ran
    is 29 (``forget_audit_report`` with cold derived caches).
    """
    return _executions_after(_sql_store(spark), mark)


def _executions_after(store, mark: int) -> list[tuple[int, str, str]]:
    if mark >= 0 and store.execution(mark).isEmpty():
        raise RuntimeError(f"SQL status store no longer holds execution {mark}: trimmed past the mark")
    out, i = [], store.executionsCount()
    while i > 0 and (e := store.executionsList(i - 1, 1).head()).executionId() > mark:
        out.append((e.executionId(), e.description(), e.physicalPlanDescription()))
        i -= 1
    return out[::-1]
