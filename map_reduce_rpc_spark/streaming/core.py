"""Stream source + deterministic run harness.

Test scaffolding vs production: in production the stream source is a
Kafka topic or a landing directory that files *arrive* in, and queries
run forever. Under test we must (a) replay a static table as a stream
and (b) force append-mode results to flush deterministically. The
standard trick for (b): after the real data, append sentinel chunks
whose far-future event time pushes the watermark past every real
window, so closed windows/timeouts emit before ``AvailableNow``
drains. Sentinels use ``user_id = -1`` and are filtered from results.

Why sentinels are needed at all: append-mode emission is driven by the
watermark *of the previous micro-batch*, so a single-batch replay would
emit nothing — windows only close when a later batch advances the
watermark. ONE sentinel chunk suffices: after the sentinel batch the
watermark jumps past every real window, and the final no-data
micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``, set
explicitly in run_available_now) re-evaluates state under the advanced
watermark and flushes everything — including stateful event-time
timeouts and outer-join null extensions. (Earlier rounds used two
sentinels for the two advances; the no-data batch provides the second
one for free, saving one state-store commit cycle per query —
measured ~0.3-0.5 s per streaming query at sf0.1.)
"""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import derived_cache_dir, load_table

SENTINEL_USER = -1
# 10 days in microseconds between sentinel chunks — far past any
# watermark delay or session gap used here.
_SENTINEL_STEP_US = 10 * 86400 * 1_000_000

# Chunk files carry event time as epoch micros (plain int64): explicit,
# precision-exact, and immune to parquet timestamp-unit negotiation.
STREAM_SCHEMA_DDL = (
    "event_id long, ts_us long, user_id long, event_type string, "
    "value double, props string"
)

_query_seq = itertools.count()


def _replay_dir(spark: SparkSession, sf_dir: str, name: str, chunks) -> str:
    """Cached chunk directory replaying the events table as a stream.

    ``chunks(ev, min_us, max_us)`` lists the chunks in arrival order:
    a DataFrame of real events, or None for a one-row sentinel whose
    event time lies ``i`` sentinel steps past the last real event
    (``i`` = its position). File-source ordering is by modification
    time (oldest first), set explicitly so replay order is
    deterministic. An EMPTY corpus anchors the sentinels at epoch 0,
    so the replay still drains and every query degrades to zero rows.
    """

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        ev = load_table(spark, sf_dir, "events").select(
            F.col("event_id").cast("long"),
            F.unix_micros("ts").alias("ts_us"),
            F.col("user_id").cast("long"),
            "event_type",
            F.col("value").cast("double"),
            "props",
        )
        # single-row aggregate action (scalars), not a materialization
        lo, hi = (int(v or 0) for v in ev.agg(F.min("ts_us"), F.max("ts_us")).first())
        parts = chunks(ev, lo, hi)
        for i, chunk in enumerate(parts):
            dst = os.path.join(tmp, f"chunk{i}.parquet")
            if chunk is None:
                # sentinel chunks are driver-side constants (one row)
                pq.write_table(
                    pa.table(
                        {
                            "event_id": pa.array([-i], pa.int64()),
                            "ts_us": pa.array([hi + i * _SENTINEL_STEP_US], pa.int64()),
                            "user_id": pa.array([SENTINEL_USER], pa.int64()),
                            "event_type": pa.array(["__sentinel__"], pa.string()),
                            "value": pa.array([0.0], pa.float64()),
                            "props": pa.array(["{}"], pa.string()),
                        }
                    ),
                    dst,
                )
                continue
            # Spark-native write, one part file so each chunk is one
            # micro-batch; at production scale the chunking would be
            # the natural multi-file arrival order and this coalesce
            # disappears.
            part_dir = os.path.join(tmp, f"_write{i}")
            chunk.coalesce(1).write.parquet(part_dir)
            part = next(
                p
                for p in os.listdir(part_dir)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            os.replace(os.path.join(part_dir, part), dst)
            shutil.rmtree(part_dir)
        base_mtime = os.stat(tmp).st_mtime - 3600
        for i in range(len(parts)):
            path = os.path.join(tmp, f"chunk{i}.parquet")
            os.utime(path, (base_mtime + i, base_mtime + i))

    return derived_cache_dir(sf_dir, name, ("events",), build)


def build_replay_dir(spark: SparkSession, sf_dir: str, n_sentinels: int = 1) -> str:
    """Materialize the events table as an ordered chunk directory:
    chunk0 = all real events, chunk{1..n} = one sentinel event each.
    One real chunk, so the whole real prefix is one micro-batch (the
    sentinels provide the watermark advances)."""
    return _replay_dir(
        spark,
        sf_dir,
        f"stream_s{n_sentinels}",
        lambda ev, lo, hi: [ev] + [None] * n_sentinels,
    )


LATE_SPLIT_HOURS = 2


def build_late_replay_dir(
    spark: SparkSession, sf_dir: str, late_hours: int = LATE_SPLIT_HOURS
) -> str:
    """Replay dir that RE-DELIVERS the timeline's first ``late_hours``
    of events after their windows have been finalized: chunk0 = the
    whole month, chunk1 = a sentinel (advances the watermark past
    every real window, so append mode EMITS and EVICTS all of them),
    chunk2 = a duplicate copy of the early slice — now weeks below the
    watermark — chunk3 = the final flush sentinel. A correct stateful
    aggregation must DROP every re-delivered row; admitting one would
    re-emit an already-emitted group and break append exactly-once.
    This is the at-least-once upstream (Kafka redelivery, backfill
    replay) every production pipeline faces.

    Why re-delivery instead of just withholding the slice: Spark
    filters late input against the PREVIOUS batch's eviction watermark
    (one batch older than the one used to evict/emit state — measured
    on 4.1: a withheld-slice batch right after the first real batch is
    ADMITTED with numRowsDroppedByWatermark=0 and finalized as new
    groups, which append mode permits because those groups were never
    emitted). Re-delivering after the sentinel batch puts the slice
    behind a watermark that IS in force for late filtering, so the
    drop is guaranteed, deterministic, and hash-checkable."""
    split_us = late_hours * 3_600 * 1_000_000
    return _replay_dir(
        spark,
        sf_dir,
        f"stream_late{late_hours}",
        lambda ev, lo, hi: [ev, None, ev.where(F.col("ts_us") < lo + split_us), None],
    )


def build_time_split_replay_dir(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> str:
    """Replay dir with the real events split into ``n_chunks``
    TIME-ORDERED chunks (uniform event-time ranges, strict < upper
    bound so same-timestamp ties never straddle a chunk): with
    ``maxFilesPerTrigger=1`` each chunk becomes its own micro-batch,
    arriving in event-time order — the shape a foreachBatch CDC apply
    needs (its contract: batches non-decreasing in event time per key;
    see operators/scd.py). No sentinels: foreachBatch receives every
    batch unconditionally, nothing here is watermark-driven."""

    def chunks(ev: DataFrame, lo: int, hi: int) -> list[DataFrame]:
        span = max(1, hi - lo + 1)
        bounds = [lo + (span * i) // n_chunks for i in range(n_chunks + 1)]
        return [
            ev.where((F.col("ts_us") >= a) & (F.col("ts_us") < b))
            for a, b in zip(bounds, bounds[1:])
        ]

    return _replay_dir(spark, sf_dir, f"stream_tsplit{n_chunks}", chunks)


def read_events_stream(
    spark: SparkSession, replay_dir: str, chunked: bool = True
) -> DataFrame:
    """File-source stream over a replay dir.

    Explicit schema (streams cannot infer). With ``chunked=True`` (the
    default), ``maxFilesPerTrigger=1`` makes each chunk its own
    micro-batch so the watermark advances between chunks, as it would
    with continuously arriving files — required for append-mode
    *aggregations*, whose emission is watermark-driven. Stream-stream
    INNER joins emit matches within the arriving batch (the watermark
    only governs state eviction), so join queries pass
    ``chunked=False`` and skip the per-batch state-store commit
    overhead of single-file triggers.
    """
    reader = spark.readStream.schema(STREAM_SCHEMA_DDL)
    if chunked:
        reader = reader.option("maxFilesPerTrigger", "1")
    return reader.parquet(replay_dir).withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    )


def read_rate_events(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    num_partitions: int = 4,
    start_ts_us: int = 820_454_400_000_000,  # 1996-01-01 UTC
    advance_us_per_row: int = 1_000,
) -> DataFrame:
    """Kafka-shaped NON-FILE stream source: the built-in
    ``rate-micro-batch`` generator mapped onto the canonical events
    schema, so every events-stream query in this repo runs against it
    unchanged (same columns as :func:`read_events_stream`).

    Why ``rate-micro-batch`` and not ``rate``: it emits exactly
    ``rowsPerBatch`` rows per micro-batch with a monotonically
    advancing ``value`` counter — DETERMINISTIC content per batch
    index, which is what tests need and what a replayed Kafka topic
    gives in production. The mapping is a pure function of the counter
    (event time advances ``advance_us_per_row`` per row; user/type/
    value derive from xxhash64/modulo), so two runs of N batches see
    identical rows — the at-least-once contract holds exactly as for
    the file replay.

    This adapter is the source boundary a Kafka deployment swaps at:
    replace this one function with ``readStream.format("kafka")`` +
    ``from_json(value)`` and every downstream window/join/sessionizer
    is untouched.
    """
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", str(num_partitions))
        .load()
    )
    ts_us = F.lit(start_ts_us) + F.col("value") * F.lit(advance_us_per_row)
    return raw.select(
        F.col("value").alias("event_id"),
        ts_us.alias("ts_us"),
        F.pmod(F.xxhash64(F.col("value")), F.lit(500)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64(F.col("value") + 1), F.lit(10_000)) / 100.0).alias(
            "value"
        ),
        F.lit("{}").alias("props"),
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us")))


def run_available_now(sdf: DataFrame, spark: SparkSession, output_mode: str = "append") -> DataFrame:
    """Run a streaming frame to completion into a memory sink; return
    the drained result as a batch DataFrame.

    Memory sink is test-only (collects to the driver); production
    writes go to parquet/Kafka sinks via the same ``writeStream`` call.
    """
    name = f"stream_result_{next(_query_seq)}"
    # Stateful operators create one state-store instance per shuffle
    # partition PER BATCH; size the state partitioning to the key
    # cardinality, not to the batch session's CPU count (production
    # tuning: this is fixed at the first checkpoint and must be chosen
    # up front). 8 partitions cuts per-batch state-commit overhead 4x
    # here with no loss of parallelism at these key counts.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # The replay design counts on the trailing no-data micro-batch to
    # flush state after the sentinel advances the watermark (see module
    # docstring) — pin the conf rather than trusting the default.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
