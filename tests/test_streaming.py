"""Streaming queries vs batch DuckDB oracles (stream/batch parity)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from tests.oracle import registry_run

STREAM_KEYS = [
    "stream_hourly_counts",
    "stream_session_stats",
    "stream_stateful_sessions",
    "stream_sliding_counts",
    "stream_static_hourly",
    "stream_dedup_events",
    "stream_purchase_click_join",
    "stream_click_attribution",
]


@pytest.mark.parametrize("name", STREAM_KEYS)
def test_stream_matches_batch_oracle(spark, duck, sf_dir, name):
    registry_run(spark, duck, sf_dir, name).assert_ok()


def test_stream_and_stateful_sessionizers_agree(spark, sf_dir):
    """Built-in session_window and the applyInPandasWithState
    sessionizer must produce identical (user, start, n, cents) rows."""
    q = entry_mod.queries()
    sw = q["stream_session_stats"](spark, sf_dir).select(
        "user_id", "session_start_us", "n_events", "value_cents"
    )
    st = q["stream_stateful_sessions"](spark, sf_dir).select(
        "user_id", "session_start_us", "n_events", "value_cents"
    )
    assert sw.exceptAll(st).count() == 0
    assert st.exceptAll(sw).count() == 0


def test_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """File-sink streaming with a checkpoint: new files arriving after
    a restart are processed exactly once — previously committed chunks
    are not reprocessed, nothing is lost. This is the durable-sink
    twin of the memory-sink queries (and the property the reference's
    at-least-once re-execution only approximates)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.streaming import core
    from map_reduce_rpc_spark.tables import load_table

    pdf = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_id").cast("long"),
            F.unix_micros("ts").alias("ts_us"),
            F.col("user_id").cast("long"),
            "event_type",
            F.col("value").cast("double"),
            "props",
        )
        .toPandas()
    )
    half = len(pdf) // 2
    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    def run_once():
        sdf = spark.readStream.schema(core.STREAM_SCHEMA_DDL).parquet(str(indir))
        q = (
            sdf.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(pa.Table.from_pandas(pdf.iloc[:half], preserve_index=False),
                   str(indir / "chunk0.parquet"))
    run_once()
    n1 = spark.read.parquet(outdir).count()
    assert n1 == half

    pq.write_table(pa.Table.from_pandas(pdf.iloc[half:], preserve_index=False),
                   str(indir / "chunk1.parquet"))
    run_once()
    out = spark.read.parquet(outdir)
    assert out.count() == len(pdf)  # chunk0 NOT reprocessed, chunk1 not lost
    assert out.select("event_id").distinct().count() == len(pdf)


def test_foreach_batch_materialized_view_idempotent(spark, tmp_path):
    """UPDATE-mode aggregate + dynamic-partition-overwrite foreachBatch:
    the parquet table converges to the batch aggregate, late revisions
    rewrite only their partition, and replaying from scratch (fresh
    checkpoint over the same input) leaves the table unchanged — the
    at-least-once -> exactly-once idempotence contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.streaming import sinks

    indir = tmp_path / "in"
    outdir = str(tmp_path / "mv")
    indir.mkdir()
    HOUR_US = 3600 * 1_000_000

    def chunk(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts_us": pa.array([r[1] for r in rows], pa.int64()),
                }
            ),
            str(indir / name),
        )

    def run(ckpt):
        sdf = (
            spark.readStream.schema("user_id long, ts_us long").parquet(str(indir))
            .withColumn("hr", (F.col("ts_us") / HOUR_US).cast("long"))
            .groupBy("hr")
            .agg(F.count("*").alias("n"), F.sum("user_id").alias("user_sum"))
        )
        q = sinks.write_materialized_view(sdf, outdir, ckpt, ("hr",))
        q.awaitTermination()

    def table():
        return {
            (r["hr"], r["n"], r["user_sum"])
            for r in spark.read.parquet(outdir).collect()
        }

    chunk("c1.parquet", [(1, 0), (2, 10), (3, HOUR_US + 5)])
    run(str(tmp_path / "ck1"))
    assert table() == {(0, 2, 3), (1, 1, 3)}

    # late revision of hour 0 + a new hour: only those partitions rewrite
    chunk("c2.parquet", [(10, 20), (4, 2 * HOUR_US + 1)])
    run(str(tmp_path / "ck1"))
    assert table() == {(0, 3, 13), (1, 1, 3), (2, 1, 4)}

    # full replay with a FRESH checkpoint over the same input: the
    # overwrite converges to the identical table — no duplicates
    run(str(tmp_path / "ck2"))
    assert table() == {(0, 3, 13), (1, 1, 3), (2, 1, 4)}


def test_foreach_batch_merge_on_preserves_sibling_groups(spark, tmp_path):
    """Grouping key FINER than the partition col (grouped by (hr, user),
    partitioned by hr): UPDATE mode emits only changed groups, so a
    plain partition overwrite would drop the partition's unchanged
    sibling groups. merge_on=(full group key) read-merges them back —
    the ADVICE-flagged silent-row-loss shape, now exercised."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from map_reduce_rpc_spark.streaming import sinks

    indir = tmp_path / "in"
    outdir = str(tmp_path / "mv")
    indir.mkdir()
    HOUR_US = 3600 * 1_000_000

    def chunk(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts_us": pa.array([r[1] for r in rows], pa.int64()),
                }
            ),
            str(indir / name),
        )

    def run(ckpt):
        sdf = (
            spark.readStream.schema("user_id long, ts_us long")
            .parquet(str(indir))
            .withColumn("hr", (F.col("ts_us") / HOUR_US).cast("long"))
            .groupBy("hr", "user_id")
            .agg(F.count("*").alias("n"))
        )
        q = sinks.write_materialized_view(
            sdf, outdir, ckpt, ("hr",), merge_on=("hr", "user_id")
        )
        q.awaitTermination()

    def table():
        return {
            (r["hr"], r["user_id"], r["n"])
            for r in spark.read.parquet(outdir).collect()
        }

    # hour 0 holds two sibling groups (users 1 and 2)
    chunk("c1.parquet", [(1, 0), (2, 10), (1, 20)])
    run(str(tmp_path / "ck1"))
    assert table() == {(0, 1, 2), (0, 2, 1)}

    # late event revises ONLY user 1 in hour 0: user 2's group must
    # survive the partition rewrite (this is the row-loss scenario)
    chunk("c2.parquet", [(1, 30)])
    run(str(tmp_path / "ck1"))
    assert table() == {(0, 1, 3), (0, 2, 1)}

    # replay from a fresh checkpoint converges to the same table
    run(str(tmp_path / "ck2"))
    assert table() == {(0, 1, 3), (0, 2, 1)}


def test_foreach_batch_rejects_unpartitioned_overwrite():
    """partition_cols=() makes the overwrite STATIC (dynamic mode only
    scopes deletion to partitions), which would clear the whole table
    before the merge path's survivors scan reads it — the sink must
    refuse at build time, not lose rows at the second micro-batch."""
    import pytest

    from map_reduce_rpc_spark.streaming import sinks

    with pytest.raises(ValueError, match="partition"):
        sinks.foreach_batch_overwrite("/tmp/never-written", ())


def test_rate_source_adapter_feeds_existing_queries(spark, tmp_path):
    """Non-file source demo: the rate-micro-batch adapter emits the
    canonical events schema, an EXISTING windowed aggregation runs on
    it unchanged, and two independent runs see identical rows for the
    same counter range (deterministic mapping) — the Kafka-shaped
    at-least-once contract without a file replay dir."""
    import time as _time

    from map_reduce_rpc_spark.streaming import core, windows

    def run_until(n_batches, ckpt, sink):
        """Drive a stream off the unbounded rate source until
        ``n_batches`` micro-batches committed (processAllAvailable
        would never return — there is always a next batch)."""
        q = sink.option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).trigger(processingTime="0 seconds").start()
        try:
            deadline = _time.time() + 120
            while (
                q.lastProgress is None or q.lastProgress["batchId"] < n_batches
            ):
                assert _time.time() < deadline, "stream made no progress"
                _time.sleep(0.2)
        finally:
            q.stop()

    # 1) existing windowed aggregation runs unchanged on the adapter
    agg = windows.hourly_counts(core.read_rate_events(spark, rows_per_batch=500))
    run_until(
        2,
        "ck_agg",
        agg.writeStream.format("memory").queryName("rate_agg").outputMode("update"),
    )
    rows = spark.table("rate_agg").collect()
    assert rows and all(r["n_events"] > 0 for r in rows)

    # 2) determinism: two independent runs agree row-for-row on the
    #    counter range both runs are guaranteed to have produced
    def capture(ckpt):
        seen: dict[int, tuple] = {}

        def grab(batch_df, batch_id):
            for r in batch_df.collect():
                seen[r["event_id"]] = (
                    r["user_id"], r["event_type"], r["value"], r["ts_us"]
                )

        ev = core.read_rate_events(spark, rows_per_batch=500)
        run_until(2, ckpt, ev.writeStream.foreachBatch(grab))
        return {k: v for k, v in seen.items() if k < 1000}  # batches 0-1

    first, second = capture("ck_a"), capture("ck_b")
    assert len(first) == 1000 and first == second

    # schema parity with the file-replay source
    ev = core.read_rate_events(spark)
    assert set(ev.columns) == {
        "event_id", "ts_us", "user_id", "event_type", "value", "props", "ts"
    }


def test_late_redelivery_rows_are_dropped_by_watermark(spark, sf_dir, tmp_path):
    """The late-drop gate must not be vacuous: run the late replay
    directly and assert the re-delivered batch reports a NONZERO
    numRowsDroppedByWatermark — i.e. the oracle equality in
    stream_late_data_drop is earned by actual drops, not by a replay
    that never put late rows in front of the operator."""
    from map_reduce_rpc_spark.streaming import core, windows

    replay = core.build_late_replay_dir(spark, sf_dir)
    q = (
        windows.hourly_counts(core.read_events_stream(spark, replay))
        .writeStream.format("memory")
        .queryName("late_drop_metric")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    redelivered = sum(
        1 for p in q.recentProgress if p["batchId"] == 2
    )
    assert redelivered == 1, "replay did not produce the re-delivery batch"
    assert dropped > 0, "no rows were dropped by the watermark"
    # every re-delivered row must be dropped: the memory sink holds
    # each (hour, type) group exactly once
    out = spark.sql(
        "SELECT count(*) AS c, count(DISTINCT hour || event_type) AS d "
        "FROM late_drop_metric WHERE event_type <> '__sentinel__'"
    ).first()
    assert out["c"] == out["d"], "a re-emitted group broke append exactly-once"


def test_stream_dedup_state_is_watermark_bounded(spark, sf_dir, tmp_path):
    """The 100 TB property of dropDuplicatesWithinWatermark: dedup
    state is EVICTED once the watermark passes each key's event time.
    After the sentinel batch advances the watermark past the whole
    month, the state store must hold (almost) nothing — plain
    dropDuplicates(event_id) would still hold every id seen."""
    from map_reduce_rpc_spark.streaming import core, windows

    replay = core.build_replay_dir(spark, sf_dir)
    q = (
        windows.dedup_stream(core.read_events_stream(spark, replay))
        .writeStream.format("memory")
        .queryName("dedup_state_bound")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_events = spark.sql(
        "SELECT count(*) AS c FROM dedup_state_bound"
    ).first()["c"]
    finals = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    ]
    assert n_events > 0 and finals
    # last progress entry = state after the watermark passed everything
    assert finals[-1] <= 2, (
        f"dedup state not evicted: {finals[-1]} rows still held "
        f"(unbounded dropDuplicates would hold ~{n_events})"
    )
