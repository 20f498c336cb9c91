"""Streaming queries for the driver contract.

Each callable replays the events table through Structured Streaming
(file source, one chunk per micro-batch, watermarked, append mode) to
completion and returns the drained result — which must equal the batch
SQL oracle over the same events. That equality IS the streaming
correctness gate: windows close via real watermark movement (sentinel
chunks advance it past every real window; see streaming/core.py),
not via complete-mode shortcuts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import core, stateful, windows


def _replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return core.read_events_stream(spark, core.build_replay_dir(spark, sf_dir))


def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = core.run_available_now(windows.hourly_counts(_replay(spark, sf_dir)), spark)
    return out.where(F.col("event_type") != "__sentinel__")


def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = core.run_available_now(windows.session_stats(_replay(spark, sf_dir)), spark)
    return out.where(F.col("user_id") != core.SENTINEL_USER)


def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = core.run_available_now(stateful.sessionize(_replay(spark, sf_dir)), spark)
    return out.where(F.col("user_id") != core.SENTINEL_USER)


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = core.run_available_now(windows.sliding_counts(_replay(spark, sf_dir)), spark)
    return out.where(F.col("event_type") != "__sentinel__")


def stream_static_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return core.run_available_now(
        windows.static_enriched_hourly(_replay(spark, sf_dir), dim), spark
    )


def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same
    user's clicks in the preceding 30 minutes. Two independent stream
    scans of the replay dir (as two topics would be in production)."""
    replay_dir = core.build_replay_dir(spark, sf_dir)
    clicks = core.read_events_stream(spark, replay_dir, chunked=False)
    purchases = core.read_events_stream(spark, replay_dir, chunked=False)
    out = core.run_available_now(
        windows.purchase_click_join(clicks, purchases), spark
    )
    # sentinel heartbeats join only each other (user_id -1); drop them
    return out.where(F.col("user_id") != core.SENTINEL_USER)


def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click with its
    in-horizon purchases, null-extended (encoded as -1) when none.
    Chunked replay is required here — outer null-emission waits on
    watermark movement, which the sentinel chunks provide."""
    replay_dir = core.build_replay_dir(spark, sf_dir)
    clicks = core.read_events_stream(spark, replay_dir)
    purchases = core.read_events_stream(spark, replay_dir)
    out = core.run_available_now(
        windows.click_attribution_outer(clicks, purchases), spark
    ).where(F.col("user_id") != core.SENTINEL_USER)
    # -1 sentinels instead of nulls: keeps every column an exact long
    # for the cross-engine hash (and the joined/unjoined split obvious)
    return out.select(
        "user_id",
        "click_id",
        F.coalesce(F.col("purchase_id"), F.lit(-1)).alias("purchase_id"),
        F.coalesce(F.col("lag_us"), F.lit(-1)).alias("lag_us"),
    )


def stream_click_purchase_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join (round 5 — completes the
    inner / left-outer / full-outer family): every click AND every
    purchase, null-extended (-1) on whichever side never arrived in
    the horizon. Chunked replay: BOTH unmatched directions are
    watermark-driven."""
    replay_dir = core.build_replay_dir(spark, sf_dir)
    clicks = core.read_events_stream(spark, replay_dir)
    purchases = core.read_events_stream(spark, replay_dir)
    out = core.run_available_now(
        windows.click_purchase_full_outer(clicks, purchases), spark
    ).where(F.col("user_id") != core.SENTINEL_USER)
    return out.select(
        "user_id",
        F.coalesce(F.col("click_id"), F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("purchase_id"), F.lit(-1)).alias("purchase_id"),
        F.coalesce(F.col("lag_us"), F.lit(-1)).alias("lag_us"),
    )


def stream_events_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless map-only streaming normalization — the continuous-ETL
    pattern (parse, extract, project; no watermark, no state): each
    arriving event emits immediately as a typed row (json scalar
    pulled from props, value normalized to exact cents, hour bucket).
    At 100 TB/day this is the always-on landing-zone normalizer whose
    cost is exactly one narrow stage; unchunked replay because nothing
    is watermark-driven."""
    replay_dir = core.build_replay_dir(spark, sf_dir)
    s = core.read_events_stream(spark, replay_dir, chunked=False)
    out = s.where(F.col("user_id") != core.SENTINEL_USER).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )
    return core.run_available_now(out, spark)


def stream_converting_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join (completes the join
    family: inner / left-outer / full-outer / semi): clicks that
    converted — followed by ANY purchase from the same user within 30
    minutes — each emitted exactly once, purchase columns never
    materialized. Chunked replay: semi emission is arrival-driven for
    matches, but the dedup-on-first-match bookkeeping is
    watermark-finalized, so the sentinel chunks guarantee a drained,
    deterministic result under AvailableNow."""
    replay_dir = core.build_replay_dir(spark, sf_dir)
    clicks = core.read_events_stream(spark, replay_dir)
    purchases = core.read_events_stream(spark, replay_dir)
    out = core.run_available_now(
        windows.converting_clicks_semi(clicks, purchases), spark
    )
    return out.where(F.col("user_id") != core.SENTINEL_USER)


def stream_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintenance FROM A STREAM: each micro-batch of
    the events replay (4 time-ordered chunks, one batch per chunk) is
    applied to a type-2 history of every user's event_type state via
    ``foreachBatch`` -> ``operators/scd.scd2_merge_batch`` — the
    production shape where a CDC feed continuously maintains the
    dimension table the fact pipeline joins against. The batch oracle
    recomputes the history one-shot with window SQL over all events,
    so the hash match certifies micro-batch-incremental == batch
    recompute THROUGH the streaming engine (batch boundaries must not
    leak into the result; foreachBatch retries are covered by the
    apply's idempotence, tests/test_scd.py). Contract: chunks arrive
    in event-time order with same-timestamp ties never straddling a
    chunk (build_time_split_replay_dir guarantees both), matching the
    CDC apply's non-decreasing-event-time contract."""
    import glob
    import os

    from ..operators.scd import scd2_merge_batch
    from ..tables import derived_cache_dir

    replay = core.build_time_split_replay_dir(spark, sf_dir, n_chunks=4)

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        hist_dir = os.path.join(tmp, "hist")
        ev = core.read_events_stream(spark, replay).select(
            "user_id", "event_type", "ts", "event_id"
        )
        q = (
            ev.writeStream.foreachBatch(
                lambda batch, _id: scd2_merge_batch(
                    spark,
                    hist_dir,
                    batch,
                    key="user_id",
                    attr="event_type",
                    ts="ts",
                    seq="event_id",
                    partitions=4,
                )
            )
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    path = derived_cache_dir(sf_dir, "sscd2", ("events",), build)
    hist_dir = os.path.join(path, "hist")
    if glob.glob(os.path.join(hist_dir, "**", "*.parquet"), recursive=True):
        hist = spark.read.parquet(hist_dir)
    else:
        # empty corpus: every micro-batch was empty, the merge wrote
        # no readable parquet — degrade to the typed empty history
        hist = spark.createDataFrame(
            [],
            "user_id bigint, event_type string, effective_from timestamp, "
            "effective_seq bigint, effective_to timestamp, is_current boolean",
        )
    return hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        "effective_from",
        "effective_seq",
        "effective_to",
        "is_current",
    )


def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP semantics as a hash-checked gate (not
    a doc claim): after the whole month has been aggregated, emitted,
    and evicted, the replay RE-DELIVERS the timeline's first
    {core.LATE_SPLIT_HOURS} hours — the at-least-once upstream
    (Kafka redelivery / backfill replay) every production pipeline
    faces. The stateful aggregation must DROP every re-delivered row
    (each sits weeks below the in-force watermark); admitting one
    would re-emit a finalized group. The oracle is the plain hourly
    aggregate — every group exactly once — so a single admitted late
    row breaks the row-count/hash equality. See
    core.build_late_replay_dir for the measured one-batch-lag
    subtlety in Spark's late filter that dictates the replay shape."""
    replay_dir = core.build_late_replay_dir(spark, sf_dir)
    ev = core.read_events_stream(spark, replay_dir)
    out = core.run_available_now(windows.hourly_counts(ev), spark)
    return out.where(F.col("event_type") != "__sentinel__")


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event delivered twice (two identical stream scans
    unioned); the dedup stage must emit each event_id exactly once."""
    replay_dir = core.build_replay_dir(spark, sf_dir)
    doubled = core.read_events_stream(spark, replay_dir).unionByName(
        core.read_events_stream(spark, replay_dir)
    )
    out = core.run_available_now(windows.dedup_stream(doubled), spark)
    return out.where(F.col("user_id") != core.SENTINEL_USER)


# Session boundary: Spark's session_window merges events while the gap
# is strictly < 30 min (windows are half-open), so a new session starts
# at diff >= 1800000000 us — the oracles use the same >= boundary.
_SESSION_CTE = """
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    flagged AS (
        SELECT user_id, us, cents,
               CASE WHEN us - lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sess AS (
        SELECT user_id, us, cents,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY us
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sid
        FROM flagged
    )
"""

def stream_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable QUANTILE sketch: the stream maintains one
    daily HDR histogram (state = occupied buckets per open day, never
    per event; streaming/windows.hdr_value_histogram), the drained
    sketch rows are finalized batch-side to per-day p50/p95 — the
    serving pattern where percentile dashboards read closed-day
    sketches instead of replaying raw events. Streaming twin of
    hdr_quantile_rollup_values; same integer-exact bucket function,
    so the DuckDB oracle replays the whole pipeline hash-identically.
    Output: (day, n_events, p50_cents, p95_cents)."""
    from pyspark.sql import Window

    from .events import _hdr_bounds

    sk = core.run_available_now(
        windows.hdr_value_histogram(_replay(spark, sf_dir)), spark
    ).where(F.col("bucket") != -1)  # drop the sentinel bucket rows
    # totals via a day-partitioned window (a tot-join back onto the
    # same memory-sink view trips a self-join attribute conflict)
    w = Window.partitionBy("day").orderBy("bucket")
    cum = sk.withColumn("cum", F.sum("n").over(w)).withColumn(
        "n_events", F.sum("n").over(Window.partitionBy("day"))
    )
    est = cum.groupBy("day", "n_events").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n_events")), F.col("bucket"))
        ).alias("p50_bucket"),
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(0.95) * F.col("n_events")), F.col("bucket"))
        ).alias("p95_bucket"),
    )
    lo50, _ = _hdr_bounds("p50_bucket")
    lo95, _ = _hdr_bounds("p95_bucket")
    return est.select(
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        lo50.cast("long").alias("p50_cents"),
        lo95.cast("long").alias("p95_cents"),
    )


def stream_txlog_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming ingestion into the transactional table
    (sources/txlog.py): each micro-batch of the 4-chunk time-ordered
    replay lands as ONE atomic txlog commit carrying the Delta-style
    idempotence pair (app_id, txn_version=batch_id) — and the
    foreachBatch body deliberately appends EVERY batch TWICE, so the
    second call is a simulated at-least-once redelivery that the
    manifest's txn map must drop as a no-op. The certified equality
    against the plain batch oracle therefore proves the production
    streaming-sink contract end to end: at-least-once delivery +
    idempotent transactional commits = exactly-once table state.
    Output: per event type, row count / value cents / id bounds read
    back from the FINAL table version."""
    import os

    from ..sources import txlog
    from ..tables import derived_cache_dir, load_table

    def shape(df: DataFrame) -> DataFrame:
        return df.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )

    replay = core.build_time_split_replay_dir(spark, sf_dir, n_chunks=4)

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        root = os.path.join(tmp, "table")
        # v0 = the typed empty table (schema from the batch transform)
        txlog.create_table(
            spark, root, shape(load_table(spark, sf_dir, "events")).limit(0)
        )

        def apply(batch: DataFrame, bid: int) -> None:
            b = shape(batch)
            txlog.append(spark, root, b, app_id="stream_etl", txn_version=bid)
            # simulated at-least-once redelivery: MUST no-op
            txlog.append(spark, root, b, app_id="stream_etl", txn_version=bid)

        ev = core.read_events_stream(spark, replay)
        q = (
            ev.writeStream.foreachBatch(apply)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    path = derived_cache_dir(sf_dir, "stxlog", ("events",), build)
    final = txlog.read_table(spark, os.path.join(path, "table"))
    return final.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


def _hdr_stream_oracle_sql() -> str:
    from .events import HDR_SUBBITS

    m, top, half = HDR_SUBBITS, 1 << 10, 1 << 9

    def decode(col: str) -> str:
        return (
            f"CAST(CASE WHEN {col} < {top} THEN {col} "
            f"ELSE ({half} + ({col} - {top}) % {half})"
            f" << (({col} - {top}) // {half} + 1) END AS BIGINT)"
        )

    return f"""
        WITH ev AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(floor(value * 100) AS BIGINT) AS cents
            FROM events
            WHERE CAST(floor(value * 100) AS BIGINT) >= 1
        ),
        bk AS (
            SELECT day,
                   CASE WHEN length(bin(cents)) <= {m} THEN cents
                        ELSE {top} + (length(bin(cents)) - {m + 1}) * {half}
                             + ((cents >> (length(bin(cents)) - {m}))
                                - {half})
                   END AS bucket
            FROM ev
        ),
        sk AS (SELECT day, bucket, count(*) AS n FROM bk GROUP BY 1, 2),
        tot AS (SELECT day, sum(n) AS n_events FROM sk GROUP BY 1),
        cum AS (
            SELECT s.day, s.bucket, t.n_events,
                   sum(s.n) OVER (PARTITION BY s.day ORDER BY s.bucket)
                       AS cum
            FROM sk s JOIN tot t USING (day)
        ),
        est AS (
            SELECT day, n_events,
                   min(CASE WHEN cum >= ceil(0.5 * n_events)
                            THEN bucket END) AS p50_bucket,
                   min(CASE WHEN cum >= ceil(0.95 * n_events)
                            THEN bucket END) AS p95_bucket
            FROM cum GROUP BY day, n_events
        )
        SELECT day, CAST(n_events AS BIGINT) AS n_events,
               {decode("p50_bucket")} AS p50_cents,
               {decode("p95_bucket")} AS p95_cents
        FROM est
    """


STREAMS_ORACLES: dict[str, str] = {
    "stream_hdr_quantiles": _hdr_stream_oracle_sql(),
    # duplicate deliveries dropped by the txn map => the table equals
    # the plain batch aggregate, exactly once
    "stream_txlog_append": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               min(event_id) AS min_id,
               max(event_id) AS max_id
        FROM events
        GROUP BY event_type
    """,
    "stream_events_etl": """
        SELECT event_id, user_id, event_type,
               date_trunc('hour', ts) AS hour,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
    """,
    "stream_sliding_counts": """
        WITH wins AS (
            SELECT event_type,
                   unnest([time_bucket(INTERVAL '30 minutes', ts),
                           time_bucket(INTERVAL '30 minutes', ts)
                               - INTERVAL '30 minutes']) AS win_start
            FROM events
        )
        SELECT win_start, event_type, count(*) AS n_events
        FROM wins GROUP BY 1, 2
    """,
    "stream_static_hourly": """
        SELECT date_trunc('hour', e.ts) AS hour,
               c.c_mktsegment AS segment,
               count(*) AS n_events,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    "stream_dedup_events": """
        SELECT event_id, ts, user_id, event_type FROM events
    """,
    "stream_purchase_click_join": """
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts < c.ts + INTERVAL '30 minutes'
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    "stream_click_attribution": """
        WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
                   FROM events WHERE event_type = 'click'),
             p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
                   FROM events WHERE event_type = 'purchase')
        SELECT c.user_id,
               c.click_id,
               COALESCE(p.purchase_id, -1) AS purchase_id,
               COALESCE(epoch_us(p.purchase_ts) - epoch_us(c.click_ts), -1)
                   AS lag_us
        FROM c
        LEFT JOIN p
          ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts < c.click_ts + INTERVAL '30 minutes'
    """,
    "stream_click_purchase_full": """
        WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
                   FROM events WHERE event_type = 'click'),
             p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
                   FROM events WHERE event_type = 'purchase')
        SELECT COALESCE(c.user_id, p.user_id) AS user_id,
               COALESCE(c.click_id, -1) AS click_id,
               COALESCE(p.purchase_id, -1) AS purchase_id,
               COALESCE(epoch_us(p.purchase_ts) - epoch_us(c.click_ts), -1)
                   AS lag_us
        FROM c
        FULL OUTER JOIN p
          ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts < c.click_ts + INTERVAL '30 minutes'
    """,
    "stream_converting_clicks": """
        SELECT c.user_id,
               c.event_id AS click_id,
               epoch_us(c.ts) AS click_us
        FROM events c
        WHERE c.event_type = 'click'
          AND EXISTS (
              SELECT 1 FROM events p
              WHERE p.event_type = 'purchase'
                AND p.user_id = c.user_id
                AND p.ts >= c.ts
                AND p.ts < c.ts + INTERVAL '30 minutes'
          )
    """,
    "stream_hourly_counts": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    # the PLAIN hourly aggregate — each group exactly once. The replay
    # re-delivers the first two hours after their windows were emitted
    # and evicted; equality holds only if every re-delivered row was
    # dropped by the watermark (an admitted one re-emits its group and
    # breaks the row count).
    "stream_late_data_drop": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "stream_session_stats": _SESSION_CTE + """
        SELECT user_id,
               min(us) AS session_start_us,
               count(*) AS n_events,
               CAST(sum(cents) AS BIGINT) AS value_cents
        FROM sess GROUP BY user_id, sid
    """,
    "stream_stateful_sessions": _SESSION_CTE + """
        SELECT user_id,
               min(us) AS session_start_us,
               max(us) AS session_end_us,
               count(*) AS n_events,
               CAST(sum(cents) AS BIGINT) AS value_cents
        FROM sess GROUP BY user_id, sid
    """,
}

# One-shot window-SQL recompute of the SCD2 history the streaming side
# maintains micro-batch by micro-batch through foreachBatch (see
# plans/relational.scd2_customer_priority for the batch twin).
STREAMS_ORACLES["stream_scd2_user_state"] = """
    WITH ch AS (
        SELECT user_id, event_type, ts AS d, event_id AS s FROM events
    ),
    runs AS (
        SELECT user_id, event_type, d, s FROM (
            SELECT ch.*,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY d, s) AS prev
            FROM ch
        ) WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type AS state, d AS effective_from,
           s AS effective_seq,
           lead(d) OVER (PARTITION BY user_id ORDER BY d, s)
               AS effective_to,
           (lead(d) OVER (PARTITION BY user_id ORDER BY d, s)) IS NULL
               AS is_current
    FROM runs
"""
